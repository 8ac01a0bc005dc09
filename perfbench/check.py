"""Output fingerprints the benchmark checks every timed result against.

Query results: the rows are canonicalized with the DuckDB-oracle checker's
``normalize`` (tools/check_oracle.py: column order by name, rows sorted,
decimals scale-normalized) after rounding every float to 6 significant
digits, then hashed. Spark's float aggregates are summed in shuffle-arrival
order, so their last bits vary from run to run; six significant digits keep
that noise out of the hash while any real value change still shows.

Compaction results: the multiset of the compacted output's rows (decoded
in the driver) must equal the multiset of the generated input rows.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import math
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


@functools.cache
def oracle_checker():
    """tools/check_oracle.py as a module (its ``normalize`` and the DuckDB
    comparator)."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "tools" / "check_oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _round_floats(v):
    if isinstance(v, float) and math.isfinite(v) and v != 0.0:
        return float(f"{v:.6g}")
    if isinstance(v, (list, tuple)):
        return type(v)(_round_floats(x) for x in v)
    return v


def query_fingerprint(rows, cols: list[str]) -> dict:
    """``{"rows": n, "sha256": hex}`` of one query result."""
    canon = oracle_checker().normalize(
        [tuple(_round_floats(x) for x in r) for r in rows], cols
    )
    digest = hashlib.sha256(repr((sorted(cols), canon)).encode()).hexdigest()
    return {"rows": len(canon), "sha256": digest}


def table_rows(table, cols: list[str]) -> Counter:
    """Multiset of an Arrow table's rows over ``cols``."""
    return Counter(zip(*(table[c].to_pylist() for c in cols)))


def folder_rows(root: Path, cols: list[str]) -> Counter:
    """Multiset of the rows stored in the visible ``.avro`` files under a
    hive-partitioned folder, decoded with the engine's codec; partition
    values come from the ``k=v`` directory names."""
    from spark_dba_spark.sources import avro_codec as ac

    rows: Counter = Counter()
    for f in sorted(root.rglob("*.avro")):
        if f.name.startswith((".", "_")):
            continue
        part = dict(seg.split("=", 1) for seg in f.relative_to(root).parent.parts)
        for rec in ac.read_container(f.read_bytes()):
            rec.update(part)
            rows[tuple(rec[c] for c in cols)] += 1
    return rows
