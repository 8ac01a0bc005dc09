"""Deterministic benchmark inputs, generated from a seed.

Two families:

- ``write_tables``: the ten fixture tables the query registry reads
  (``region nation customer supplier part orders lineitem events documents
  embeddings``), one parquet file each, with the schemas, key ranges and
  value domains of the engine's sf0.1 fixtures (FIXTURES.md): uniform
  foreign keys, 30-word document vocabulary with 5% ``" dup"``
  near-duplicates, random unit 64-d embeddings.
- ``write_avro_folder``: a hive-partitioned small-files Avro folder of
  lineitem rows (``l_returnflag=*/l_linestatus=*`` leaves, snappy, uneven
  file sizes) for the compaction workload.

Everything is a pure function of ``(scale, seed)``: the same arguments
write byte-identical parquet and the same Avro records.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1.0; sf0.1 is the benchmark's query scale.
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
EVENT_USERS_PER_SF = 15_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DUP_SHARE = 0.05
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)
_DAY_US = 86_400_000_000


def _rows(name: str, scale: float) -> int:
    return max(1, round(ROWS_PER_SF[name] * scale))


def _ts_us(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - _EPOCH).total_seconds()) * 1_000_000
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def lineitem_table(rng: np.random.Generator, n: int, n_orders: int,
                   n_parts: int, n_supp: int) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, RETURN_FLAGS, n),
        "l_linestatus": _pick(rng, LINE_STATUS, n),
        "l_shipdate": _ts_us(
            dt.datetime(1995, 1, 2), rng.integers(0, 2499, n) * _DAY_US
        ),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    is_dup = rng.random(n) < DUP_SHARE
    base = rng.integers(0, np.maximum(np.arange(n), 1))
    texts: list[str] = []
    pos = 0
    for i in range(n):
        own = " ".join(VOCAB[w] for w in words[pos:pos + lengths[i]])
        pos += lengths[i]
        # a near-duplicate repeats an earlier document plus one marker word
        texts.append(texts[base[i]] + " dup" if is_dup[i] and i else own)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.normal(0.0, 1.0, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """All ten fixture tables at ``scale`` (sf), as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = {name: _rows(name, scale) for name in ROWS_PER_SF}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": _pick(rng, names, npart),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(npart) % 1000) / 10.0),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ORDER_STATUS, no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": _ts_us(
            dt.datetime(1995, 1, 1), rng.integers(0, 2405, no) * _DAY_US
        ),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    t["lineitem"] = lineitem_table(rng, n["lineitem"], no, npart, ns)
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts_us(
            dt.datetime(2024, 1, 1),
            np.sort(rng.integers(0, 30 * _DAY_US, ne)),
        ),
        "user_id": pa.array(
            rng.integers(0, max(1, round(EVENT_USERS_PER_SF * scale)), ne),
            pa.int64(),
        ),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(out_dir: str, scale: float, seed: int) -> None:
    """Write every table as ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


# ---------------------------------------------------------------------------
# Small-files Avro folder for the compaction workload
# ---------------------------------------------------------------------------

PARTITION_COLS = ("l_returnflag", "l_linestatus")
AVRO_SCHEMA = {
    "type": "record",
    "name": "lineitem",
    "fields": [
        {"name": "l_orderkey", "type": "long"},
        {"name": "l_partkey", "type": "long"},
        {"name": "l_suppkey", "type": "long"},
        {"name": "l_linenumber", "type": "int"},
        {"name": "l_quantity", "type": "double"},
        {"name": "l_extendedprice", "type": "double"},
        {"name": "l_discount", "type": "double"},
        {"name": "l_tax", "type": "double"},
        {"name": "l_shipdate", "type": {"type": "int", "logicalType": "date"}},
    ],
}


def avro_rows(rows: int, seed: int) -> pa.Table:
    """The compaction input as one Arrow table (partition columns included,
    ``l_shipdate`` as a date)."""
    rng = np.random.default_rng(seed)
    t = lineitem_table(rng, rows, max(1, rows // 4), 20_000, 1_000)
    ship = t["l_shipdate"].cast(pa.date32())
    return t.set_column(t.schema.get_field_index("l_shipdate"), "l_shipdate", ship)


def write_avro_folder(root: str, table: pa.Table, n_files: int, seed: int,
                      codec: str = "snappy") -> list[str]:
    """Split ``table`` into about ``n_files`` Avro files of uneven size under
    hive leaves ``l_returnflag=*/l_linestatus=*`` (at least two files per
    leaf, so every leaf is compactable). Returns the leaf directories."""
    from spark_dba_spark.sources import avro_codec as ac

    rng = np.random.default_rng(seed + 1)
    cols = [f["name"] for f in AVRO_SCHEMA["fields"]]
    keys = list(zip(*(table[c].to_pylist() for c in PARTITION_COLS)))
    leaves: dict[tuple, list[int]] = {}
    for i, k in enumerate(keys):
        leaves.setdefault(k, []).append(i)
    out = []
    for (rf, ls), idx in sorted(leaves.items()):
        leaf = os.path.join(root, f"l_returnflag={rf}", f"l_linestatus={ls}")
        os.makedirs(leaf, exist_ok=True)
        part = table.take(pa.array(idx)).select(cols).to_pylist()
        k = max(2, round(n_files * len(idx) / table.num_rows))
        cuts = np.sort(rng.choice(np.arange(1, len(part)), k - 1, replace=False))
        bounds = [0, *cuts.tolist(), len(part)]
        for f in range(k):
            blob = ac.write_container(part[bounds[f]:bounds[f + 1]], AVRO_SCHEMA,
                                      codec)
            with open(os.path.join(leaf, f"part-{f:05d}.avro"), "wb") as fh:
                fh.write(blob)
        out.append(leaf)
    return out
