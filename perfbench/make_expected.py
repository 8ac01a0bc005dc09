"""Regenerate perfbench/expected.json: one fingerprint per bench query.

    python3 perfbench/make_expected.py

Generates the query workloads' fixed inputs, runs every query on Spark and
its oracle SQL on DuckDB (tools/check_oracle.py's comparator: columns,
output type classes, normalized values), and records the Spark result's
fingerprint only when both engines agree and both fingerprints match.
Writes nothing if any query disagrees.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import gen, run  # noqa: E402
from perfbench.check import oracle_checker, query_fingerprint  # noqa: E402


def main() -> int:
    work = ROOT / ".perfbench_work" / "expected"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    s = run.Session(work, None)
    try:
        oracle = oracle_checker()
        from spark_dba_spark import registry

        data = work / "data"
        gen.write_tables(str(data), run.QUERY_SCALE, run.DATA_SEED)
        con = oracle.duck_connection(str(data))
        specs = registry.all_specs()
        expected, failures = {}, []
        for name in run.TPCH_QUERIES + run.LLM_QUERIES:
            t0 = time.perf_counter()
            ok, msg, _ = oracle.compare(name, s.spark, con, specs[name], str(data))
            df = specs[name].builder(s.spark, str(data))
            fp = query_fingerprint(df.collect(), df.columns)
            res = con.execute(specs[name].oracle)
            cols = [d[0] for d in res.description]
            duck = query_fingerprint(
                [tuple(r.values()) for r in res.fetch_arrow_table().to_pylist()],
                cols,
            )
            if not ok or fp != duck:
                failures.append(f"{name}: {msg} spark={fp} duck={duck}")
            expected[name] = fp
            print(f"{name:28s} {'OK' if ok and fp == duck else 'FAIL'} "
                  f"rows={fp['rows']} {time.perf_counter() - t0:.1f}s", flush=True)
    finally:
        s.stop()
    if failures:
        print("\n".join(failures), file=sys.stderr)
        return 1
    (HERE / "expected.json").write_text(json.dumps(expected, indent=2) + "\n")
    print(f"wrote {HERE / 'expected.json'}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
