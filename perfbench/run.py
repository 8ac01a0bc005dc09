"""The engine's benchmark: three closed-loop workloads, one client each.

    python3 perfbench/run.py --workload tpch_sf01 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see perfbench/README.md):

- ``tpch_sf01``   the 10 JVM-only bench queries over generated sf0.1 tables;
- ``llm_sf01``    the 4 LLM-pipeline bench queries over the same tables;
- ``compact_avro`` ``compact()`` of a generated small-files Avro folder.

One run: start a ``local[nproc]`` session, generate the inputs, warm up
(all billed to ``setup_s``), then repeat the workload's operation set one
at a time until ``--seconds`` have passed (at least ``MIN_REPS`` times).
Every output is checked outside the timed region. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` adds one traced repetition after the
plain ones and prints the per-layer metrics (perfbench/trace.py). The last
stdout line is the result JSON; the line before it holds run details.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent

TPCH_QUERIES = (
    "q01_pricing_summary", "q02_scan_filter_project", "q03_shipping_priority",
    "q05_local_supplier_volume", "q10_returned_item", "join_broadcast_dim",
    "agg_distinct", "window_topk_per_group", "ev_tumbling_1h",
    "json_extract_events",
)
LLM_QUERIES = (
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "sim_cosine_topk",
    "text_quality",
)
WORKLOADS = ("tpch_sf01", "llm_sf01", "compact_avro")

# Query inputs are fixed (their expected fingerprints are committed in
# expected.json); the run seed only orders the queries within each pass.
QUERY_SCALE = 0.1
WARM_SCALE = 0.01
DATA_SEED = 42
# Compaction input: generated from the run seed.
AVRO_ROWS = 30_000
AVRO_FILES = 60
WARM_AVRO_ROWS = 600
WARM_AVRO_FILES = 12
# Repetitions per run: at least this many, and more while --seconds last.
MIN_REPS = 2

END_TO_END_UNITS = {
    "wall_s": "s", "geomean_query_s": "s", "rows_per_s": "1/s",
    "mb_per_s": "MB/s", "peak_rss_mb": "MB", "setup_s": "s",
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _load1() -> float:
    return float(Path("/proc/loadavg").read_text().split()[0])


def _mem_total_mb() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _vm_hwm_mb(pid: int) -> float:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _avro_files(path: Path) -> list[Path]:
    """Visible ``.avro`` files under ``path`` (hidden and ``_``-prefixed
    files are not data, by the engine's convention)."""
    return sorted(
        f for f in path.rglob("*.avro")
        if f.is_file() and not f.name.startswith((".", "_"))
    )


def _size(files: list[Path]) -> int:
    return sum(f.stat().st_size for f in files)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


@contextlib.contextmanager
def _no_span(name: str, root: bool = False):
    yield


class Session:
    """One ``local[nproc]`` SparkSession sized from this host, confined to
    the work directory, with the engine importable in Python workers."""

    def __init__(self, work: Path, event_log: Path | None):
        self.cpus = len(os.sched_getaffinity(0))
        self.heap_mb = max(1024, min(3072, _mem_total_mb() // 4))
        tmp = work / "tmp"
        local = work / "spark-local"
        for d in (tmp, local):
            d.mkdir(parents=True, exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        )
        # Keep every write inside the checkout: temp files, Spark's scratch
        # space, and no JVM perf-data files under /tmp.
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        confs = {
            "spark.ui.showConsoleProgress": "false",
            # A fixed, pre-touched heap: peak RSS then moves only with
            # off-heap, metaspace and Python memory, not with GC timing.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{self.heap_mb}m -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
        ) + " pyspark-shell"
        from spark_dba_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", cpus=self.cpus, driver_memory=f"{self.heap_mb}m"
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        from pyspark import SparkContext

        self._proc = getattr(SparkContext._gateway, "proc", None)

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def peak_rss_mb(self) -> float:
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        jvm = _vm_hwm_mb(self._proc.pid) if self._proc is not None else 0.0
        return own + jvm

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python daemon) to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
        if self._proc is not None:
            if self._proc.stdin is not None:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# Query workloads
# ---------------------------------------------------------------------------


class QueryWorkload:
    """One pass = every query built and collected once, in seeded order."""

    def __init__(self, name: str, s: Session, work: Path, seed: int):
        from spark_dba_spark import registry

        from perfbench import gen

        self.s = s
        self.names = TPCH_QUERIES if name == "tpch_sf01" else LLM_QUERIES
        specs = registry.all_specs()
        self.builders = {n: specs[n].builder for n in self.names}
        self.expected = json.loads((HERE / "expected.json").read_text())
        self.rng = random.Random(seed)
        self.data = work / "data"
        warm = work / "warm"
        gen.write_tables(str(self.data), QUERY_SCALE, DATA_SEED)
        gen.write_tables(str(warm), WARM_SCALE, DATA_SEED)
        self.tables = self._warm_up(warm)

    def _warm_up(self, warm: Path) -> dict[str, set[str]]:
        """Run every query once at ``WARM_SCALE`` (class loading, JIT,
        codegen, Python workers, shuffle plan shapes) and note which fixture
        tables each loads. A warm-up pass at the target scale would cost
        ~10 s a run, more than the benchmark's time limit leaves; the first
        timed pass carries that first touch instead."""
        from spark_dba_spark import catalog

        seen: dict[str, set[str]] = {}
        orig = catalog.load

        def spy(spark, sf_dir, name):
            seen.setdefault(current, set()).add(name)
            return orig(spark, sf_dir, name)

        catalog.load = spy
        try:
            for current in self.names:
                self.builders[current](self.s.spark, str(warm)).collect()
        finally:
            catalog.load = orig
        return seen

    def input_mb(self) -> float:
        total = 0
        for n in self.names:
            for t in self.tables.get(n, ()):
                total += (self.data / f"{t}.parquet").stat().st_size
        return total / 1e6

    def run_op(self, name: str, tag: str, tracer=None) -> dict:
        s = self.s
        span = tracer.span if tracer is not None else _no_span
        with span("op", root=True):
            s.group(f"{tag}{name}#build")
            t0 = time.perf_counter()
            with span("build"):
                df = self.builders[name](s.spark, str(self.data))
            t1 = time.perf_counter()
            s.group(f"{tag}{name}")
            with span("collect"):
                rows = df.collect()
            t2 = time.perf_counter()
            out = {"name": name, "build_s": t1 - t0, "collect_s": t2 - t1,
                   "wall_s": t2 - t0, "rows": len(rows)}
            if tracer is not None:
                # transfer = collect minus a driverless run of the same plan
                s.group(f"{tag}{name}#noop")
                t3 = time.perf_counter()
                with span("noop"):
                    df.write.format("noop").mode("overwrite").save()
                out["noop_s"] = time.perf_counter() - t3
        out["cols"] = df.columns
        out["result"] = rows
        return out

    def check(self, op: dict) -> str | None:
        from perfbench.check import query_fingerprint

        got = query_fingerprint(op.pop("result"), op.pop("cols"))
        want = self.expected[op["name"]]
        if got != want:
            return f"{op['name']}: fingerprint {got} != expected {want}"
        return None

    def run_pass(self, tag: str, tracer=None) -> dict:
        order = list(self.names)
        self.rng.shuffle(order)
        ops, errors = [], []
        for name in order:
            try:
                op = self.run_op(name, tag, tracer)
            except Exception as exc:  # a failed operation is counted, not fatal
                errors.append(f"{name}: {exc!r}")
                continue
            err = self.check(op)
            if err:
                errors.append(err)
            ops.append(op)
        wall = sum(op["wall_s"] for op in ops)
        return {"ops": ops, "errors": errors, "attempted": len(order),
                "wall_s": wall, "rows": sum(op["rows"] for op in ops)}


# ---------------------------------------------------------------------------
# Compaction workload
# ---------------------------------------------------------------------------


class CompactWorkload:
    """One repetition = one overwrite-mode ``compact()`` of the folder."""

    def __init__(self, name: str, s: Session, work: Path, seed: int):
        from perfbench import gen
        from perfbench.check import table_rows

        self.s = s
        self.work = work
        self.src = work / "src"
        self.table = gen.avro_rows(AVRO_ROWS, seed)
        self.leaves = gen.write_avro_folder(
            str(self.src), self.table, AVRO_FILES, seed
        )
        src_files = _avro_files(self.src)
        self.src_bytes = _size(src_files)
        self.src_files = len(src_files)
        self.cols = list(self.table.column_names)
        self.want = table_rows(self.table, self.cols)
        # Warm-up: compact a small folder of the same shape once.
        warm = work / "warm_src"
        gen.write_avro_folder(
            str(warm), gen.avro_rows(WARM_AVRO_ROWS, seed + 7),
            WARM_AVRO_FILES, seed + 7,
        )
        res = self._compact(warm, work / "warm_tgt")
        if not res.success:
            raise RuntimeError(f"warm-up compaction failed: {res.errors}")

    def params(self, src: Path, tgt: Path):
        from spark_dba_spark.plans.compact import CompactionParams

        return CompactionParams(
            source=str(src), target=str(tgt), fmt="avro", overwrite=True,
            tmp_folder=str(self.work / "tmp_c"),
            trash_folder=str(self.work / "trash"),
        )

    def _reset(self, src: Path, tgt: Path) -> None:
        """Outside the timed region: empty tmp, trash and target, then seed
        the target with one old file per leaf so the job's trash-then-swap
        commit has a previous version to move away."""
        for d in ("tmp_c", "trash"):
            shutil.rmtree(self.work / d, ignore_errors=True)
            (self.work / d).mkdir()
        shutil.rmtree(tgt, ignore_errors=True)
        for leaf in sorted({p.parent for p in _avro_files(src)}):
            dst = tgt / leaf.relative_to(src)
            dst.mkdir(parents=True)
            shutil.copy(_avro_files(leaf)[0], dst / "old.avro")

    def _compact(self, src: Path, tgt: Path):
        from spark_dba_spark.plans.compact import compact

        self._reset(src, tgt)
        return compact(self.s.spark, self.params(src, tgt))

    def expected_files(self) -> int:
        from spark_dba_spark.plans.compact import planned_file_count

        p = self.params(self.src, self.work / "tgt")
        return sum(
            planned_file_count(p, _size(_avro_files(Path(leaf))))
            for leaf in self.leaves
        )

    def check(self, res, tgt: Path) -> list[str]:
        from perfbench.check import folder_rows

        errors = []
        bad = {k: v for k, v in res.partitions.items() if v != "SUCCESS"}
        if not res.success or bad or len(res.partitions) != len(self.leaves):
            errors.append(f"compact: statuses {res.partitions} {res.errors}")
        n_out = len(_avro_files(tgt))
        if n_out != self.expected_files():
            errors.append(f"compact: {n_out} files != planned {self.expected_files()}")
        if not (tgt / ".defraglog").is_file():
            errors.append("compact: no .defraglog in target")
        try:
            got = folder_rows(tgt, self.cols)
        except Exception as exc:  # unreadable output is a failed operation
            errors.append(f"compact: output unreadable: {exc!r}")
        else:
            if got != self.want:
                errors.append(
                    f"compact: {got.total()} output rows != {self.want.total()} "
                    f"input rows ({len(got - self.want)} unexpected distinct)"
                )
        return errors

    def run_pass(self, tag: str, tracer=None) -> dict:
        from spark_dba_spark.plans.compact import compact

        tgt = self.work / "tgt"
        self._reset(self.src, tgt)
        self.s.group(f"{tag}compact")
        span = tracer.span if tracer is not None else _no_span
        t0 = time.perf_counter()
        try:
            with span("compact", root=True):
                res = compact(self.s.spark, self.params(self.src, tgt))
            wall = time.perf_counter() - t0
        except Exception as exc:
            return {"ops": [], "errors": [f"compact: {exc!r}"], "attempted": 1,
                    "wall_s": 0.0, "rows": 0}
        finally:
            if tracer is not None:  # outputs are checked untraced
                tracer.uninstall()
        errors = self.check(res, tgt)
        out = _avro_files(tgt)
        op = {"name": "compact", "wall_s": wall, "rows": self.table.num_rows,
              "out_bytes": _size(out), "out_files": len(out)}
        return {"ops": [op], "errors": errors, "attempted": 1, "wall_s": wall,
                "rows": self.table.num_rows}

    def input_mb(self) -> float:
        return self.src_bytes / 1e6


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


def op_medians(passes: list[dict]) -> dict[str, float]:
    """Median wall of each operation over the passes it succeeded in."""
    per_op: dict[str, list[float]] = {}
    for p in passes:
        for op in p["ops"]:
            per_op.setdefault(op["name"], []).append(op["wall_s"])
    return {name: _median(v) for name, v in per_op.items()}


def end_to_end(wl, passes: list[dict], setup_s: float, s: Session) -> dict:
    walls = [p["wall_s"] for p in passes if not p["errors"]] or [
        p["wall_s"] for p in passes
    ]
    medians = op_medians(passes)
    geo = math.exp(
        statistics.fmean(math.log(max(v, 1e-9)) for v in medians.values())
    ) if medians else 0.0
    wall = _median(walls)
    rows = _median([p["rows"] / p["wall_s"] for p in passes if p["wall_s"] > 0])
    values = {
        "wall_s": wall,
        "geomean_query_s": geo,
        "rows_per_s": rows,
        "mb_per_s": wl.input_mb() / wall if wall > 0 else 0.0,
        "peak_rss_mb": s.peak_rss_mb(),
        "setup_s": setup_s,
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def run_all(args) -> int:
    """Run each workload listed in BENCHMARK.json in its own process and
    print ``{"workload": name, **result}`` for each."""
    names = [w["name"] for w in json.loads(
        (ROOT / "BENCHMARK.json").read_text())["workloads"]]
    rc = 0
    for name in names:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace",
             str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        rc = rc or proc.returncode
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else {
            "error": f"exit code {proc.returncode}"}
        print(json.dumps({"workload": name, **result}), flush=True)
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="'all' runs every workload in BENCHMARK.json, each "
                    "in its own process, and prints one result line each")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    if not (ROOT / "spark_dba_spark").is_dir() or not (ROOT / "tools").is_dir():
        _log(f"engine sources not found under {ROOT}; run from a full checkout")
        return 2

    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    load_start = _load1()

    t0 = time.perf_counter()
    s = Session(work, work / "eventlog" if args.trace else None)
    session_s = time.perf_counter() - t0
    try:
        cls = CompactWorkload if args.workload == "compact_avro" else QueryWorkload
        wl = cls(args.workload, s, work, args.seed)
        # setup = session start + input generation + warm-up, measured once:
        # a JVM starts once per process, so it cannot be repeated in a run.
        setup_s = time.perf_counter() - t0
        _log(f"setup {setup_s:.2f}s (session {session_s:.2f}s)")

        detail = {"workload": args.workload, "seed": args.seed,
                  "cpus": s.cpus, "driver_heap_mb": s.heap_mb,
                  "setup_s": setup_s, "loadavg_start": load_start}
        if args.trace:
            from perfbench.trace import PER_LAYER, traced_run

            traced = traced_run(wl, s, work, args.workload, args.seconds, MIN_REPS)
            errors, attempted = traced["errors"], traced["attempted"]
            metrics = {
                k: {"value": traced["metrics"][k], "unit": unit}
                for k, (unit, _) in PER_LAYER.items()
            }
        else:
            passes = []
            deadline = time.perf_counter() + args.seconds
            while len(passes) < MIN_REPS or time.perf_counter() < deadline:
                passes.append(wl.run_pass(f"p{len(passes)}/"))
            errors = [e for p in passes for e in p["errors"]]
            attempted = sum(p["attempted"] for p in passes)
            metrics = end_to_end(wl, passes, setup_s, s)
            detail["pass_walls_s"] = [round(p["wall_s"], 4) for p in passes]
            detail["op_median_s"] = {
                n: round(v, 4) for n, v in op_medians(passes).items()
            }
        for e in errors:
            _log(f"FAILED {e}")
        detail["fail_ratio"] = len(errors) / attempted
        detail["loadavg_end"] = _load1()
        print(json.dumps({"detail": detail}))
        result = {"correct": not errors, "attempted": attempted,
                  "failed": len(errors), "metrics": metrics}
    finally:
        s.stop()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    raise SystemExit(main())
