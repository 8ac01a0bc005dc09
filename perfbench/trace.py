"""Traced run: per-layer metrics from spans around the engine's public
functions, Spark's event log and a byte-counting filesystem.

Spans are recorded in memory (name, start, end, parent) by wrappers the
benchmark installs around module attributes of the engine for the traced
repetition only, and folded into metrics at the end. A layer's self time is
its spans' duration minus the part covered by their child spans. Nothing
under ``spark_dba_spark/`` is edited: the wrappers replace attributes at
run time and are removed before outputs are checked.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import types
from collections import Counter, defaultdict
from pathlib import Path

from perfbench import eventlog, tracefs

# span name -> self-time metric
SELF_METRICS = {
    "op": "self.op_s", "build": "self.build_s", "catalog": "self.catalog_s",
    "collect": "self.collect_s", "noop": "self.noop_s",
    "compact": "self.compact_s", "partition": "self.partition_s",
    "schema": "self.schema_s", "avro_spark.read": "self.avro_read_s",
    "avro_spark.write": "self.avro_write_s", "fsops": "self.fsops_s",
    "logger": "self.logger_s",
}
PHASES = ("preflight", "schema", "read", "write", "verify", "commit")

# Every per-layer metric a traced run prints: name -> (unit, better).
# Layers a workload bypasses report 0.
PER_LAYER = {
    "build_s": ("s", "lower"), "build_jobs": ("count", "lower"),
    "catalog.load_s": ("s", "lower"), "catalog.load_calls": ("count", "lower"),
    "catalog.memo_hit_ratio": ("ratio", "higher"),
    "catalog.repartitions": ("count", "lower"),
    "exec.collect_s": ("s", "lower"), "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"), "exec.tasks": ("count", "lower"),
    "exec.failed_tasks": ("count", "lower"),
    "exec.task_s": ("s", "lower"), "exec.cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"), "exec.sched_delay_s": ("s", "lower"),
    "exec.input_mb": ("MB", "lower"), "exec.shuffle_write_mb": ("MB", "lower"),
    "exec.shuffle_read_mb": ("MB", "lower"), "exec.spill_mb": ("MB", "lower"),
    "exec.peak_mem_mb": ("MB", "lower"), "exec.task_skew": ("ratio", "lower"),
    "python.sent_mb": ("MB", "lower"), "python.returned_mb": ("MB", "lower"),
    "transfer.rows": ("count", "lower"), "transfer.s": ("s", "lower"),
    "fsops.calls": ("count", "lower"), "fsops.s": ("s", "lower"),
    "avro_codec.decode_rows_per_s": ("1/s", "higher"),
    "avro_codec.encode_rows_per_s": ("1/s", "higher"),
    "avro_spark.read_tasks": ("count", "lower"),
    "avro_spark.files_written": ("count", "lower"),
    **{f"compact.{p}_s": ("s", "lower") for p in PHASES},
    "compact.audit_s": ("s", "lower"), "compact.pool_s": ("s", "lower"),
    "compact.concurrency": ("ratio", "higher"),
    "compact.unaccounted_s": ("s", "lower"),
    "compact.read_amp": ("ratio", "lower"), "compact.write_amp": ("ratio", "lower"),
    "compact.bytes_out_per_in": ("ratio", "lower"),
    "compact.file_reduction": ("ratio", "higher"),
    **{m: ("s", "lower") for m in SELF_METRICS.values()},
    "trace.plain_wall_s": ("s", "lower"), "trace.wall_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


class Tracer:
    def __init__(self, session, tag: str, io_dir: Path):
        self.s = session
        self.tag = tag
        self.io_dir = io_dir
        io_dir.mkdir(parents=True, exist_ok=True)
        self.spans: list[tuple[str, float, float, int, int | None]] = []
        self.counts: Counter = Counter()
        self.phase_s: defaultdict = defaultdict(float)
        self.partition_times: list[tuple[float, float]] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._next_id = 0
        self._root: int | None = None
        self._seen_loads: dict[tuple, object] = {}

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False):
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else self._root
        if root:
            self._root = sid
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if root:
                self._root = None
            with self._lock:
                self.spans.append((name, t0, t1, sid, parent))

    def _in(self, name: str) -> bool:
        names = getattr(self._local, "names", None)
        return bool(names) and name in names

    @contextlib.contextmanager
    def outer_span(self, name: str):
        """A span only for the outermost of nested calls of one layer."""
        if not hasattr(self._local, "names"):
            self._local.names = []
        if self._in(name):
            self._local.names.append(name)
            try:
                yield False
            finally:
                self._local.names.pop()
            return
        self._local.names.append(name)
        try:
            with self.span(name):
                yield True
        finally:
            self._local.names.pop()

    def self_times(self) -> dict[str, float]:
        children: defaultdict = defaultdict(list)
        for name, t0, t1, sid, parent in self.spans:
            if parent is not None:
                children[parent].append((t0, t1))
        out: defaultdict = defaultdict(float)
        for name, t0, t1, sid, _ in self.spans:
            covered, end = 0.0, t0
            for c0, c1 in sorted(children.get(sid, ())):
                c0, c1 = max(c0, end), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            out[name] += (t1 - t0) - covered
        return out

    def total(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1, _, _ in self.spans if n == name)

    # -- patching ----------------------------------------------------------

    def patch(self, obj, attr: str, wrapper_factory) -> None:
        orig = getattr(obj, attr)
        self._patches.append((obj, attr, orig))
        setattr(obj, attr, wrapper_factory(orig))

    def uninstall(self) -> None:
        while self._patches:
            obj, attr, orig = self._patches.pop()
            setattr(obj, attr, orig)

    def install_queries(self, spark, sf_dir: str, tables) -> None:
        """Wrap ``catalog.load``/``load_par``. A load is a memo hit when it
        returns the very DataFrame an earlier load of that table returned;
        the tables the workload reads are looked up once first, untraced,
        so the first traced load of each can count as a hit too."""
        from spark_dba_spark import catalog

        tracer = self
        for t in tables:
            self._seen_loads[(sf_dir, t)] = catalog.load(spark, sf_dir, t)

        def load_factory(orig):
            def load(spark, sf_dir, name):
                with tracer.outer_span("catalog"):
                    df = orig(spark, sf_dir, name)
                key = (sf_dir, name)
                with tracer._lock:
                    tracer.counts["catalog.load_calls"] += 1
                    if tracer._seen_loads.get(key) is df:
                        tracer.counts["catalog.memo_hits"] += 1
                    tracer._seen_loads[key] = df
                tracer._local.last_load = df
                return df
            return load

        def load_par_factory(orig):
            def load_par(spark, sf_dir, name, key):
                with tracer.outer_span("catalog"):
                    tracer._local.last_load = None
                    df = orig(spark, sf_dir, name, key)
                if df is not tracer._local.last_load:
                    tracer.counts["catalog.repartitions"] += 1
                return df
            return load_par

        self.patch(catalog, "load", load_factory)
        self.patch(catalog, "load_par", load_par_factory)

    # -- compaction --------------------------------------------------------

    def _switch(self, phase: str | None) -> None:
        st = getattr(self._local, "phase", None)
        if st is None:
            return
        now = time.perf_counter()
        with self._lock:
            self.phase_s[st[0]] += now - st[1]
        if phase is None:
            self._local.phase = None
            return
        self._local.phase = (phase, now)
        self.s.group(f"{self.tag}compact.{phase}")

    def _phase(self) -> str | None:
        st = getattr(self._local, "phase", None)
        return st[0] if st else None

    def install_compact(self) -> None:
        """Wrap the compaction job's layers. Each partition thread walks the
        phases in ``_process_partition``'s order, switched at these calls:
        preflight (C2 checks) → schema (``resolve_schema``) → read (source
        snapshot, scan, persist + count) → write (``write_avro_folder``) →
        verify (read-back count) → commit (the second ``snapshot``: recheck,
        trash-then-swap). Each phase runs its Spark jobs under its own job
        group, so the event log splits the work the same way."""
        from spark_dba_spark.plans import compact as cmod
        from spark_dba_spark.plans import logger as lmod
        from spark_dba_spark.sources import avro_spark
        from spark_dba_spark.sources.fsops import FsOps

        tracer = self

        def partition_factory(orig):
            def _process_partition(*args, **kwargs):
                t0 = time.perf_counter()
                tracer._local.phase = ("preflight", t0)
                tracer.s.group(f"{tracer.tag}compact.preflight")
                try:
                    with tracer.span("partition"):
                        return orig(*args, **kwargs)
                finally:
                    tracer._switch(None)
                    with tracer._lock:
                        tracer.partition_times.append((t0, time.perf_counter()))
            return _process_partition

        def schema_factory(orig):
            def resolve_schema(*args, **kwargs):
                tracer._switch("schema")
                try:
                    with tracer.span("schema"):
                        return orig(*args, **kwargs)
                finally:
                    tracer._switch("read")
            return resolve_schema

        def read_factory(orig):
            def read_avro_folder(*args, **kwargs):
                with tracer.span("avro_spark.read"):
                    return orig(*args, **kwargs)
            return read_avro_folder

        def write_factory(orig):
            def write_avro_folder(*args, **kwargs):
                tracer._switch("write")
                try:
                    with tracer.span("avro_spark.write"):
                        n = orig(*args, **kwargs)
                    with tracer._lock:
                        tracer.counts["avro_spark.files_written"] += n
                    return n
                finally:
                    tracer._switch("verify")
            return write_avro_folder

        def resolve_fs_factory(orig):
            def resolve_fs(path):
                fs, root = orig(path)
                return tracefs.CountingFS(fs, str(tracer.io_dir)), root
            return resolve_fs

        def fsops_factory(orig, name):
            def method(*args, **kwargs):
                if name == "snapshot" and tracer._phase() == "verify":
                    tracer._switch("commit")
                with tracer.outer_span("fsops") as outer:
                    if outer:
                        with tracer._lock:
                            tracer.counts["fsops.calls"] += 1
                    return orig(*args, **kwargs)
            return method

        def logger_factory(orig):
            def method(*args, **kwargs):
                with tracer.outer_span("logger"):
                    return orig(*args, **kwargs)
            return method

        self.patch(cmod, "_process_partition", partition_factory)
        self.patch(cmod, "resolve_schema", schema_factory)
        self.patch(avro_spark, "read_avro_folder", read_factory)
        self.patch(avro_spark, "write_avro_folder", write_factory)
        self.patch(avro_spark, "resolve_fs", resolve_fs_factory)
        for name, fn in list(vars(FsOps).items()):
            if isinstance(fn, types.FunctionType) and not name.startswith("_"):
                self.patch(FsOps, name, lambda o, n=name: fsops_factory(o, n))
        for name in ("header", "info", "error", "render"):
            self.patch(lmod.AuditLogger, name, logger_factory)


# ---------------------------------------------------------------------------


def _event_groups(work: Path, session, tag: str, timeout: float = 30.0):
    """Parse the live event log once a barrier job run after the traced
    repetition has been logged (the listener bus is asynchronous)."""
    barrier = f"{tag}barrier"
    session.group(barrier)
    session.spark.range(1).count()
    deadline = time.perf_counter() + timeout
    while True:
        logs = sorted((work / "eventlog").glob("*"))
        if logs:
            groups = eventlog.parse_file(str(logs[-1]))
            if groups.get(barrier) and groups[barrier].stages:
                return groups
        if time.perf_counter() > deadline:
            raise RuntimeError("event log never recorded the barrier job")
        time.sleep(0.2)


def _exec_metrics(groups: dict, names: list[str]) -> dict[str, float]:
    sel = [groups[g] for g in names if g in groups]
    total = lambda attr: sum(getattr(g, attr) for g in sel)  # noqa: E731
    return {
        "exec.jobs": total("jobs"),
        "exec.stages": total("stages"),
        "exec.tasks": total("tasks"),
        "exec.failed_tasks": total("failed_tasks"),
        "exec.task_s": total("task_s"),
        "exec.cpu_s": total("cpu_s"),
        "exec.gc_s": total("gc_s"),
        "exec.sched_delay_s": total("sched_delay_s"),
        "exec.input_mb": total("input_mb"),
        "exec.shuffle_write_mb": total("shuffle_write_mb"),
        "exec.shuffle_read_mb": total("shuffle_read_mb"),
        "exec.spill_mb": total("spill_mb"),
        "exec.peak_mem_mb": max((g.peak_mem_mb for g in sel), default=0.0),
        "exec.task_skew": max((g.task_skew for g in sel), default=0.0),
    }


def _codec_rates(wl) -> tuple[float, float]:
    """Single-core in-process Avro decode/encode rates over the generated
    source files (rows per second)."""
    from perfbench import gen
    from spark_dba_spark.sources import avro_codec as ac

    blobs = [p.read_bytes() for p in sorted(wl.src.rglob("*.avro"))]
    t0 = time.perf_counter()
    records = [r for b in blobs for r in ac.read_container(b)]
    dec = len(records) / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    ac.write_container(records, gen.AVRO_SCHEMA, "snappy")
    enc = len(records) / (time.perf_counter() - t0)
    return dec, enc


def traced_run(wl, s, work: Path, workload: str, seconds: float,
               min_reps: int) -> dict:
    plain, errors, attempted = [], [], 0
    deadline = time.perf_counter() + seconds
    while len(plain) < min_reps or time.perf_counter() < deadline:
        p = wl.run_pass(f"p{len(plain)}/")
        plain.append(p["wall_s"])
        errors += p["errors"]
        attempted += p["attempted"]

    tag = "t/"
    tracer = Tracer(s, tag, work / "trace_io")
    compact = workload == "compact_avro"
    if compact:
        tracer.install_compact()
    else:
        tables = set().union(*wl.tables.values())
        tracer.install_queries(s.spark, str(wl.data), sorted(tables))
    try:
        traced = wl.run_pass(tag, tracer=tracer)
    finally:
        tracer.uninstall()
    errors += traced["errors"]
    attempted += traced["attempted"]
    groups = _event_groups(work, s, tag)

    m: dict[str, float] = {}
    ops = traced["ops"]
    if compact:
        exec_groups = [g for g in groups if g.startswith(f"{tag}compact")]
    else:
        exec_groups = [f"{tag}{op['name']}" for op in ops]
    m.update(_exec_metrics(groups, exec_groups))
    py_groups = [g for g in groups if g.startswith(tag) and not g.endswith("#noop")]
    m["python.sent_mb"] = sum(groups[g].python_sent_mb for g in py_groups)
    m["python.returned_mb"] = sum(groups[g].python_returned_mb for g in py_groups)
    m["build_s"] = sum(op.get("build_s", 0.0) for op in ops)
    m["build_jobs"] = sum(
        groups[g].jobs for g in groups if g.startswith(tag) and g.endswith("#build")
    )
    m["exec.collect_s"] = sum(op.get("collect_s", 0.0) for op in ops)
    m["transfer.rows"] = 0 if compact else sum(op["rows"] for op in ops)
    m["transfer.s"] = sum(op["collect_s"] - op["noop_s"] for op in ops if "noop_s" in op)
    loads = tracer.counts["catalog.load_calls"]
    m["catalog.load_s"] = tracer.total("catalog")
    m["catalog.load_calls"] = loads
    m["catalog.memo_hit_ratio"] = tracer.counts["catalog.memo_hits"] / loads if loads else 0.0
    m["catalog.repartitions"] = tracer.counts["catalog.repartitions"]
    m["fsops.calls"] = tracer.counts["fsops.calls"]
    m["fsops.s"] = tracer.total("fsops")
    m["avro_spark.files_written"] = tracer.counts["avro_spark.files_written"]
    m["avro_spark.read_tasks"] = groups[f"{tag}compact.read"].tasks if (
        f"{tag}compact.read" in groups) else 0

    wall = traced["wall_s"]
    compact_keys = [f"compact.{p}_s" for p in PHASES] + [
        "compact.audit_s", "compact.pool_s", "compact.concurrency",
        "compact.unaccounted_s", "compact.read_amp", "compact.write_amp",
        "compact.bytes_out_per_in", "compact.file_reduction",
    ]
    m.update({k: 0.0 for k in compact_keys})
    m["avro_codec.decode_rows_per_s"] = m["avro_codec.encode_rows_per_s"] = 0.0
    if compact and ops and tracer.partition_times:
        op = ops[0]
        job = [(t0, t1) for n, t0, t1, _, _ in tracer.spans if n == "compact"][0]
        first = min(t0 for t0, _ in tracer.partition_times)
        last = max(t1 for _, t1 in tracer.partition_times)
        pool = last - first
        for p in PHASES:
            m[f"compact.{p}_s"] = tracer.phase_s.get(p, 0.0)
        m["compact.preflight_s"] += first - job[0]
        m["compact.audit_s"] = job[1] - last
        m["compact.pool_s"] = pool
        m["compact.concurrency"] = (
            sum(t1 - t0 for t0, t1 in tracer.partition_times) / pool if pool else 0.0
        )
        m["compact.unaccounted_s"] = wall - ((first - job[0]) + pool + (job[1] - last))
        read, written = tracefs.totals(str(tracer.io_dir))
        m["compact.read_amp"] = read / wl.src_bytes
        m["compact.write_amp"] = written / op["out_bytes"] if op["out_bytes"] else 0.0
        m["compact.bytes_out_per_in"] = op["out_bytes"] / wl.src_bytes
        m["compact.file_reduction"] = wl.src_files / op["out_files"] if op["out_files"] else 0.0
        dec, enc = _codec_rates(wl)
        m["avro_codec.decode_rows_per_s"] = dec
        m["avro_codec.encode_rows_per_s"] = enc

    selfs = tracer.self_times()
    for span_name, metric in SELF_METRICS.items():
        m[metric] = selfs.get(span_name, 0.0)
    (work / "spans.json").write_text(json.dumps([
        {"name": n, "start": t0, "end": t1, "id": sid, "parent": parent}
        for n, t0, t1, sid, parent in tracer.spans
    ]))
    # the plain repetition right before the traced one: same warm-up state
    plain_wall = plain[-1]
    m["trace.plain_wall_s"] = plain_wall
    m["trace.wall_s"] = wall
    m["trace.overhead_s"] = wall - plain_wall
    return {"errors": errors, "attempted": attempted, "metrics": m}
