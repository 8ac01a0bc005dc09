"""Spark event log → per-job-group execution metrics.

Reads one uncompressed, non-rolling event log (``spark.eventLog.compress=
false``, ``spark.eventLog.rolling.enabled=false``) and folds its
``SparkListenerJobStart`` / ``SparkListenerStageCompleted`` /
``SparkListenerTaskEnd`` records into one :class:`GroupMetrics` per job
group (``spark.jobGroup.id``, set by the caller around each operation).

Jobs outside any group are kept under the empty-string group.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
MB = 1e6


@dataclass
class GroupMetrics:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0  # executor run time
    cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    input_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    peak_mem_mb: float = 0.0  # max over tasks
    task_skew: float = 0.0  # max over stages of max/median task duration
    python_sent_mb: float = 0.0
    python_returned_mb: float = 0.0
    stage_durations: dict[int, list[float]] = field(default_factory=dict)


def _sched_delay_ms(info: dict, m: dict) -> float:
    # Spark UI's definition: task duration minus everything the executor
    # accounts for (run, deserialize, result serialization, result fetch).
    finish, launch = info.get("Finish Time", 0), info.get("Launch Time", 0)
    getting = info.get("Getting Result Time", 0)
    fetch = finish - getting if getting > 0 else 0
    return max(
        0.0,
        (finish - launch)
        - m.get("Executor Run Time", 0)
        - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0)
        - fetch,
    )


def _acc_bytes(accumulables: list[dict], name: str) -> float:
    total = 0.0
    for acc in accumulables:
        if acc.get("Name") == name:
            try:
                total += float(acc.get("Value", 0))
            except (TypeError, ValueError):
                pass
    return total


def parse_events(events) -> dict[str, GroupMetrics]:
    """Fold an iterable of decoded event dicts into per-group metrics."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupMetrics] = {}
    tasks: list[dict] = []
    stages: list[dict] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups.setdefault(gid, GroupMetrics()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = gid
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind == "SparkListenerStageCompleted":
            stages.append(ev["Stage Info"])
    for ev in tasks:
        g = groups.get(stage_group.get(ev.get("Stage ID"), ""))
        if g is None:
            g = groups.setdefault("", GroupMetrics())
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        g.tasks += 1
        if info.get("Failed") or info.get("Killed"):
            g.failed_tasks += 1
        g.task_s += m.get("Executor Run Time", 0) / 1e3
        g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        g.gc_s += m.get("JVM GC Time", 0) / 1e3
        g.sched_delay_s += _sched_delay_ms(info, m) / 1e3
        g.input_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
        sw = m.get("Shuffle Write Metrics") or {}
        g.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
        sr = m.get("Shuffle Read Metrics") or {}
        g.shuffle_read_mb += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / MB
        g.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
        g.peak_mem_mb = max(g.peak_mem_mb, m.get("Peak Execution Memory", 0) / MB)
        g.stage_durations.setdefault(ev.get("Stage ID"), []).append(
            info.get("Finish Time", 0) - info.get("Launch Time", 0)
        )
    for st in stages:
        g = groups.get(stage_group.get(st.get("Stage ID"), ""))
        if g is None:
            continue
        g.stages += 1
        accs = st.get("Accumulables", [])
        g.python_sent_mb += _acc_bytes(accs, PY_SENT) / MB
        g.python_returned_mb += _acc_bytes(accs, PY_RETURNED) / MB
    for g in groups.values():
        for durs in g.stage_durations.values():
            if len(durs) >= 2:
                g.task_skew = max(
                    g.task_skew, max(durs) / max(statistics.median(durs), 1.0)
                )
    return groups


def parse_file(path: str) -> dict[str, GroupMetrics]:
    """Parse one event log file (one JSON event per line)."""
    with open(path, encoding="utf-8") as fh:
        return parse_events(json.loads(line) for line in fh if line.strip())
