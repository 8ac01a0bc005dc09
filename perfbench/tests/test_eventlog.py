"""Pins perfbench.eventlog on a tiny recorded log.

``data/tiny_eventlog.jsonl`` was recorded from a local[2] session running two
grouped jobs — ``agg`` (range → groupBy count: one shuffle map stage and one
result stage, 2 tasks each) and ``py`` (range → mapInPandas: one stage,
2 tasks) — and trimmed to the three event kinds the parser reads.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import eventlog  # noqa: E402

LOG = Path(__file__).parent / "data" / "tiny_eventlog.jsonl"


@pytest.fixture(scope="module")
def groups():
    return eventlog.parse_file(str(LOG))


def test_groups_jobs_stages_tasks(groups):
    assert set(groups) == {"agg", "py"}
    agg, py = groups["agg"], groups["py"]
    assert (agg.jobs, agg.stages, agg.tasks, agg.failed_tasks) == (1, 2, 4, 0)
    assert (py.jobs, py.stages, py.tasks, py.failed_tasks) == (1, 1, 2, 0)


def test_task_time_sums(groups):
    agg = groups["agg"]
    # executor run time 411 + 425 + 101 + 111 ms
    assert agg.task_s == pytest.approx(1.048)
    assert agg.gc_s == pytest.approx(0.078)
    # duration − run − deserialize − result serialization, per task:
    # (587−411−110−11) + (613−425−98−11) + (155−101−31−2) + (146−111−17−0)
    assert agg.sched_delay_s == pytest.approx(0.173)


def test_shuffle_and_memory(groups):
    agg = groups["agg"]
    assert agg.shuffle_write_mb == pytest.approx(266 / 1e6)
    assert agg.shuffle_read_mb == pytest.approx(266 / 1e6)
    assert agg.spill_mb == 0.0
    assert agg.peak_mem_mb == pytest.approx(8.650736)
    # max over stages of max ÷ median task duration: stage 0 has 587 / 613 ms,
    # stage 1 has 155 / 146 ms
    assert agg.task_skew == pytest.approx(max(613 / 600, 155 / 150.5))


def test_python_boundary_bytes(groups):
    py, agg = groups["py"], groups["agg"]
    assert py.python_sent_mb == pytest.approx(2016 / 1e6)
    assert py.python_returned_mb == pytest.approx(1952 / 1e6)
    assert agg.python_sent_mb == agg.python_returned_mb == 0.0


def test_ungrouped_jobs_land_in_empty_group():
    evs = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [7], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7,
         "Task Info": {"Launch Time": 0, "Finish Time": 5},
         "Task Metrics": {"Executor Run Time": 5}},
    ]
    g = eventlog.parse_events(evs)
    assert g[""].jobs == 1 and g[""].tasks == 1
    assert g[""].task_s == pytest.approx(0.005)
