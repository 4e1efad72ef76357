"""Pins the event-log fold (perfbench/eventlog.py).

The fixture is a real event log of two tagged steps on a local[2]
session (an Arrow UDF and a shuffle), written by make_fixture.py and
trimmed to the event kinds the fold reads.

    python3 -m pytest perfbench/
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import eventlog  # noqa: E402

FIXTURE = Path(__file__).resolve().parent / "fixtures" / "eventlog_small.jsonl"


@pytest.fixture(scope="module")
def steps():
    events = [json.loads(line) for line in FIXTURE.read_text().splitlines()]
    return eventlog.fold(events, "fixture")


def test_fixture_folds_into_its_two_steps(steps):
    assert set(steps) == {"udf", "shuffle"}
    assert steps["udf"]["jobs"] == 1 and steps["udf"]["tasks"] == 2
    assert steps["shuffle"]["jobs"] == 2 and steps["shuffle"]["tasks"] == 3


def test_python_boundary_is_on_the_udf_step(steps):
    udf = steps["udf"]
    assert udf["to_py_bytes"] == 162800
    assert udf["from_py_bytes"] == 160288
    assert udf["py_start_s"] == pytest.approx(1.989)
    assert udf["py_init_s"] == pytest.approx(0.767)
    assert udf["py_run_s"] == pytest.approx(3.294)
    assert "to_py_bytes" not in steps["shuffle"]


def test_executor_and_shuffle_metrics(steps):
    assert steps["udf"]["exec_run_ms"] == 3858
    assert steps["udf"]["exec_cpu_ns"] == 539124868
    assert steps["udf"]["gc_ms"] == 56
    shuffle = steps["shuffle"]
    assert shuffle["shuffle_write_bytes"] == shuffle["shuffle_read_bytes"] == 374
    assert shuffle["exec_run_ms"] == 509


def test_layer_metrics_sum_the_steps(steps):
    m = eventlog.layer_metrics(steps)
    assert m["jobs"] == 3 and m["tasks"] == 5
    assert m["exec.run_s"] == pytest.approx(4.367)
    assert m["exec.cpu_share"] == pytest.approx(0.773486503 / 4.367)
    assert m["py.init_share"] == pytest.approx(0.767 / (0.767 + 3.294))
    assert m["arrow.to_py_mb"] == pytest.approx(162800 / 2**20)


def _job(jid, stages, desc=None, exec_id=None):
    props = {}
    if desc is not None:
        props["spark.job.description"] = desc
    if exec_id is not None:
        props["spark.sql.execution.id"] = str(exec_id)
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Stage IDs": stages, "Properties": props}


def _stage(sid, accums):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid,
        "Accumulables": [{"ID": i, "Name": n, "Value": str(v)} for i, n, v in accums],
    }}


def test_jobs_follow_their_sql_execution_and_sql_totals_count_once():
    plan = {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
        {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"},
    ]}
    events = [
        {"Event": eventlog.SQL_START, "executionId": 3, "sparkPlanInfo": plan},
        _job(0, [0], desc="w/step", exec_id=3),
        _job(1, [1], exec_id=3),          # e.g. a broadcast job, untagged
        _job(2, [2], desc="other/step"),  # another workload: ignored
        _stage(0, [(1, "internal.metrics.executorRunTime", 100), (7, "time to run Python workers", 250)]),
        # an SQL accumulator reports its running total in each stage
        _stage(1, [(2, "internal.metrics.executorRunTime", 50), (7, "time to run Python workers", 400)]),
        _stage(2, [(3, "internal.metrics.executorRunTime", 999)]),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1},
    ]
    steps = eventlog.fold(events, "w")
    assert set(steps) == {"step"}
    assert steps["step"]["jobs"] == 2 and steps["step"]["tasks"] == 1
    assert steps["step"]["exec_run_ms"] == 150
    assert steps["step"]["py_run_s"] == pytest.approx(0.4)


def test_streaming_batches_are_named_by_their_query():
    desc = "perfbench_windowed\nid = 1\nrunId = 2\nbatch = 0"
    assert eventlog.step_of(desc, "stream-track") == "windowed"
    assert eventlog.step_of("stream-track/windowed", "stream-track") == "windowed"
    assert eventlog.step_of("save at x.py:1", "stream-track") is None


def test_reads_rolling_log_directories(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_2_local-1").write_text(json.dumps(_job(1, [1], desc="w/b")) + "\n")
    (d / "events_1_local-1").write_text(json.dumps(_job(0, [0], desc="w/a")) + "\n")
    (d / "appstatus_local-1").write_text("")
    assert [e["Job ID"] for e in eventlog.read_events(tmp_path)] == [0, 1]
