"""Fold a Spark event log into one record per benchmark step.

Only the stdlib ``json`` module is used. A step is named by the job
description the benchmark sets (``<workload>/<step>``), or by the query
name a streaming micro-batch carries (``perfbench_<step>``). Jobs are
mapped to steps through ``SparkListenerJobStart``; stages, tasks and SQL
executions follow their jobs. Per step the fold keeps:

- executor task metrics summed over ``SparkListenerStageCompleted``;
- SQL metrics (Python worker start/init/run time, bytes to and from
  Python) from stage accumulables and
  ``SparkListenerDriverAccumUpdates``, typed through the plan info of
  ``SQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate``;
- job, stage and task counts (``SparkListenerTaskEnd``).
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
STREAM_PREFIX = "perfbench_"

# task metric accumulable -> record field; summed over stages
TASK_METRICS = {
    "internal.metrics.executorRunTime": "exec_run_ms",
    "internal.metrics.executorCpuTime": "exec_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
}
# SQL metric name -> record field
SQL_METRICS = {
    "time to start Python workers": "py_start",
    "time to initialize Python workers": "py_init",
    "time to run Python workers": "py_run",
    "data sent to Python workers": "to_py_bytes",
    "data returned from Python workers": "from_py_bytes",
}
# SQL metric type -> factor to seconds (timings) or 1 (sizes, sums)
UNIT = {"timing": 1e-3, "nsTiming": 1e-9}


def step_of(description: str | None, workload: str) -> str | None:
    if not description:
        return None
    first = description.split("\n", 1)[0]
    if first.startswith(workload + "/"):
        return first[len(workload) + 1:]
    if first.startswith(STREAM_PREFIX):
        return first[len(STREAM_PREFIX):]
    return None


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m.get("metricType", "sum"))
    for child in node.get("children", []):
        _plan_metrics(child, out)


def read_events(path: Path):
    """Events of every log under ``path``: plain files, or the rolling
    ``eventlog_v2_*`` directories Spark writes by default."""
    files = []
    for p in sorted(path.iterdir()):
        if p.is_dir():
            files += sorted(
                (f for f in p.iterdir() if f.name.startswith("events_")),
                key=lambda f: int(f.name.split("_")[1]),
            )
        elif not p.name.startswith("."):
            files.append(p)
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def fold(events, workload: str) -> dict[str, dict]:
    stage_step: dict[int, str] = {}
    exec_step: dict[int, str] = {}
    exec_jobs: dict[int, list[int]] = defaultdict(list)
    job_step: dict[int, str | None] = {}
    metric_type: dict[int, tuple[str, str]] = {}
    stage_accums: list[tuple[int, list]] = []
    driver_updates: list[tuple[int, list]] = []
    tasks: dict[int, int] = defaultdict(int)
    job_stages: dict[int, list[int]] = {}

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            job_step[jid] = step_of(props.get("spark.job.description"), workload)
            job_stages[jid] = e["Stage IDs"]
            if "spark.sql.execution.id" in props:
                exec_jobs[int(props["spark.sql.execution.id"])].append(jid)
        elif kind in (SQL_START, SQL_AQE):
            info = e.get("sparkPlanInfo")
            if isinstance(info, dict):
                _plan_metrics(info, metric_type)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_accums.append((info["Stage ID"], info.get("Accumulables", [])))
        elif kind == "SparkListenerTaskEnd":
            tasks[e["Stage ID"]] += 1
        elif kind == DRIVER_ACCUM:
            driver_updates.append((e["executionId"], e.get("accumUpdates", [])))

    # a job without its own description takes the step of its SQL execution
    for eid, jids in exec_jobs.items():
        named = [job_step[j] for j in jids if job_step.get(j)]
        if named:
            exec_step[eid] = named[0]
            for j in jids:
                job_step[j] = job_step[j] or named[0]
    steps: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for jid, step in job_step.items():
        if step is None:
            continue
        steps[step]["jobs"] += 1
        for sid in job_stages[jid]:
            stage_step.setdefault(sid, step)

    sql_value: dict[int, float] = {}
    sql_step: dict[int, str] = {}
    for sid, accums in stage_accums:
        step = stage_step.get(sid)
        if step is None:
            continue
        rec = steps[step]
        rec["stages"] += 1
        rec["tasks"] += tasks.get(sid, 0)
        for a in accums:
            name = a.get("Name")
            try:
                value = float(a["Value"])
            except (KeyError, TypeError, ValueError):
                continue
            if name in TASK_METRICS:
                rec[TASK_METRICS[name]] += value
            elif name in SQL_METRICS:
                # an SQL accumulator reports its running total per stage
                sql_value[a["ID"]] = max(value, sql_value.get(a["ID"], 0.0))
                sql_step.setdefault(a["ID"], step)
    for eid, updates in driver_updates:
        step = exec_step.get(eid)
        for aid, value in updates:
            if step and metric_type.get(aid, ("",))[0] in SQL_METRICS:
                sql_value[aid] = max(float(value), sql_value.get(aid, 0.0))
                sql_step.setdefault(aid, step)
    for aid, value in sql_value.items():
        name, mtype = metric_type.get(aid, (None, "sum"))
        if name is None:
            continue
        field = SQL_METRICS[name]
        scale = UNIT.get(mtype, 1.0)
        steps[sql_step[aid]][field + ("_s" if mtype in UNIT else "")] += value * scale
    return {k: dict(v) for k, v in steps.items()}


def fold_dir(path: Path, workload: str) -> dict[str, dict]:
    return fold(read_events(path), workload)


def layer_metrics(steps: dict[str, dict]) -> dict[str, float]:
    """The per-layer figures of a run: every step's record summed."""
    tot: dict[str, float] = defaultdict(float)
    for rec in steps.values():
        for k, v in rec.items():
            tot[k] += v
    mb = 2.0**20
    init, run = tot["py_init_s"], tot["py_run_s"]
    run_s, cpu_s = tot["exec_run_ms"] / 1e3, tot["exec_cpu_ns"] / 1e9
    return {
        "py.start_s": tot["py_start_s"],
        "py.init_s": init,
        "py.run_s": run,
        "py.init_share": init / (init + run) if init + run else 0.0,
        "arrow.to_py_mb": tot["to_py_bytes"] / mb,
        "arrow.from_py_mb": tot["from_py_bytes"] / mb,
        "exec.run_s": run_s,
        "exec.cpu_s": cpu_s,
        "exec.cpu_share": cpu_s / run_s if run_s else 0.0,
        "exec.gc_s": tot["gc_ms"] / 1e3,
        "shuffle.write_mb": tot["shuffle_write_bytes"] / mb,
        "shuffle.read_mb": tot["shuffle_read_bytes"] / mb,
        "spill_mb": tot["spill_bytes"] / mb,
        "jobs": tot["jobs"],
        "tasks": tot["tasks"],
    }
