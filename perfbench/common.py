"""Helpers shared by the benchmark workloads: timing spans, tail
percentiles, the host stamp and the Spark session the workloads run in.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# Tail percentiles keep at least this many samples beyond them, so a
# tail figure is never one unlucky sample.
TAIL_MIN_BEYOND = 10
# The session is started this many times per run; setup_s is the median.
SETUPS = 3


def ncpu() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that still has
    ``TAIL_MIN_BEYOND`` samples beyond it; the maximum when there are
    too few samples for that."""
    xs = sorted(values)
    i = len(xs) - 1 - TAIL_MIN_BEYOND
    if i < 0:
        i = len(xs) - 1
    return xs[i], round(100.0 * (i + 1) / len(xs), 1)


def median(values: list[float]) -> float:
    return statistics.median(values)


def gmean(values: list[float]) -> float:
    return statistics.geometric_mean(values)


class Spans:
    """Wall-clock spans around the calls the bench makes into the
    engine: ``build`` (constructing the DataFrame through the public
    API) and ``action`` (running it), keyed by step."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    @contextmanager
    def span(self, step: str, kind: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.rows.append(
                {"step": step, "kind": kind, "s": time.perf_counter() - t0}
            )

    def total(self, kind: str) -> float:
        return sum(r["s"] for r in self.rows if r["kind"] == kind)


def _cpu_ticks() -> tuple[int, int] | None:
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])
    except (OSError, ValueError):
        return None


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def source_hash() -> str:
    """Content hash of the engine sources, which identifies the code
    under test in a checkout that is not a git repository."""
    h = hashlib.sha1()
    for p in sorted((ROOT / "h3ron_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


class HostStamp:
    """nproc, CPU steal over the run, 1-minute loadavg per core at the
    start, and the code identity. The loadavg is reported per core and
    not judged: an idle 4-core host already reads about 0.9."""

    def __init__(self) -> None:
        self.t0 = _cpu_ticks()
        n = ncpu()
        self.stamp = {
            "nproc": n,
            "load1_per_cpu": round(os.getloadavg()[0] / n, 3),
            "git_commit": _git_commit(),
            "source_hash": source_hash(),
        }

    def finish(self) -> dict:
        t1 = _cpu_ticks()
        steal = None
        if self.t0 and t1 and t1[1] > self.t0[1]:
            steal = round(100.0 * (t1[0] - self.t0[0]) / (t1[1] - self.t0[1]), 3)
        return {**self.stamp, "steal_pct": steal}


def spark_conf(work: Path, trace: bool) -> dict:
    """Session settings the bench adds to ``get_spark``'s own: every
    file Spark writes stays under the run's work directory, and a
    traced run keeps an uncompressed event log there."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": str(ROOT),
    }
    if trace:
        (work / "events").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            # the default zstd codec needs the zstandard module, which may be absent
            "spark.eventLog.compress": "false",
        })
    return conf


def start_sessions(work: Path, trace: bool):
    """Start the session ``SETUPS`` times (session start plus the
    Python-worker warm-up in ``get_spark``) and keep the last one.
    Returns (spark, [seconds per start])."""
    from h3ron_spark.session import get_spark

    times = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=spark_conf(work, trace))
        times.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
    return spark, times


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def new_result(rows: int) -> dict:
    """What a workload's ``run`` returns: per-operation seconds, outputs
    and errors by operation, the persisted-RDD count after each, the
    number of operations attempted and the number of input rows."""
    return {"ops": [], "outputs": {}, "errors": {}, "persisted_rdds_left": [],
            "attempted": 0, "rows": rows}


def run_op(spark, spans: Spans, workload: str, key: str, build, result: dict) -> None:
    """Run one operation: tag its jobs ``<workload>/<key>``, time
    ``build()`` (the public API call that returns a frame) and the
    ``toPandas()`` that runs it, and record its output or its error."""
    spark.sparkContext.setJobDescription(f"{workload}/{key}")
    result["attempted"] += 1
    t0 = time.perf_counter()
    try:
        with spans.span(key, "build"):
            df = build()
        with spans.span(key, "action"):
            result["outputs"][key] = df.toPandas()
    except Exception:  # counted as a failed operation
        result["errors"][key] = traceback.format_exc(limit=-3)[-600:]
    result["ops"].append((key, time.perf_counter() - t0))
    result["persisted_rdds_left"].append(persisted_rdds(spark))
    spark.sparkContext.setJobDescription(None)

