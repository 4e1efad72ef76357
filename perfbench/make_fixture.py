"""Regenerate ``fixtures/eventlog_small.jsonl``, the event log the
parser test folds.

    python3 perfbench/make_fixture.py

Runs two tagged steps on a local session with the event log on: an
Arrow UDF (``fixture/udf``) and a shuffle (``fixture/shuffle``). Only
the event kinds the fold reads are kept, and bulky or host-specific
text (plan strings, call sites, job properties other than the two the
fold uses) is dropped.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

# module level: arrow_udf resolves the ``pa.Array`` hints in globals()
import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import eventlog  # noqa: E402

KEEP = {
    "SparkListenerJobStart", "SparkListenerStageCompleted", "SparkListenerTaskEnd",
    eventlog.SQL_START, eventlog.SQL_AQE, eventlog.DRIVER_ACCUM,
}
DROP_FIELDS = ("physicalPlanDescription", "details", "description", "modifiedConfigs",
               "jobTags", "Stage Infos", "Task Executor Metrics", "Task Info")
KEEP_PROPS = ("spark.job.description", "spark.sql.execution.id")
OUT = Path(__file__).resolve().parent / "fixtures" / "eventlog_small.jsonl"


def _trim(e: dict) -> dict:
    e = {k: v for k, v in e.items() if k not in DROP_FIELDS}
    if "Properties" in e:
        e["Properties"] = {k: v for k, v in e["Properties"].items() if k in KEEP_PROPS}
    if "Stage Info" in e:
        e["Stage Info"] = {
            k: v for k, v in e["Stage Info"].items()
            if k in ("Stage ID", "Number of Tasks", "Accumulables")
        }
    return e


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.functions import arrow_udf

    work = Path(__file__).resolve().parent.parent / ".perfbench_work" / "fixture"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-fixture")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", work.as_uri())
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )

    @arrow_udf("long")
    def plus_one(x: pa.Array) -> pa.Array:
        import pyarrow.compute as pc

        return pc.add(x, 1)

    sc = spark.sparkContext
    sc.setJobDescription("fixture/udf")
    spark.range(0, 20000, numPartitions=2).select(plus_one("id")).write.format(
        "noop").mode("overwrite").save()
    sc.setJobDescription("fixture/shuffle")
    spark.range(0, 20000, numPartitions=2).groupBy(
        (F.col("id") % 10).alias("k")).count().collect()
    spark.stop()
    events = [_trim(e) for e in eventlog.read_events(work) if e["Event"] in KEEP]
    OUT.write_text("".join(json.dumps(e, sort_keys=True) + "\n" for e in events))
    shutil.rmtree(work)
    print(f"{len(events)} events -> {OUT}")


if __name__ == "__main__":
    main()
