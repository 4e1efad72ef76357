"""stream-track: seeded per-entity GPS traces staged as parquet files and
drained with ``trigger(availableNow=True)`` and ``maxFilesPerTrigger=1``.

Two queries run one after the other:

- ``windowed``: ``index_stream`` then ``windowed_cell_counts`` (JVM
  state store), update mode;
- ``transitions``: ``index_stream`` then ``cell_transitions`` (Python
  ``applyInPandasWithState``), append mode.

Each query drains the same ``FILES`` slices, one micro-batch per file.

File ``f`` holds the events of event-time slice ``f`` and every entity
moves forward in time, so no event is late and the streaming answers
equal the batch computation of the same windows and transitions.
"""

from __future__ import annotations

import os
import time
import traceback
from pathlib import Path

import numpy as np

from perfbench.common import median, persisted_rdds
from perfbench.geo import CITIES

WORKLOAD = "stream-track"
FILES = 5
EVENTS_PER_FILE = 2500
ENTITIES = 250
SLICE_S = 120
RES = 9
PARENT_RES = 7
WINDOW = "1 minute"
WATERMARK = "2 minutes"
STEP_DEG = 0.0015
T0_US = int(np.datetime64("2024-03-01T00:00:00", "us").astype(np.int64))
QUERIES = ("windowed", "transitions")


def make_traces(seed: int, n_files: int):
    """Per-file arrays (entity, ts_us, lat, lng): each entity starts near
    a hotspot and random-walks; its events are time-ordered."""
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, len(CITIES) + 1) ** 1.1
    home = rng.choice(len(CITIES), ENTITIES, p=w / w.sum())
    pos = CITIES[home] + rng.normal(0.0, 0.03, (ENTITIES, 2))
    files = []
    for f in range(n_files):
        ent = rng.integers(0, ENTITIES, EVENTS_PER_FILE)
        ts = T0_US + f * SLICE_S * 10**6 + rng.integers(0, SLICE_S * 10**6, EVENTS_PER_FILE)
        order = np.lexsort((ts, ent))
        ent, ts = ent[order], ts[order]
        # each event moves its entity by one random step, in time order
        steps = rng.normal(0.0, STEP_DEG, (EVENTS_PER_FILE, 2))
        lat = np.empty(EVENTS_PER_FILE)
        lng = np.empty(EVENTS_PER_FILE)
        for i, e in enumerate(ent):
            pos[e] += steps[i]
            lat[i], lng[i] = pos[e]
        files.append((ent.astype(np.int64), ts, lat, lng))
    return files


def prepare(seed: int, work: Path) -> dict:
    """Stage the slices once per query, each query in its own directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = make_traces(seed, FILES)
    t_file = time.time() - 10 * len(files)
    src = {}
    for name in QUERIES:
        src[name] = work / f"stream_in_{name}"
        src[name].mkdir()
        for f, (ent, ts, lat, lng) in enumerate(files):
            path = src[name] / f"slice_{f:04d}.parquet"
            pq.write_table(pa.table({
                "entity": ent,
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "lat": lat, "lng": lng,
            }), path)
            # the file source orders by modification time
            os.utime(path, (t_file + 10 * f, t_file + 10 * f))
    return {"src": {k: str(v) for k, v in src.items()},
            "ckpt": str(work / "checkpoints"), "files": files,
            "rows": len(QUERIES) * FILES * EVENTS_PER_FILE}


def _source(spark, path: str):
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampType,
    )

    schema = StructType([
        StructField("entity", LongType()), StructField("ts", TimestampType()),
        StructField("lat", DoubleType()), StructField("lng", DoubleType()),
    ])
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _build(spark, inputs, name: str):
    from h3ron_spark import streaming
    from h3ron_spark.streaming.stateful import cell_transitions

    indexed = streaming.index_stream(_source(spark, inputs["src"][name]), res=RES)
    if name == "windowed":
        out = streaming.windowed_cell_counts(
            indexed, window_duration=WINDOW, watermark=WATERMARK,
            parent_res=PARENT_RES,
        )
        mode = "update"
    else:
        out = cell_transitions(indexed, entity_col="entity")
        mode = "append"
    table = f"perfbench_{name}"
    return table, (
        out.writeStream.format("memory").queryName(table).outputMode(mode)
        .option("checkpointLocation", f"{inputs['ckpt']}/{name}")
        .trigger(availableNow=True)
    )


def run(spark, inputs: dict, spans) -> dict:
    sc = spark.sparkContext
    ops, outputs, errors, persisted, progress = [], {}, {}, [], {}
    for name in QUERIES:
        sc.setJobDescription(f"{WORKLOAD}/{name}")
        try:
            with spans.span(name, "build"):
                table, writer = _build(spark, inputs, name)
            with spans.span(name, "action"):
                q = writer.start()
                q.awaitTermination()
            progress[name] = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            outputs[name] = spark.table(table).toPandas()
        except Exception:  # counted as a failed operation
            errors[name] = traceback.format_exc(limit=-3)[-600:]
            progress.setdefault(name, [])
        for p in progress[name]:
            ops.append((f"{name}#{p['batchId']}", p["durationMs"]["triggerExecution"] / 1000.0))
        persisted.append(persisted_rdds(spark))
    sc.setJobDescription(None)
    return {
        "ops": ops, "outputs": outputs, "errors": errors, "progress": progress,
        "persisted_rdds_left": persisted, "rows": inputs["rows"],
        "attempted": len(QUERIES),
    }


def unit_times(ops) -> list[float]:
    """The latencies ``op_gmean_s`` is the geometric mean of: each
    query's median micro-batch time. Each query's first batch also pays
    planning and code generation, so it is left out here (it still
    counts in ``wall_s``)."""
    times = []
    for name in QUERIES:
        batches = [s for key, s in ops if key.startswith(f"{name}#") and not key.endswith("#0")]
        if batches:
            times.append(median(batches))
    return times


def _expected(inputs: dict):
    from h3ron_spark.h3core import vectorized as V

    def columns(files):
        ent, ts, lat, lng = (np.concatenate(c) for c in zip(*files))
        return ent, ts, V.latlng_to_cell_batch(lat, lng, RES)

    ent, ts, cells = columns(inputs["files"])
    parents = V.cell_to_parent_np(cells, np.full(cells.size, PARENT_RES))
    minute = ts // (60 * 10**6)
    keys, counts = np.unique(np.stack([minute, parents]), axis=1, return_counts=True)
    windowed = {(int(m), int(c)): int(n) for (m, c), n in zip(keys.T, counts)}
    order = np.lexsort((ts, ent))
    e, c, t = ent[order], cells[order], ts[order]
    moved = (e[1:] == e[:-1]) & (c[1:] != c[:-1])
    transitions = sorted(zip(
        e[1:][moved].tolist(), c[:-1][moved].tolist(),
        c[1:][moved].tolist(), t[1:][moved].tolist(),
    ))
    return windowed, transitions


def _ts_us(series) -> np.ndarray:
    import pandas as pd

    s = pd.to_datetime(series)
    if s.dt.tz is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.to_numpy().astype("datetime64[us]").astype(np.int64)


def check(inputs: dict, result: dict) -> dict[str, str]:
    failures = dict(result["errors"])
    windowed, transitions = _expected(inputs)
    got = result["outputs"].get("windowed")
    if got is not None:
        # update mode re-emits a key each time its count grows
        minute = _ts_us(got["window_start"]) // (60 * 10**6)
        have: dict = {}
        for m, c, n in zip(minute.tolist(), got["cell"].tolist(), got["n_events"].tolist()):
            have[(m, c)] = max(n, have.get((m, c), 0))
        if have != windowed:
            failures["windowed"] = (
                f"{len(have)} windows, expected {len(windowed)}; "
                f"{sum(have.get(k) != v for k, v in windowed.items())} differ"
            )
    got = result["outputs"].get("transitions")
    if got is not None:
        have_t = sorted(zip(
            got["entity"].tolist(), got["from_cell"].tolist(),
            got["to_cell"].tolist(), _ts_us(got["ts"]).tolist(),
        ))
        if have_t != transitions:
            failures["transitions"] = (
                f"{len(have_t)} transitions, expected {len(transitions)}"
            )
    return failures
