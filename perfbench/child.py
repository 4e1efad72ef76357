"""One benchmark run in its own process: make the inputs, start the
session, run the workload's timed pass, check its outputs and write the
run record to ``<work>/record.json``. ``run.py`` starts this module and
adds what only the parent can see (peak RSS of the process tree).
"""

from __future__ import annotations

import argparse
import json
import time
from pathlib import Path

from perfbench import common, eventlog, fleet, geo, stream

WORKLOADS = {"query-fleet": fleet, "stream-track": stream}


def h3core_probe(seed: int) -> dict:
    """Single-thread throughput (million cells/s) of the h3core batch
    kernels on generated points, median of three calls each."""
    import numpy as np

    from h3ron_spark.h3core import vectorized as V

    lat, lng = geo.make_points(seed, 200_000)

    def rate(n_items, fn):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return n_items / common.median(times) / 1e6

    cells = V.latlng_to_cell_batch(lat, lng, geo.RES)
    distinct = np.unique(cells)[:20_000]
    disk_n = V.grid_disk_distances_batch(distinct, 1)[0].size
    return {
        "h3core.latlng_to_cell_mps": rate(lat.size, lambda: V.latlng_to_cell_batch(lat, lng, geo.RES)),
        "h3core.grid_disk_mps": rate(disk_n, lambda: V.grid_disk_distances_batch(distinct, 1)),
        "h3core.compact_mps": rate(cells.size, lambda: V.compact_cells_np(cells)),
    }


def stream_layer(progress: dict) -> dict:
    """Per-batch figures from ``StreamingQueryProgress``."""
    batches = [p for ps in progress.values() for p in ps]
    if not batches:
        return {}

    def p50(key):
        return common.median([float(b["durationMs"].get(key, 0)) for b in batches])

    ops = [o for b in batches for o in b.get("stateOperators", [])]
    per_query = {
        f"stream.{name}.batch_ms_p50": common.median(
            [float(b["durationMs"]["triggerExecution"]) for b in ps[1:]] or [0.0]
        )
        for name, ps in progress.items()
    }
    return {
        **per_query,
        "stream.batches": len(batches),
        "stream.add_batch_ms_p50": p50("addBatch"),
        "stream.planning_ms_p50": p50("queryPlanning"),
        "stream.commit_ms_p50": common.median([
            float(b["durationMs"].get("walCommit", 0) + b["durationMs"].get("commitOffsets", 0))
            for b in batches
        ]),
        "stream.state_rows": sum(
            ps[-1]["stateOperators"][0]["numRowsTotal"]
            for ps in progress.values() if ps and ps[-1].get("stateOperators")
        ),
        "stream.state_commit_ms_p50": common.median(
            [float(o.get("commitTimeMs", 0)) for o in ops] or [0.0]
        ),
        "stream.state_mem_mb": max(
            [o.get("memoryUsedBytes", 0) for o in ops] or [0]
        ) / 2**20,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    a = ap.parse_args()
    work = Path(a.work)
    mod = WORKLOADS[a.workload]
    host = common.HostStamp()

    phases = {}
    t0 = time.perf_counter()
    inputs = mod.prepare(a.seed, work)
    phases["prepare"] = time.perf_counter() - t0
    spark, setups = common.start_sessions(work, bool(a.trace))
    spans = common.Spans()
    t0 = time.perf_counter()
    result = mod.run(spark, inputs, spans)
    wall = time.perf_counter() - t0
    t0 = time.perf_counter()
    failures = mod.check(inputs, result)
    phases["check"] = time.perf_counter() - t0
    # flushes the event log; run.py stops the JVM with this process
    t0 = time.perf_counter()
    spark.stop()
    phases["stop"] = time.perf_counter() - t0

    # a workload whose every operation failed still reports its wall time
    op_s = [s for _, s in result["ops"]] or [wall]
    tail_s, tail_pct = common.tail(op_s)
    # failures are keyed by operation (a geo step, a query, a streaming query)
    attempted = result["attempted"]
    e2e = {
        "setup_s": common.median(setups),
        "wall_s": wall,
        "op_gmean_s": common.gmean(mod.unit_times(result["ops"]) or [wall]),
        "peak_rss_mb": None,  # filled in by run.py
    }
    kind = {"query-fleet": "query", "stream-track": "batch"}[a.workload]
    layer = {
        "queries.build_s": spans.total("build"),
        "queries.action_s": spans.total("action"),
        "queries.persisted_rdds_left": result["persisted_rdds_left"][-1],
    }
    if a.workload == "query-fleet":
        for fam in fleet.FAMILIES:
            layer[f"fleet.{fam}_s"] = sum(
                s for n, s in result["ops"] if fleet.family(n) == fam
            )
        layer.update({f"op.{n}_s": s for n, s in result["ops"] if n in geo.STEPS})
    layer.update(stream_layer(result.get("progress", {})))
    steps = {}
    if a.trace:
        steps = eventlog.fold_dir(work / "events", a.workload)
        layer["trace.wall_s"] = wall
        layer.update(h3core_probe(a.seed))
        layer.update(eventlog.layer_metrics(steps))
    record = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "host": host.finish(),
        "e2e": e2e,
        "figures": {
            "rows_per_s": result["rows"] / wall,
            f"{kind}_p50_s": common.median(op_s),
            f"{kind}_tail_s": tail_s,
            f"{kind}_tail_pct": tail_pct,
            f"{kind}_n": len(op_s),
            "fail_ratio": len(failures) / attempted,
        },
        "layer": layer,
        "setups_s": setups,
        "phases_s": phases,
        "ops": result["ops"],
        "spans": spans.rows,
        "steps": steps,
        "persisted_rdds_left": result["persisted_rdds_left"],
        "attempted": attempted,
        "failures": failures,
    }
    (work / "record.json").write_text(json.dumps(record))


if __name__ == "__main__":
    main()
