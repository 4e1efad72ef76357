"""query-fleet: registry queries run through ``queries.queries()`` on
tables generated from the seed, each once and as its first execution in
the session, then the four steps of the geo-ingest pipeline
(``geo.py``) on seeded points.

The order is fixed: the first query of each family pays that family's
Python-worker and import costs, so with a seeded order a query's
latency depended on its position more than on the seed's data.

``PINNED_FLEET`` is the 82-name bench list, copied here so that later
edits to ``bench.py`` do not move the benchmark. ``golden_germany_route``
is not in it: its input graph file lives outside the repository.

A run times ``TIMED_FLEET``, a fixed slice of the pinned list chosen by
family so that a run fits the benchmark's time budget (see README.md).
"""

from __future__ import annotations

import math
from pathlib import Path

from perfbench import geo, tables
from perfbench.common import new_result, run_op

WORKLOAD = "query-fleet"

PINNED_FLEET = (
    "rel_pricing_summary rel_top_revenue_orders rel_nation_order_stats "
    "rel_event_sessions rel_supplier_part_pricing h3_bits_accessors "
    "h3_parent_rollup h3_compact_dataframe h3_uncompact_join "
    "geo_cell_rollup geo_disk_explode geo_compact_events "
    "geo_polyfill_filter geo_route_line geo_raster_cells "
    "text_document_stats text_quality_by_source text_token_counts "
    "dedup_exact dedup_paragraphs text_decontaminate text_vocab_topk "
    "text_unigram_logprob pipeline_pack_sequences pipeline_mixture_epoch "
    "pipeline_quality_gate dedup_minhash_lsh dedup_minhash_clusters "
    "dedup_embedding_clusters dedup_substring_spans "
    "dedup_substring_coverage rel_events_asof rel_event_funnel "
    "rel_event_anomalies rel_events_rolling_window rel_pricing_cube "
    "pipeline_curated_sink text_tfidf_keywords text_quality_classifier "
    "text_source_divergence text_bigram_logprob pipeline_corpus_curation "
    "ann_topk_cosine ann_blocked_exact_topk ann_lsh_topk ann_ivf_topk "
    "ann_pq_adc_topk ann_ivfpq_topk ann_ivfpq_rerank ann_ivf_sampled_topk "
    "dedup_embedding_cosine sketch_hll_distinct pipeline_weighted_sample "
    "dedup_source_overlap sketch_hll_merged text_cms_heavy_hitters "
    "rel_range_join rel_skew_salted_topk sketch_bloom_decontaminate "
    "mm_jpeg_decode sketch_hdr_quantiles stream_hll_distinct "
    "rel_zorder_scan mm_avi_decode mm_frame_features rel_events_json "
    "rel_events_variant rel_event_pivot sketch_kmv_setops "
    "pipeline_drift_report geo_trajectory_similarity "
    "dedup_editdistance_join geo_stay_detection text_redact_pii "
    "text_chunk_documents rel_events_gapfill graph_pagerank "
    "graph_triangles pipeline_incremental_rollup rel_scd2_history "
    "rel_cohort_retention graph_sssp_frontier"
).split()

TIMED_FLEET = (
    # rel: JVM only, the control with no Python in it
    "rel_pricing_cube rel_event_sessions rel_event_funnel "
    # geo: functions / h3core / operators
    "h3_bits_accessors geo_stay_detection geo_cell_rollup geo_disk_explode "
    # pipeline: text and dedup operators
    "text_document_stats text_tfidf_keywords dedup_exact "
    # graph: iterative rounds
    "graph_pagerank "
    # mm: pipeline.multimodal
    "mm_jpeg_decode"
).split()

FAMILIES = {
    "rel": ("rel_",),
    "geo": ("h3_", "geo_"),
    "graph": ("graph_",),
    "pipeline": ("text_", "dedup_", "pipeline_", "ann_", "sketch_"),
    "stream": ("stream_",),
    "mm": ("mm_",),
}

# The two queries without a DuckDB oracle are checked against h3core on
# the events' derived coordinates (testdata.derived_lat / derived_lng).
EVENT_RES = 8
DISK_K = 3


def family(name: str) -> str:
    """The module family of a registry query; the geo-ingest steps are
    ``geo`` (functions, h3core, operators, raster)."""
    if name in geo.STEPS:
        return "geo"
    return next(f for f, pre in FAMILIES.items() if name.startswith(pre))


def prepare(seed: int, work: Path) -> dict:
    """Generate the tables and the geo-ingest points from the seed."""
    data = work / "tables"
    rows = tables.build(data, seed)
    return {"order": list(TIMED_FLEET), "data": str(data), "geo": geo.prepare(seed, work),
            "rows": sum(rows.values()) * len(TIMED_FLEET) + geo.POINTS}


def run(spark, inputs: dict, spans) -> dict:
    from h3ron_spark import queries as Q

    registry = Q.queries()
    result = new_result(inputs["rows"])
    for name in inputs["order"]:
        run_op(spark, spans, WORKLOAD, name,
               lambda: registry[name](spark, inputs["data"]), result)
    for step, build in geo.steps(spark, inputs["geo"]):
        run_op(spark, spans, WORKLOAD, step, build, result)
    return result


def unit_times(ops) -> list[float]:
    """The latencies ``op_gmean_s`` is the geometric mean of: one per
    query or geo step."""
    return [s for _, s in ops]


def _normalize(pdf):
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype == "bool" or (
            col.dtype == "object" and len(pdf) and isinstance(col.iloc[0], bool)
        ):
            pdf[c] = col.astype("int64")
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def _frames_differ(got, want) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    a, b = _normalize(got), _normalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    for col in a.columns:
        for i, (x, y) in enumerate(zip(a[col].tolist(), b[col].tolist())):
            if isinstance(x, float) and isinstance(y, float):
                if (math.isnan(x) and math.isnan(y)) or math.isclose(
                    x, y, rel_tol=0.0, abs_tol=1e-9
                ):
                    continue
            elif x == y:
                continue
            return f"{col}[{i}]: {x!r} != {y!r}"
    return None


def _h3core_expected(data: str) -> dict:
    """geo_cell_rollup and geo_disk_explode computed with h3core."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from h3ron_spark.h3core import vectorized as V

    ev = pq.read_table(f"{data}/events.parquet", columns=["event_id", "user_id"])
    eid, uid = ev["event_id"].to_numpy(), ev["user_id"].to_numpy()
    lng = (eid % 36000) / 100.0 - 180.0
    lat = ((uid * 7 + eid) % 16000) / 100.0 - 80.0
    cells = V.latlng_to_cell_batch(lat, lng, EVENT_RES)
    uniq, counts = np.unique(cells, return_counts=True)
    disk, dist, _ = V.grid_disk_distances_batch(uniq, DISK_K)
    rings = pd.DataFrame({"k": dist, "cell": disk}).groupby("k")["cell"]
    return {
        "geo_cell_rollup": pd.DataFrame({"cell": uniq, "n_events": counts}),
        "geo_disk_explode": pd.DataFrame({
            "k": rings.size().index.astype("int64"),
            "n_neighbor_rows": rings.size().to_numpy(),
            "xor_cells": rings.agg(np.bitwise_xor.reduce).to_numpy(),
            "min_cell": rings.min().to_numpy(),
            "max_cell": rings.max().to_numpy(),
        }),
    }


def check(inputs: dict, result: dict) -> dict[str, str]:
    """Failures by query: each output is compared with its DuckDB
    oracle on the same parquet, or with h3core where there is none;
    every query must return at least one row."""
    import duckdb

    from h3ron_spark import queries as Q

    oracles = Q.oracles()
    con = duckdb.connect()
    for t in tables.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{inputs['data']}/{t}.parquet')"
        )
    failures = dict(result["errors"])
    h3core = _h3core_expected(inputs["data"])
    for name in inputs["order"]:
        got = result["outputs"].get(name)
        if got is None:
            continue
        want = (
            con.execute(oracles[name]).fetchdf() if name in oracles else h3core[name]
        )
        diff = "empty result" if len(got) == 0 else _frames_differ(got, want)
        if diff:
            failures[name] = diff
    con.close()
    failures.update(geo.check(inputs["geo"], result))
    return failures
