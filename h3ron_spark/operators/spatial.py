"""Spatial predicates: the reference's spatial indexes, Spark-first.

Parity targets (SURVEY §2.4): SpatialIndex / kdtree / rtree /
packed-hilbert-rtree (h3ron-polars/src/spatial_index/*) exposing
- envelopes_intersect(rect)        (X4)
- envelopes_within_distance(c, d)  (X5)
- geometries_intersect(polygon)    (X6)

Design: **no materialized index** — the H3 id itself is the spatial
index. A query region is polyfilled ONCE at a coarse "probe"
resolution; data cells are matched by their ancestor at that
resolution via pure bit math and a broadcast semi-join, then
(optionally) refined exactly. This is the scale story: the probe set
is tiny (broadcast), the fact table never shuffles, the parent
extraction is whole-stage-codegen bit math, and with a
`cell_parent_r<N>` partition column the semi-join prunes parquet files
before any scan.

The reference returns boolean masks; we return both a mask column
(`with_*` helpers) and filtered frames (`cells_in_*`), NULL where the
cell is invalid (finish_mask semantics, spatial_index/mod.rs:182-186).

Known divergence (documented in SURVEY §2.4 X6): the reference's
Rect-kind geometry refine cannot clear envelope false positives
(mod.rs:243-252); we implement the documented intent — an exact
centroid-in-polygon refine.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import BooleanType

from h3ron_spark.functions import bits as B


_PROBE_BUDGET = 4096


def _probe_res(data_res: int, ring=None) -> int:
    """Coarse resolution for the polyfill probe: ~3 levels up keeps the
    probe set small (each level divides count by ~7) while staying
    selective. When the query ring is given, the res is additionally
    capped so the estimated probe-cell count (bbox area / avg hexagon
    area) stays under _PROBE_BUDGET — a continent-sized AOI must not
    produce a multi-second driver polyfill or an oversized broadcast;
    it coarsens instead (the exact refine keeps the result identical).
    """
    res = max(0, data_res - 3)
    if ring is None:
        return res
    import math

    from h3ron_spark.h3core import average_hexagon_area_km2

    lats = [p[0] for p in ring]
    lngs = [p[1] for p in ring]
    mid = math.radians((max(lats) + min(lats)) / 2.0)
    km_lat = (max(lats) - min(lats)) * 111.32
    km_lng = (max(lngs) - min(lngs)) * 111.32 * max(0.05, math.cos(mid))
    area = max(1.0, km_lat * km_lng)
    while res > 0 and area / average_hexagon_area_km2(res) > _PROBE_BUDGET:
        res -= 1
    return res


def _probe_semi_join(
    df: DataFrame, cell_col: str, probe_cells, pres: int
) -> DataFrame:
    """Coarse filter of the X4/X5/X6 predicates: keep rows whose
    res-``pres`` ancestor lies in ``probe_cells`` grown by one ring.
    H3 children do not nest inside their parent's boundary, so a cell
    whose centroid lies in the region can have its ancestor just
    outside the region's cover, but within one ring of it; the exact
    refine drops the extra candidates the ring adds."""
    from h3ron_spark.h3core import grid_disk
    from h3ron_spark.util import local_df

    grown = sorted({n for c in probe_cells for n in grid_disk(c, 1)})
    probe = local_df(df.sparkSession, [(c,) for c in grown], "probe_cell long")
    return df.join(
        F.broadcast(probe),
        B.h3_to_parent(cell_col, pres) == probe.probe_cell,
        "left_semi",
    )


def _rect_ring(min_lat, min_lng, max_lat, max_lng):
    return [
        (min_lat, min_lng),
        (min_lat, max_lng),
        (max_lat, max_lng),
        (max_lat, min_lng),
    ]


def cells_in_rect(
    df: DataFrame,
    min_lat: float,
    min_lng: float,
    max_lat: float,
    max_lng: float,
    data_res: int,
    cell_col: str = "cell",
) -> DataFrame:
    """X4 envelopes_intersect as a filter: keep rows whose cell's
    coarse ancestor falls near the rect's intersecting polyfill, then
    refine exactly on the centroid. Broadcast semi-join + bit math."""
    from h3ron_spark.h3core import regions as R

    ring = _rect_ring(min_lat, min_lng, max_lat, max_lng)
    pres = _probe_res(data_res, ring)
    probe = R.polygon_to_intersecting_cells(ring, pres)
    return _probe_semi_join(df, cell_col, probe, pres).filter(
        _centroid_in_rect(cell_col, min_lat, min_lng, max_lat, max_lng)
    )


def _refine_udf(point_pred_np):
    """Exact-refine kernel factory: ``point_pred_np(lat_deg[],
    lng_deg[]) -> bool[]`` is a VECTORIZED predicate evaluated on the
    distinct cells of each Arrow batch (candidate batches repeat cells
    heavily after the coarse probe join), with centroids from the
    numpy batch decode — no per-row Python anywhere. NULL where the
    cell is null/invalid (finish_mask semantics).

    The returned column is marked non-deterministic so Catalyst cannot
    push the (Python-process) predicate below the coarse probe
    semi-join — pushed down it would decode EVERY row of the fact
    table instead of the few candidates the broadcast join leaves (and
    re-evaluate any UDF the cell column was derived from)."""

    @arrow_udf(BooleanType())
    def kernel(cell: pa.Array) -> pa.Array:
        import numpy as np

        from h3ron_spark.h3core import vectorized as V

        vals = (
            cell.fill_null(0)
            .cast(pa.int64())
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        uniq, inv = np.unique(vals, return_inverse=True)
        la, ln = V.cell_to_latlng_batch(uniq)
        bad_u = np.isnan(la)
        ok_u = np.zeros(len(uniq), dtype=bool)
        good = ~bad_u
        if good.any():
            ok_u[good] = point_pred_np(la[good], ln[good])
        return pa.array(ok_u[inv], pa.bool_(), mask=bad_u[inv])

    return kernel.asNondeterministic()


def _point_in_ring_np(la, ln, ring):
    """Vectorized ray-cast (parity: regions.point_in_ring) — one numpy
    pass per polygon edge, not per point."""
    import numpy as np

    inside = np.zeros(la.shape, dtype=bool)
    n = len(ring)
    for idx in range(n):
        la1, ln1 = ring[idx]
        la2, ln2 = ring[(idx + 1) % n]
        if la1 == la2:
            continue  # crossing test can never differ across the edge
        cond = (la1 > la) != (la2 > la)
        x = ln1 + (la - la1) / (la2 - la1) * (ln2 - ln1)
        inside ^= cond & (x > ln)
    return inside


def _centroid_in_rect(
    cell_col, min_lat, min_lng, max_lat, max_lng
) -> Column:
    """Exact refine for X4 (see _refine_udf for the plan rationale)."""
    lo_la, hi_la = float(min_lat), float(max_lat)
    lo_ln, hi_ln = float(min_lng), float(max_lng)

    def pred(la, ln):
        return (la >= lo_la) & (la <= hi_la) & (ln >= lo_ln) & (ln <= hi_ln)

    return _refine_udf(pred)(cell_col)


def cells_in_polygon(
    df: DataFrame,
    ring,
    data_res: int,
    cell_col: str = "cell",
    holes=(),
    exact: bool = True,
) -> DataFrame:
    """X6 geometries_intersect: coarse probe semi-join, then exact
    centroid-in-polygon refine (pandas-free: the ray-cast runs inside
    the same Arrow batch as the probe)."""
    from h3ron_spark.h3core import regions as R

    pres = _probe_res(data_res, ring)
    probe = R.polygon_to_intersecting_cells(ring, pres, holes)
    coarse = _probe_semi_join(df, cell_col, probe, pres)
    if not exact:
        return coarse
    return coarse.filter(_centroid_in_polygon(cell_col, ring, holes))


def _centroid_in_polygon(cell_col, ring, holes=()) -> Column:
    ring_t = tuple((float(a), float(b)) for a, b in ring)
    holes_t = tuple(tuple((float(a), float(b)) for a, b in h) for h in holes)

    def pred(la, ln):
        inside = _point_in_ring_np(la, ln, ring_t)
        for h in holes_t:
            inside &= ~_point_in_ring_np(la, ln, h)
        return inside

    return _refine_udf(pred)(cell_col)


def cells_within_distance(
    df: DataFrame,
    lat: float,
    lng: float,
    distance_km: float,
    data_res: int,
    cell_col: str = "cell",
) -> DataFrame:
    """X5 envelopes_within_distance: grid-disk probe at coarse res
    (sized from the average hexagon edge) + exact haversine refine."""
    import math

    from h3ron_spark.h3core import (
        average_hexagon_area_km2,
        grid_disk,
        latlng_to_cell,
    )

    pres = _probe_res(data_res)
    # hexagon "radius" ~ sqrt(area * 2/(3*sqrt(3)))
    hex_r_km = math.sqrt(average_hexagon_area_km2(pres) * 2 / (3 * math.sqrt(3)))
    k = max(1, int(math.ceil(distance_km / (hex_r_km * 1.5))) + 1)
    center = latlng_to_cell(lat, lng, pres)
    return _probe_semi_join(df, cell_col, grid_disk(center, k), pres).filter(
        _centroid_within_distance(cell_col, lat, lng, distance_km)
    )


def _centroid_within_distance(cell_col, lat, lng, distance_km) -> Column:
    qla, qln, lim = float(lat), float(lng), float(distance_km)

    def pred(la, ln):
        import numpy as np

        from h3ron_spark.h3core.constants import EARTH_RADIUS_KM

        d2r = np.pi / 180.0
        sl = np.sin((qla - la) * (d2r / 2.0))
        sg = np.sin((qln - ln) * (d2r / 2.0))
        h = sl * sl + np.cos(la * d2r) * np.cos(qla * d2r) * sg * sg
        dist = 2.0 * np.arcsin(np.sqrt(np.minimum(1.0, h))) * EARTH_RADIUS_KM
        return dist <= lim

    return _refine_udf(pred)(cell_col)
