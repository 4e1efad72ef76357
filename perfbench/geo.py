"""The geo-ingest pipeline: the core H3 steps on seeded, hotspot-skewed
GPS points. query-fleet runs it after its registry queries.

A run makes one pass over ``POINTS`` points drawn from its seed, so no
step is ever timed on inputs an earlier call has seen. The pass runs
four steps through the public API:

- ``index_rollup``: ``h3_latlng_to_cell`` then an ``h3_to_parent`` rollup;
- ``disk_explode``: an ``h3_grid_disk`` explode over the distinct cells;
- ``compact_roundtrip``: ``compact_dataframe`` then ``uncompact_dataframe``;
- ``raster_cells``: ``raster.raster_to_cells`` over a seeded sparse band.

Every step ends in a small collected aggregate, which the check
compares with ``h3core`` evaluated on the generated arrays.

``operators.spatial.cells_in_rect`` is not a step: it drops cells whose
centroid lies in the rect when their coarse probe ancestor is outside
the rect's intersecting polyfill (H3 children do not nest inside their
parent); its exact check failed whenever the seed put the rect on the
Tokyo hotspot. See README.md.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

POINTS = 300_000
RES = 9
PARENT_RES = 5
DISK_K = 1
BAND_SHAPE = (80, 80)
BAND_DENSITY = 0.05
BAND_PIXEL_DEG = 0.01
BACKGROUND_SHARE = 0.2
CHECK_MOD = 1_000_003
STEPS = ("index_rollup", "disk_explode", "compact_roundtrip", "raster_cells")

# (lat, lng) of the hotspot centres; Zipf weights make the first ones heavy.
CITIES = np.array([
    (40.71, -74.01), (35.68, 139.69), (51.51, -0.13), (48.86, 2.35),
    (-23.55, -46.63), (19.43, -99.13), (28.61, 77.21), (31.23, 121.47),
    (55.76, 37.62), (-33.87, 151.21), (1.35, 103.82), (52.52, 13.40),
    (41.01, 28.98), (30.04, 31.24), (-34.60, -58.38), (37.77, -122.42),
    (6.52, 3.38), (59.33, 18.07), (25.20, 55.27), (-1.29, 36.82),
])


def make_points(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """A Zipf(1.1) mix of city centres with ~5 km Gaussian spread, plus
    a uniform background over the inhabited latitudes."""
    rng = np.random.default_rng(seed)
    n_bg = int(n * BACKGROUND_SHARE)
    w = 1.0 / np.arange(1, len(CITIES) + 1) ** 1.1
    city = rng.choice(len(CITIES), n - n_bg, p=w / w.sum())
    c_lat, c_lng = CITIES[city, 0], CITIES[city, 1]
    lat = c_lat + rng.normal(0.0, 0.05, city.size)
    lng = c_lng + rng.normal(0.0, 0.05, city.size) / np.cos(np.radians(c_lat))
    lat = np.concatenate([lat, rng.uniform(-60.0, 70.0, n_bg)])
    lng = np.concatenate([lng, rng.uniform(-180.0, 180.0, n_bg)])
    perm = rng.permutation(n)
    return lat[perm], lng[perm]


def _band(seed: int, city: int):
    from h3ron_spark.raster import Transform

    rng = np.random.default_rng(seed)
    arr = np.where(
        rng.random(BAND_SHAPE) < BAND_DENSITY,
        rng.integers(1, 5, BAND_SHAPE), 0,
    ).astype(np.int64)
    lat0, lng0 = CITIES[city]
    half = BAND_PIXEL_DEG * BAND_SHAPE[0] / 2
    t = Transform(BAND_PIXEL_DEG, 0.0, 0.0, -BAND_PIXEL_DEG, lng0 - half, lat0 + half)
    return arr, t


def prepare(seed: int, work: Path) -> dict:
    """Stage the points; the band sits on a seeded hotspot."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lat, lng = make_points(seed, POINTS)
    path = work / "points.parquet"
    pq.write_table(pa.table({"lat": lat, "lng": lng}), path)
    city = int(np.random.default_rng(seed).integers(0, 4))
    return {"path": str(path), "city": city, "band_seed": seed, "rows": POINTS}


def steps(spark, p: dict):
    """(step, build) pairs; each build returns the frame the step collects."""
    from pyspark.sql import functions as F

    from h3ron_spark import raster
    from h3ron_spark.functions import bits as B
    from h3ron_spark.functions import geo as G
    from h3ron_spark.operators import compact as C

    def cells():
        pts = spark.read.parquet(p["path"])
        return pts.select(G.h3_latlng_to_cell("lat", "lng", F.lit(RES)).alias("cell"))

    def checksum(df, col):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(col) % CHECK_MOD).alias("h"),
        )

    def index_rollup():
        return (
            cells().select(B.h3_to_parent("cell", PARENT_RES).alias("parent"))
            .groupBy("parent").count()
        )

    def disk_explode():
        disk = cells().distinct().select(
            F.explode(G.h3_grid_disk("cell", F.lit(DISK_K))).alias("n")
        )
        return checksum(disk, "n")

    def compact_roundtrip():
        packed = C.compact_dataframe(cells().distinct(), "cell")
        return checksum(C.uncompact_dataframe(packed, RES, "cell"), "cell")

    def raster_cells():
        arr, t = _band(p["band_seed"], p["city"])
        return raster.raster_to_cells(spark, arr, t, RES, nodata=0)

    return [(s, fn) for s, fn in zip(STEPS, (
        index_rollup, disk_explode, compact_roundtrip, raster_cells
    ))]


def _expected(p: dict) -> dict:
    """Each step's answer from ``h3core`` on the generated arrays."""
    import pyarrow.parquet as pq

    from h3ron_spark.h3core import vectorized as V

    t = pq.read_table(p["path"])
    cells = V.latlng_to_cell_batch(t["lat"].to_numpy(), t["lng"].to_numpy(), RES)
    parents, counts = np.unique(
        V.cell_to_parent_np(cells, np.full(cells.size, PARENT_RES)), return_counts=True
    )
    distinct = np.unique(cells)
    disk, _, _ = V.grid_disk_distances_batch(distinct, DISK_K)
    return {
        "index_rollup": dict(zip(parents.tolist(), counts.tolist())),
        "disk_explode": (disk.size, int((disk % CHECK_MOD).sum())),
        "compact_roundtrip": (distinct.size, int((distinct % CHECK_MOD).sum())),
    }


def _raster_problem(p: dict, got) -> str | None:
    """Every (cell, value) row must carry the value of the data pixel
    that holds the cell's centroid, once."""
    from h3ron_spark.h3core import vectorized as V

    if len(got) == 0:
        return "empty result"
    if got.duplicated(["cell", "value"]).any():
        return "duplicate (cell, value) rows"
    arr, t = _band(p["band_seed"], p["city"])
    la, ln = V.cell_to_latlng_batch(got["cell"].to_numpy(np.int64))
    inv = t.invert()
    col = np.floor(inv.a * ln + inv.b * la + inv.xoff).astype(int)
    row = np.floor(inv.d * ln + inv.e * la + inv.yoff).astype(int)
    ok = (row >= 0) & (row < arr.shape[0]) & (col >= 0) & (col < arr.shape[1])
    if not ok.all():
        return f"{int((~ok).sum())} cells outside the band"
    bad = arr[row, col] != got["value"].to_numpy()
    return f"{int(bad.sum())} cells with the wrong value" if bad.any() else None


def check(inputs: dict, result: dict) -> dict[str, str]:
    """Failures by step."""
    failures = {}
    want = _expected(inputs)
    for step in STEPS:
        got = result["outputs"].get(step)
        if got is None:
            continue
        if step == "raster_cells":
            problem = _raster_problem(inputs, got)
        elif step == "index_rollup":
            have = dict(zip(got["parent"].tolist(), got["count"].tolist()))
            problem = None if have == want[step] else "parent counts differ"
        else:
            have = (int(got["n"].iloc[0]), int(got["h"].iloc[0]))
            problem = None if have == want[step] else f"{have} != {want[step]}"
        if problem:
            failures[step] = problem
    return failures
