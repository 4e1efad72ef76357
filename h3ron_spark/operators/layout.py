"""Storage-layout conventions for cell-keyed tables at cluster scale.

SURVEY §4 flags exactly this as the custom work worth doing instead of
the reference's kd/R-tree indexes (X1-X3): persist a coarse-parent
partition column so spatial predicates become *partition pruning* —
files outside the query region are never opened, which is the
Parquet-native replacement for an in-memory spatial index mask.

Conventions:
- ``cell_parent_r{N}`` partition column (bit-math parent, S6) with N
  coarse enough to bound partition count (res 3: <= ~41k partitions
  globally; res 5: ~2M — pick per table density).
- optional bucketing by the cell itself for shuffle-free cell-keyed
  joins between tables bucketed the same way (uncompaction mapping
  joins, graph adjacency co-location).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from h3ron_spark.functions import bits as B


def parent_col_name(parent_res: int) -> str:
    return f"cell_parent_r{parent_res}"


def with_parent_partition(
    df: DataFrame, parent_res: int, cell_col: str = "cell"
) -> DataFrame:
    """Attach the coarse-parent partition column (pure bit math)."""
    return df.withColumn(
        parent_col_name(parent_res), B.h3_to_parent(cell_col, parent_res)
    )


def write_partitioned_cells(
    df: DataFrame,
    path: str,
    parent_res: int,
    cell_col: str = "cell",
    mode: str = "overwrite",
) -> None:
    """Write a cell-keyed table partitioned by the coarse parent, so
    any reader filtering on ``cell_parent_r{N}`` (e.g. from a polyfill
    probe of a query region) prunes non-matching files at planning
    time."""
    (
        with_parent_partition(df, parent_res, cell_col)
        .write.mode(mode)
        .partitionBy(parent_col_name(parent_res))
        .parquet(path)
    )


def read_cells_in_region(
    spark: SparkSession,
    path: str,
    parent_res: int,
    region_parents,
) -> DataFrame:
    """Open a partitioned cell table pruned to the region's coarse
    parents (the polyfill-probe output of X4/X6 at ``parent_res``).
    The filter lands in the scan's PartitionFilters — untouched
    partitions contribute zero I/O."""
    pc = parent_col_name(parent_res)
    parents = [int(p) for p in region_parents]
    return spark.read.parquet(path).filter(F.col(pc).isin(parents))


def write_bucketed_cells(
    df: DataFrame,
    table_name: str,
    n_buckets: int,
    cell_col: str = "cell",
    mode: str = "overwrite",
) -> None:
    """Persist a cell-keyed table BUCKETED (and sorted) by the cell id.
    Two tables bucketed the same way join with NO shuffle exchange on
    either side — the co-located join layout for uncompaction mapping
    joins, graph adjacency, and repeated cell-keyed enrichment at
    100 TB (every avoided exchange is a full-table network pass)."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, cell_col)
        .sortBy(cell_col)
        .format("parquet")
        .saveAsTable(table_name)
    )


def read_bucketed_cells(spark: SparkSession, table_name: str) -> DataFrame:
    """Read a bucketed cell table (bucket metadata comes from the
    catalog, so joins between same-bucketed tables plan shuffle-free)."""
    return spark.table(table_name)


# ---------------------------------------------------------------------
# Z-order (Morton) clustering for NON-spatial multi-column predicates.
# The H3 id already is the spatial index (SURVEY §4); z-order is the
# same idea generalized: interleave the bits of d quantized columns so
# rows close in ALL dimensions land close in the sort order, making
# parquet min/max row-group statistics selective for conjunctive
# range predicates on any subset of the dimensions (the public
# technique behind Delta/Iceberg OPTIMIZE ZORDER).
# ---------------------------------------------------------------------


def zorder_key(quantized_cols, bits: int = 8):
    """Morton interleave of d pre-quantized columns (each already in
    [0, 2^bits)): bit i of dimension j lands at position i*d + j. All
    integer shift/mask expressions — whole-stage codegen, no UDF, and
    the identical arithmetic is expressible in any SQL engine (the
    oracle replays it term by term)."""
    d = len(quantized_cols)
    cols = [
        F.col(c) if isinstance(c, str) else c for c in quantized_cols
    ]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * d + j))
    return z


def zorder_sql(quantized_exprs: list[str], bits: int = 8) -> str:
    """DuckDB twin of :func:`zorder_key` over pre-quantized SQL
    expressions (shared with query oracles so they cannot drift)."""
    d = len(quantized_exprs)
    # every term fully parenthesized: DuckDB/Postgres give |, &, <<
    # EQUAL precedence (left-assoc), so an unwrapped `a << 3 | b << 5`
    # parses as ((a << 3) | b) << 5
    terms = [
        f"(((({e}) >> {i}) & 1) << {i * d + j})"
        for i in range(bits)
        for j, e in enumerate(quantized_exprs)
    ]
    return "(" + " | ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    quantized_cols,
    bits: int = 8,
    z_col: str = "z",
    mode: str = "overwrite",
) -> None:
    """Persist sorted by the z-key (kept as a column): parquet row
    groups then hold narrow min/max ranges in EVERY interleaved
    dimension, so conjunctive range predicates — expressed as z-range
    plus residual exact filters — skip most row groups at scan time."""
    (
        df.withColumn(z_col, zorder_key(quantized_cols, bits))
        .sortWithinPartitions(z_col)
        .write.mode(mode)
        .parquet(path)
    )
