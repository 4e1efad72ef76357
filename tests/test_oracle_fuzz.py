"""Oracle-drift fuzz: run the sf-dependent oracled queries against a
RANDOMLY SLICED copy of the test tables and diff Spark vs DuckDB on the
slice.

test_oracle_parity pins every oracle at the fixed sf0.001 tables; this
module guards against oracles that only match *coincidentally* at that
exact dataset (hard-coded counts, order-dependent ties, filters that
happen to be vacuous). Each parametrized slice drops a deterministic
pseudo-random subset of rows per table (hash(key) % mod == 0), so both
engines see the same — but previously unseen — input.

Fixture-pinned golden_*/mm_* queries ignore ``sf_dir`` entirely and are
excluded (re-running them here would re-test the same fixture).
"""

from __future__ import annotations


import duckdb
import pytest

from h3ron_spark import queries as Q

from test_oracle_parity import TABLES, assert_frames_match

SRC_DIR = "/root/testdata/sf0.001"

# per-table key used for the deterministic row drop
_SLICE_KEY = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey * 8 + l_linenumber",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# sf-dependent oracled queries (read the sliced tables); fixture-pinned
# queries are excluded by prefix below
_EXCLUDE_PREFIXES = ("golden_", "mm_", "h3_localij")


def _fuzz_query_names():
    return sorted(
        n
        for n in Q.oracles()
        if not n.startswith(_EXCLUDE_PREFIXES)
    )


@pytest.fixture(scope="module", params=[5, 9])
def sliced_dir(request, tmp_path_factory):
    """Every slice is written to the SAME directory, each over the one
    before, so a query that keeps state keyed on its input path across
    calls reads a stale result on the second slice and fails here."""
    mod = request.param
    out = tmp_path_factory.getbasetemp() / "slice"
    out.mkdir(exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        src = f"{SRC_DIR}/{t}.parquet"
        key = _SLICE_KEY[t]
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}') "
            f"WHERE hash({key}) % {mod} != 0) "
            f"TO '{out}/{t}.parquet' (FORMAT parquet)"
        )
    con.close()
    # NB: the tmp dir name carries no "sfX" tag, so the synthetic-graph
    # queries fall back to their smallest tier — their oracles are
    # sf-invariant by construction
    return str(out)


def _duck_run_at(sql: str, sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    out = con.execute(sql).fetchdf()
    con.close()
    return out


@pytest.mark.parametrize("name", _fuzz_query_names())
def test_query_matches_oracle_on_slice(spark, sliced_dir, name):
    sdf = Q.queries()[name](spark, sliced_dir).toPandas()
    ddf = _duck_run_at(Q.oracles()[name], sliced_dir)
    assert_frames_match(sdf, ddf, name)
