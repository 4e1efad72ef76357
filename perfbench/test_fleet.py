"""Pins the fleet lists, the generated tables and how the workloads
turn operation times into ``op_gmean_s`` (no Spark needed).

    python3 -m pytest perfbench/
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import fleet, geo, stream, tables  # noqa: E402


def test_pinned_fleet_is_the_82_bench_names():
    assert len(fleet.PINNED_FLEET) == len(set(fleet.PINNED_FLEET)) == 82
    assert "golden_germany_route" not in fleet.PINNED_FLEET


def test_timed_slice_comes_from_the_pinned_list_and_covers_five_families():
    assert set(fleet.TIMED_FLEET) <= set(fleet.PINNED_FLEET)
    assert {fleet.family(n) for n in fleet.TIMED_FLEET} == {
        "rel", "geo", "pipeline", "graph", "mm"
    }


def test_tables_are_seeded(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    rows = tables.build(a, 5)
    tables.build(b, 5)
    tables.build(c, 6)
    assert set(rows) == set(tables.TABLES)
    assert rows["lineitem"] == 6000 and rows["events"] == 1000
    for t in tables.TABLES:
        assert pq.read_table(a / f"{t}.parquet").equals(pq.read_table(b / f"{t}.parquet"))
    assert not pq.read_table(a / "events.parquet").equals(pq.read_table(c / "events.parquet"))


def test_geo_ingest_steps_count_in_the_geo_family():
    assert {fleet.family(s) for s in geo.STEPS} == {"geo"}
    assert not set(geo.STEPS) & set(fleet.PINNED_FLEET)


def test_stream_op_time_is_set_by_both_queries():
    ops = [("windowed#0", 9.0), ("windowed#1", 1.0), ("windowed#2", 1.4),
           ("windowed#3", 1.2), ("transitions#0", 9.0), ("transitions#1", 3.0),
           ("transitions#2", 3.4), ("transitions#3", 3.2)]
    assert stream.unit_times(ops) == [pytest.approx(1.2), pytest.approx(3.2)]
