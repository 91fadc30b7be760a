"""``sizing``: one footer read per catalog file behind every size-gated
plan decision, and the numbers those decisions read."""

from __future__ import annotations

import os
import shutil
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_fastlanes_spark import sizing
from duckdb_fastlanes_spark.functions.iterate import cc_edge_width
from duckdb_fastlanes_spark.operators.tpch_suite import tpch_q9
from duckdb_fastlanes_spark.session import tune_for_input
from tests.conftest import SF_DIR


@pytest.fixture
def catalog(tmp_path):
    """A private copy of the test catalog, so the memo starts cold and the
    files can be rewritten."""
    d = tmp_path / "catalog"
    shutil.copytree(SF_DIR, d)
    return str(d)


@pytest.fixture
def footer_reads(monkeypatch):
    reads: Counter = Counter()
    read_metadata = pq.read_metadata

    def counting(path, *a, **k):
        reads[os.path.basename(path)] += 1
        return read_metadata(path, *a, **k)

    monkeypatch.setattr(pq, "read_metadata", counting)
    return reads


def _parquet_files(d: str) -> list[str]:
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def test_many_decisions_read_each_footer_once(
    spark, catalog, footer_reads, restore_size_conf
):
    df = spark.range(1)
    for _ in range(3):
        tune_for_input(spark, catalog)
        tpch_q9(spark, catalog)
        cc_edge_width(spark, catalog)
        sizing.pin(df, catalog, "merge")
        sizing.width(catalog, "lineitem", 18, 4)
        sizing.catalog_stats(catalog).column_range("lineitem", "l_partkey")
    assert footer_reads == Counter({f: 1 for f in _parquet_files(catalog)})


def test_trailing_slash_shares_one_entry(catalog, footer_reads):
    assert sizing.catalog_stats(catalog) is sizing.catalog_stats(catalog + "/")
    assert [k for k in sizing._MEMO if k.startswith(catalog)] == [catalog]
    assert set(footer_reads.values()) == {1}


def test_rewritten_table_rereads_its_footer(catalog, footer_reads):
    path = os.path.join(catalog, "lineitem.parquet")
    before = sizing.catalog_stats(catalog)
    head = pq.read_table(path).slice(0, 10)
    pq.write_table(head, path)
    after = sizing.catalog_stats(catalog)
    assert footer_reads["lineitem.parquet"] == 2
    assert after.table_bytes("lineitem") < before.table_bytes("lineitem")
    keys = head.column("l_partkey").to_pylist()
    assert after.column_range("lineitem", "l_partkey") == (min(keys), max(keys))


def test_unreadable_footer_flips_aqe_gate_and_pin_together(
    spark, catalog, monkeypatch, restore_size_conf
):
    """A garbage ``*.parquet`` makes the gauge fall back to on-disk bytes;
    the session's AQE gate and the join pin must move together."""
    stats = sizing.catalog_stats(catalog)
    # the test catalog decodes bigger than it stores, so a threshold at the
    # decoded size is reached by the footers and missed by the disk bytes
    assert stats.decoded_bytes > stats.disk_bytes + 100
    monkeypatch.setattr(sizing, "SMALL_INPUT_BYTES", stats.decoded_bytes)
    df = spark.range(1)

    def decisions():
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        tune_for_input(spark, catalog)
        aqe = spark.conf.get("spark.sql.adaptive.enabled") == "true"
        return aqe, sizing.pin(df, catalog, "merge") is not df

    assert decisions() == (True, True)
    Path(catalog, "junk.parquet").write_bytes(b"not a parquet file")
    after = sizing.catalog_stats(catalog)
    assert after.decoded_bytes == after.disk_bytes == stats.disk_bytes + 18
    assert decisions() == (False, False)


def test_column_range_spans_row_groups_and_needs_stats(tmp_path):
    t = pa.table({"k": pa.array([5, 7, 1, 9, 3, 4], pa.int64())})
    pq.write_table(t, tmp_path / "multi.parquet", row_group_size=2)
    pq.write_table(t, tmp_path / "bare.parquet", write_statistics=False)
    assert pq.read_metadata(tmp_path / "multi.parquet").num_row_groups == 3
    stats = sizing.catalog_stats(str(tmp_path))
    assert stats.column_range("multi", "k") == (1, 9)
    assert stats.column_range("bare", "k") is None
    assert stats.column_range("multi", "absent") is None
    assert stats.column_range("absent", "k") is None
