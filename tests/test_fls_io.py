"""Storage-layer tests: the reference's roundtrip-equality corpus re-expressed.

Mirrors /root/reference/test/all_types_single_threaded.test:
- the 18-type matrix (FIXTURES.md §1) written via write_fls and read back,
  compared positionally (compare_roundtrip shape, test:8-34)
- the threads=1 vs threads=2 matrix (:163) as 1-partition vs N-partition
- writer option semantics (row_group_size validation, rotation)
- schema promotion rules (schema_builder.cpp:132-172)

The reference skips DATE/TIMESTAMP roundtrips as broken (test:328-348); here
they are expected-pass.
"""

from __future__ import annotations

import glob
import os
import tempfile
from decimal import Decimal

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_fastlanes_spark.io.fls import read_fls, write_fls
from duckdb_fastlanes_spark.io.schema_promotion import promote_type, promoted_schema
from tests.conftest import SF_DIR

HUGE = 469231731687303715884105728


def _type_matrix(spark):
    """The reference's 18 typed columns from generate_series(1,1024)."""
    val = F.col("id")
    base_ts = F.lit("2025-01-01 00:00:00").cast("timestamp")
    ts = F.timestamp_add("SECOND", val, base_ts)
    return spark.range(1, 1025).select(
        val.alias("id"),
        (val % 2 == 0).alias("c_bool"),
        ((val % 256) - 128).cast("tinyint").alias("c_tinyint"),
        ((val % 65536) - 32768).cast("smallint").alias("c_smallint"),
        val.cast("int").alias("c_int"),
        (val * 10).cast("bigint").alias("c_bigint"),
        (val.cast("decimal(38,0)") * F.lit(Decimal(-HUGE))).alias("c_hugeint"),
        (val / 100.0).cast("float").alias("c_float"),
        (val / 1000.0).cast("double").alias("c_double"),
        (val.cast("decimal(10,2)") / 10.0).cast("decimal(12,3)").alias("c_decimal"),
        F.concat(F.lit("Value "), val.cast("string")).alias("c_varchar"),
        F.date_add(F.lit("1992-03-22").cast("date"), val.cast("int")).alias("c_date"),
        ts.alias("c_timestamp"),
        F.md5(val.cast("string")).cast("binary").alias("c_blob"),
    )


@pytest.mark.parametrize("n_partitions", [1, 4])
def test_all_types_roundtrip(spark, n_partitions, tmp_path):
    """write → read → positional compare, 1-partition and N-partition
    (the reference's threads=1/threads=2 matrix)."""
    orig = _type_matrix(spark).repartition(n_partitions)
    out = str(tmp_path / f"all_types_{n_partitions}")
    write_fls(orig, out, row_group_size=1024)
    rt = read_fls(spark, out)
    # Parquet read-back reports every column nullable; compare names + types
    # (the reference marks all columns CANNOT_HAVE_NULL_VALUES instead,
    # fls_reader.cpp:200-210 — nullability is storage metadata, not data).
    assert [(f.name, f.dataType) for f in rt.schema.fields] == [
        (f.name, f.dataType) for f in orig.schema.fields
    ]
    # compare_roundtrip shape: both directions of exceptAll must be empty
    assert orig.exceptAll(rt).count() == 0
    assert rt.exceptAll(orig).count() == 0
    assert rt.count() == 1024


def test_write_fls_writes_v2_pages(spark, tmp_path):
    """Parquet v2 pages: unique keys fall back from the dictionary to
    DELTA_BINARY_PACKED instead of PLAIN."""
    out = str(tmp_path / "orders")
    write_fls(spark.read.parquet(f"{SF_DIR}/orders.parquet"), out)
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert files
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "o_orderkey"
            assert "DELTA_BINARY_PACKED" in col.encodings


@pytest.mark.parametrize("table", ["orders", "lineitem", "documents"])
def test_write_fls_v2_reads_back_like_v1_in_duckdb(spark, tmp_path, table):
    df = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
    v2, v1 = str(tmp_path / "v2"), str(tmp_path / "v1")
    write_fls(df, v2)
    df.write.option("compression", "zstd").parquet(v1)
    q = "SELECT count(*), sum(hash(COLUMNS(*))) FROM read_parquet('{}/*.parquet')"
    con = duckdb.connect()
    assert con.sql(q.format(v2)).fetchall() == con.sql(q.format(v1)).fetchall()


def test_row_group_size_must_be_multiple_of_1024(spark):
    with pytest.raises(ValueError, match="multiple of 1024"):
        write_fls(spark.range(10), "/tmp/never-written", row_group_size=1000)


def test_file_rotation(spark, tmp_path):
    """row_groups_per_file caps rows per file (reference A21 rotation)."""
    out = str(tmp_path / "rotated")
    df = spark.range(0, 10240).coalesce(1)
    write_fls(df, out, row_group_size=1024, row_groups_per_file=2)
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert len(files) >= 5  # 10240 rows / (2*1024 per file)
    assert read_fls(spark, out).count() == 10240


def test_file_row_number(spark, tmp_path):
    """file_row_number virtual column (reference A9) = per-file row offset."""
    out = str(tmp_path / "frn")
    spark.range(0, 100).coalesce(1).write.parquet(out)
    df = read_fls(spark, out, file_row_number=True)
    rows = df.select("id", "file_row_number").collect()
    assert sorted((r.id, r.file_row_number) for r in rows) == [(i, i) for i in range(100)]


def test_union_by_name(spark, tmp_path):
    """Multi-file scan with union_by_name (reference A2)."""
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    spark.range(0, 5).select(F.col("id"), F.lit("x").alias("tag")).write.parquet(a)
    spark.range(5, 10).select(F.lit("y").alias("tag"), F.col("id")).write.parquet(b)
    df = read_fls(spark, [a, b], union_by_name=True)
    assert df.count() == 10
    assert set(df.columns) == {"id", "tag"}


def test_explicit_cardinality_is_accepted(spark, tmp_path):
    out = str(tmp_path / "card")
    spark.range(0, 7).write.parquet(out)
    assert read_fls(spark, out, explicit_cardinality=100).count() == 7


def test_explicit_cardinality_keeps_union_by_name(spark, tmp_path):
    """The reference applies explicit_cardinality and union_by_name
    INDEPENDENTLY (fls_multi_file_info.cpp options): a mixed-schema
    directory read with both set must not lose columns absent from the
    footer-sampled schema."""
    root = str(tmp_path / "mixed")
    spark.range(0, 5).select(F.col("id")).write.parquet(root)
    spark.range(5, 10).select(
        F.col("id"), F.lit("y").alias("tag")
    ).write.mode("append").parquet(root)
    df = read_fls(spark, root, union_by_name=True, explicit_cardinality=100)
    assert set(df.columns) == {"id", "tag"}
    assert df.count() == 10


class TestSchemaPromotion:
    """PromoteType lattice (reference schema_builder.cpp:132-172)."""

    def test_int_widening(self):
        assert promote_type(T.ByteType(), T.LongType()) == T.LongType()
        assert promote_type(T.ShortType(), T.IntegerType()) == T.IntegerType()

    def test_float_widening(self):
        assert promote_type(T.FloatType(), T.DoubleType()) == T.DoubleType()

    def test_int_float_mix(self):
        assert promote_type(T.LongType(), T.FloatType()) == T.DoubleType()

    def test_string_wins(self):
        assert promote_type(T.LongType(), T.StringType()) == T.StringType()

    def test_identical(self):
        assert promote_type(T.DateType(), T.DateType()) == T.DateType()

    def test_name_mismatch_raises(self):
        s1 = T.StructType([T.StructField("a", T.IntegerType())])
        s2 = T.StructType([T.StructField("b", T.IntegerType())])
        with pytest.raises(ValueError, match="name mismatch"):
            promoted_schema([s1, s2])

    def test_promote_and_align_reads(self, spark, tmp_path):
        a = str(tmp_path / "pa")
        b = str(tmp_path / "pb")
        spark.range(0, 3).select(F.col("id").cast("int").alias("v")).write.parquet(a)
        spark.range(3, 6).select(F.col("id").cast("double").alias("v")).write.parquet(b)
        df = read_fls(spark, [a, b], promote_types=True)
        assert df.schema["v"].dataType == T.DoubleType()
        assert df.count() == 6
