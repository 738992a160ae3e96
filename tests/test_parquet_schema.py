"""``session.read_parquet`` reads the schema Spark's own inference would
give, from one footer on the driver, and submits no Spark job for it."""

from __future__ import annotations

import datetime
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DateType

from desdb_spark.session import (
    TABLES,
    load_tables,
    parquet_schema,
    read_parquet,
)
from desdb_spark.sources.time_travel import read_as_of, write_version
from tests.conftest import SF_DIR

SF001 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def _same_as_spark(spark, *paths):
    expected = spark.read.parquet(*paths).schema
    assert parquet_schema(spark, *paths) == expected
    assert read_parquet(spark, *paths).schema == expected
    return expected


@pytest.mark.parametrize("name", TABLES)
def test_fixture_tables_match_spark(spark, name):
    _same_as_spark(spark, f"{SF001}/{name}.parquet")


def test_hive_partition_column_keeps_its_inferred_type(spark, tmp_path):
    out = str(tmp_path / "part")
    (
        spark.range(6)
        .select(
            F.col("id"),
            F.date_add(F.lit(datetime.date(2024, 1, 1)), (F.col("id") % 3).cast("int"))
            .alias("ts_day"),
        )
        .write.partitionBy("ts_day")
        .parquet(out)
    )
    schema = _same_as_spark(spark, out)
    assert isinstance(schema["ts_day"].dataType, DateType)
    assert read_parquet(spark, out).where("ts_day = DATE'2024-01-02'").count() == 2


def test_spark_row_metadata_wins_over_the_parquet_schema(spark, tmp_path):
    out = str(tmp_path / "meta")
    spark.range(3).select(
        F.col("id").alias("k", metadata={"comment": "row key"})
    ).write.parquet(out)
    # Only Spark's row metadata carries field metadata, so the helper read
    # it rather than converting the parquet schema.
    assert _same_as_spark(spark, out)["k"].metadata == {"comment": "row key"}


def test_pyarrow_files_match_spark(spark, tmp_path):
    ts = [datetime.datetime(2024, 1, 1, 12, 0), None]
    cases = {
        "int96": (
            pa.table({"t": pa.array(ts, pa.timestamp("us"))}),
            {"use_deprecated_int96_timestamps": True},
        ),
        "required": (
            pa.table(
                {"k": pa.array([1, 2], pa.int64())},
                schema=pa.schema([pa.field("k", pa.int64(), nullable=False)]),
            ),
            {},
        ),
        "utc": (pa.table({"t": pa.array(ts, pa.timestamp("us", tz="UTC"))}), {}),
        "local": (pa.table({"t": pa.array(ts, pa.timestamp("us"))}), {}),
    }
    got = {}
    for name, (table, kw) in cases.items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(table, path, **kw)
        got[name] = _same_as_spark(spark, path)
    assert got["required"]["k"].nullable  # Spark reads every column nullable
    assert got["int96"]["t"].dataType.simpleString() == "timestamp"
    assert got["utc"]["t"].dataType.simpleString() == "timestamp"
    assert got["local"]["t"].dataType.simpleString() == "timestamp_ntz"


def test_first_file_in_path_order_decides(spark, tmp_path):
    """Non-merging inference reads one file; a directory whose files
    disagree gets the first one's schema, and so does the helper."""
    d = tmp_path / "mixed"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-1.parquet"))
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), str(d / "part-0.parquet"))
    assert _same_as_spark(spark, str(d)).fieldNames() == ["a", "b"]
    assert _same_as_spark(spark, str(d / "part-1.parquet"), str(d / "part-0.parquet"))
    assert _same_as_spark(spark, str(d / "part-*.parquet")).fieldNames() == ["a", "b"]


def test_summary_file_comes_before_data_files(spark, tmp_path):
    d = tmp_path / "summary"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    pq.write_metadata(pa.schema([("a", pa.int64()), ("b", pa.string())]), str(d / "_metadata"))
    assert _same_as_spark(spark, str(d)).fieldNames() == ["a", "b"]
    pq.write_metadata(pa.schema([("a", pa.int64()), ("c", pa.int32())]), str(d / "_common_metadata"))
    assert _same_as_spark(spark, str(d)).fieldNames() == ["a", "c"]


def test_no_data_file_raises_sparks_own_error(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    for path in (str(empty), str(tmp_path / "missing")):
        with pytest.raises(Exception) as spark_err:
            spark.read.parquet(path).schema
        for helper in (read_parquet, parquet_schema):
            with pytest.raises(Exception) as ours:
                helper(spark, path)
            assert type(ours.value) is type(spark_err.value)
            assert ours.value.getCondition() == spark_err.value.getCondition()


def test_schema_merging_is_left_to_spark(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(2).write.parquet(a)
    spark.range(2).withColumn("extra", F.lit("x")).write.parquet(b)
    merged = read_parquet(spark, a, b, merge_schema=True)
    assert merged.schema == spark.read.option("mergeSchema", "true").parquet(a, b).schema
    assert "extra" in merged.columns


def _jobs_in(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_tables_and_read_as_of_submit_no_job(spark, tmp_path):
    # A private copy of the fixture gives fresh memo slots, so the
    # registration really reads every table.
    sf = tmp_path / "sf"
    sf.mkdir()
    for name in TABLES:
        shutil.copy(f"{SF001}/{name}.parquet", sf / f"{name}.parquet")
    # The probe sees the job Spark's own inference runs.
    assert _jobs_in(spark, "desdb-infer", lambda: spark.read.parquet(f"{sf}/region.parquet"))
    dfs = {}
    assert _jobs_in(spark, "desdb-load-tables", lambda: dfs.update(load_tables(spark, str(sf)))) == []
    assert sorted(dfs) == sorted(TABLES)

    root = str(tmp_path / "lake")
    write_version(spark.range(10).withColumnRenamed("id", "k"), root, 1)
    write_version(spark.range(10, 15).withColumnRenamed("id", "k"), root, 2)
    frames = []
    assert _jobs_in(spark, "desdb-read-as-of", lambda: frames.append(read_as_of(spark, root, 2))) == []
    assert frames[0].count() == 15
