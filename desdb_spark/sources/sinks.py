"""Sinks: formatted result output (SURVEY.md §2A A2, §2B sinks).

Reference parity: desdb's ``quickWrite`` streamed Oracle cursor batches to
CSV / space / tab / JSON with a header line [desdb:desdb.py quickWrite —
SURVEY.md §0]; ``des-query -f`` exposed it on the CLI (A11). The engine
maps formats to distributed ``df.write`` (parquet/csv/json) and provides a
driver-streamed stdout writer for CLI parity.

Scale notes (100 TB): ``df.write`` is executor-parallel — each task writes
its partition; no driver materialization. The stdout writer streams via
``toLocalIterator`` (one partition in driver memory at a time) — it exists
for CLI parity, not for bulk export. Sink ops re-read what they wrote and
return counts, so the rows-only check verifies a write→read round trip.
"""

from __future__ import annotations

import csv
import io
import json
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, read_parquet


def _stage_dir(spark: SparkSession, fmt: str) -> str:
    """Deterministic per-(session, fmt) staging path: repeated invocations
    overwrite in place instead of leaking a fresh tempdir per call."""
    import os

    app = spark.sparkContext.applicationId
    return os.path.join(tempfile.gettempdir(), f"desdb_stage_{fmt}_{app}")


def _roundtrip(df: DataFrame, fmt: str) -> DataFrame:
    """Write df out in ``fmt``, read it back, return count-by-format proof."""
    spark = df.sparkSession
    out = _stage_dir(spark, fmt)
    writer = df.write.mode("overwrite")
    if fmt == "parquet":
        writer.parquet(out)
        back = read_parquet(spark, out)
    elif fmt == "csv":
        writer.option("header", True).csv(out)
        back = spark.read.option("header", True).schema(df.schema).csv(out)
    elif fmt == "json":
        writer.json(out)
        back = spark.read.schema(df.schema).json(out)
    else:
        raise ValueError(fmt)
    return back.agg(
        F.lit(fmt).alias("format"),
        F.count("*").alias("row_cnt"),
        F.countDistinct("o_orderkey").alias("distinct_keys"),
    )


def _sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def _sink_oracle(fmt: str) -> str:
    """Hash upgrade (VERDICT r6 item 4 discipline): the sink proof —
    row count + key cardinality of the re-read output — equals the same
    aggregate DuckDB computes on the source table, so a lossy write or
    partial read fails the differential gate instead of passing a
    rows-only count."""
    return f"""
        SELECT '{fmt}' AS format, CAST(count(*) AS BIGINT) AS row_cnt,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS distinct_keys
        FROM orders
    """


@register("sink_parquet", oracle=_sink_oracle("parquet"), group="sinks")
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet write→read round trip."""
    return _roundtrip(_sample(spark, sf_dir), "parquet")


@register("sink_csv", oracle=_sink_oracle("csv"), group="sinks")
def sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV (header=True) write→read round trip — the quickWrite CSV format."""
    return _roundtrip(_sample(spark, sf_dir), "csv")


@register("sink_json", oracle=_sink_oracle("json"), group="sinks")
def sink_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write→read round trip — the quickWrite JSON format."""
    return _roundtrip(_sample(spark, sf_dir), "json")


@register(
    "sink_sorted_parquet",
    # Hash upgrade (VERDICT r6 item 4): the registered proof is the
    # CONTENT roundtrip — write sorted, read back, aggregate — exactly
    # the CSV/JSON roundtrip discipline. The per-file layout profile
    # depends on sampled range bounds (nondeterministic file split
    # points), so it stays a pytest-asserted diagnostic
    # (lake_ext.sorted_layout_profile) rather than part of the hashed
    # contract. Moved here from sources/lake_ext.py: it IS a sink, and
    # the write paths live together.
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               round(min(o_totalprice), 2) AS min_price,
               round(max(o_totalprice), 2) AS max_price
        FROM orders
    """,
    group="sinks",
)
def sink_sorted_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered sorted layout: ``repartitionByRange`` on the sort
    key then ``sortWithinPartitions`` before the write, yielding files
    with DISJOINT key ranges, each internally sorted — the zone-map
    layout that lets any min/max-aware reader (parquet row-group stats,
    every lakehouse format) prune key-range queries to a handful of
    files. Layout properties (disjoint ranges, in-file sortedness) are
    asserted footer-level in tests/test_lake_ext.py via
    ``sorted_layout_profile``; the hashed return value proves the
    roundtrip preserved every row (count, key cardinality, exact cents
    total, extrema) against DuckDB aggregating the source directly.

    Scale shape: one range exchange (sampled bounds) + in-partition sort
    — the standard clustering pass; file count = shuffle partitions, so
    size files by targeting ~1 GB per range at the real scale.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    out = _stage_dir(spark, "lake_sorted_orders")
    (
        o.repartitionByRange(8, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = read_parquet(spark, out)
    return back.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


def write_stream_stdout(df: DataFrame, fmt: str = "csv", out=None) -> int:
    """des-query-style formatted stdout writer (A2/A11 parity).

    Streams one partition at a time through the driver; returns row count.
    Formats: csv, tsv, space, json — desdb's quickWrite format list.
    """
    import sys

    out = out or sys.stdout
    cols = df.columns
    n = 0
    if fmt == "json":
        for row in df.toLocalIterator():
            out.write(json.dumps(row.asDict(), default=str) + "\n")
            n += 1
        return n
    delim = {"csv": ",", "tsv": "\t", "space": " "}[fmt]
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=delim, lineterminator="\n")
    w.writerow(cols)
    for row in df.toLocalIterator():
        w.writerow(row)
        n += 1
        if buf.tell() > 1 << 16:
            out.write(buf.getvalue())
            buf.seek(0)
            buf.truncate()
    out.write(buf.getvalue())
    return n
