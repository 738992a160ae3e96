"""Round-8: partition-spec evolution — the Iceberg capability (public
spec, "partition evolution") that Hive-style tables cannot express: a
table's partitioning CHANGES across commits (here: coarse ``year`` for
the historical era, fine ``(year, month)`` for the current era), old
files are NEVER rewritten, each manifest entry records its partition
values *under the spec it was written with*, and a read translates one
row-level predicate into each spec's partition test to prune both eras
correctly.

Scale shape: the whole point is metadata-only repartitioning — evolving
the spec costs ZERO data movement (contrast a Hive table, where
re-partitioning rewrites every byte). Pruning is decided per manifest
entry from its recorded partition tuple (KBs of JSON, no directory
listing, no footer opens); the fine-grained era prunes to exact months
while the coarse era degrades gracefully to year granularity — files
that straddle the predicate are read and re-filtered, so pruning is
lossless by construction at any spec mix.

The op is hash-checked: the pruned two-era read's aggregate over a
date range spanning the spec boundary must equal DuckDB filtering the
source table directly; per-era row counts in the output prove both
specs contributed. The pruning RATIO (files skipped per spec) is
pinned in tests/test_lake_partition_evo.py — file counts are layout
facts, not value facts.
"""

from __future__ import annotations

import glob
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, read_parquet

#: Spec boundary: orders before PIVOT commit under spec 1 (year), the
#: rest under spec 2 (year, month). The query range spans the pivot.
PIVOT_DATE = "1998-01-01"
QUERY_LO = "1997-10-01"
QUERY_HI = "1998-03-01"  # exclusive


def _write_era(
    df: DataFrame, root: str, era: int, part_cols: list[str]
) -> list[dict]:
    """Write one era's files Hive-layout-partitioned by ``part_cols``
    and return manifest entries recording each file's partition tuple
    under its own spec (spec id = era)."""
    out = os.path.join(root, f"data_v{era}")
    df.write.mode("overwrite").partitionBy(*part_cols).parquet(out)
    entries = []
    for p in sorted(
        glob.glob(os.path.join(out, *["*"] * len(part_cols), "*.parquet"))
    ):
        part = {
            k: int(v) for k, v in re.findall(r"([a-z_]+)=(\d+)", p)
        }
        entries.append({"path": p, "spec": era, "part": part})
    return entries


def commit_evolved_table(spark: SparkSession, sf_dir: str) -> str:
    """Build the two-era table: era 1 partitioned by p_year, era 2 by
    (p_year, p_month); one manifest naming both eras' files."""
    from desdb_spark.sources.sinks import _stage_dir

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        F.year("o_orderdate").alias("p_year"),
        F.month("o_orderdate").alias("p_month"),
    )
    root = _stage_dir(spark, "evo_orders")
    e1 = _write_era(
        o.where(F.col("o_orderdate") < PIVOT_DATE).drop("p_month"),
        root,
        1,
        ["p_year"],
    )
    e2 = _write_era(
        o.where(F.col("o_orderdate") >= PIVOT_DATE), root, 2, ["p_year", "p_month"]
    )
    os.makedirs(os.path.join(root, "manifest"), exist_ok=True)
    with open(os.path.join(root, "manifest", "v2.json"), "w") as fh:
        json.dump({"version": 2, "files": e1 + e2}, fh)
    return root


def prune_entries(entries: list[dict], lo: str, hi: str) -> list[dict]:
    """Translate the [lo, hi) date predicate into each entry's OWN spec:
    spec 1 keeps overlapping years; spec 2 keeps overlapping exact
    (year, month) tuples. Inclusive at both partition bounds — a kept
    file is re-filtered row-level, a skipped file provably holds no
    qualifying row."""
    lo_y, lo_m = int(lo[:4]), int(lo[5:7])
    # hi is exclusive: the last potentially-qualifying month
    hi_y, hi_m = int(hi[:4]), int(hi[5:7])
    if hi[8:10] == "01":
        hi_m -= 1
        if hi_m == 0:
            hi_y, hi_m = hi_y - 1, 12
    kept = []
    for e in entries:
        p = e["part"]
        if e["spec"] == 1:
            if lo_y <= p["p_year"] <= hi_y:
                kept.append(e)
        else:
            ym = p["p_year"] * 100 + p["p_month"]
            if lo_y * 100 + lo_m <= ym <= hi_y * 100 + hi_m:
                kept.append(e)
    return kept


@register(
    "source_partition_evolution_read",
    oracle=f"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               min(o_orderdate) AS min_date,
               max(o_orderdate) AS max_date,
               CAST(sum(CASE WHEN o_orderdate < DATE '{PIVOT_DATE}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_rows_era1,
               CAST(sum(CASE WHEN o_orderdate >= DATE '{PIVOT_DATE}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_rows_era2
        FROM orders
        WHERE o_orderdate >= DATE '{QUERY_LO}'
          AND o_orderdate < DATE '{QUERY_HI}'
    """,
    group="lake_partition_evo",
)
def source_partition_evolution_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-spec pruned read across the evolution boundary: commit the
    orders table as a coarse-partitioned historical era plus a
    fine-partitioned current era, prune each era's files under its own
    spec for the [{QUERY_LO}, {QUERY_HI}) range, and aggregate — with
    per-era row counts proving both specs supplied data."""
    root = commit_evolved_table(spark, sf_dir)
    with open(os.path.join(root, "manifest", "v2.json")) as fh:
        entries = json.load(fh)["files"]
    kept = prune_entries(entries, QUERY_LO, QUERY_HI)
    df = (
        read_parquet(spark, *[e["path"] for e in kept])
        .where(
            (F.col("o_orderdate") >= QUERY_LO)
            & (F.col("o_orderdate") < QUERY_HI)
        )
    )
    return df.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
        F.sum(
            F.when(F.col("o_orderdate") < PIVOT_DATE, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_rows_era1"),
        F.sum(
            F.when(F.col("o_orderdate") >= PIVOT_DATE, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_rows_era2"),
    )
