"""Round-8: lakehouse table maintenance — the three operational
workflows that keep a manifest table healthy in production (all public
Delta/Iceberg designs):

* **VACUUM** (`source_vacuum_retention`): physically delete data files
  referenced by NO retained version. Liveness is the dangerous part —
  the hash gate proves the retained snapshot reads identically after
  the deletes, while tests/test_lake_maintenance.py pins that the
  orphans really were removed from disk.
* **RESTORE** (`source_restore_version`): roll the table back to an
  earlier version by committing that version's manifest AS A NEW
  version — O(manifest KBs), zero data movement, history preserved.
* **write-audit-publish** (`source_wap_publish`): stage a candidate
  append's data files WITHOUT committing, audit them (NULL keys,
  key-uniqueness vs main), and publish only on a clean audit. A
  rejected batch leaves zero trace in the manifest chain — the staged
  files are simply never named.

Scale shapes: vacuum's decision set is manifest paths vs a directory
listing (metadata only; the listing is the cost at scale and is done
once); restore moves no data; WAP's audit is one scan of the CANDIDATE
files plus a broadcast uniqueness probe against main's keys — the
candidate, not the table, sets the cost.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import dir_bytes, load_table, maybe_broadcast, read_parquet
from desdb_spark.sources.lake_dml import (
    MERGED_STATE_CTE,
    N_FILES,
    build_merged_table,
)
from desdb_spark.sources.sinks import _stage_dir
from desdb_spark.sources.time_travel import (
    commit_manifest,
    read_as_of,
    read_manifest,
    write_data_files,
    write_version,
)

#: WAP: keys divisible by this get a planted NULL in the bad batch.
BAD_NULL_MOD = 13
PIVOT_DATE = "1998-01-01"


def vacuum(root: str, keep_versions: list) -> tuple:
    """Delete every data file not referenced by any retained version.
    Returns (sorted deleted paths, sorted retained paths)."""
    referenced: set = set()
    for v in keep_versions:
        for e in read_manifest(root, v):
            referenced.add(e["path"] if isinstance(e, dict) else e)
    on_disk = set(glob.glob(os.path.join(root, "data_v*", "*.parquet")))
    orphans = sorted(on_disk - referenced)
    for p in orphans:
        os.remove(p)
    return orphans, sorted(referenced)


def restore_version(root: str, src_version: int, new_version: int) -> list:
    """RESTORE: re-commit ``src_version``'s manifest as ``new_version``."""
    return commit_manifest(root, new_version, read_manifest(root, src_version))


@register(
    "source_vacuum_retention",
    oracle=MERGED_STATE_CTE
    + """
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS sum_cents,
               CAST(max(k) AS BIGINT) AS max_key
        FROM merged
    """,
    group="lake_maintenance",
)
def source_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the two-version merged table, vacuum with only v2 retained
    (v1's rewritten-away files become orphans), then read v2 and
    aggregate — hashed against DuckDB computing the merged state from
    the source, so an over-eager vacuum that deletes a LIVE file fails
    the gate with a missing-file read error, and an under-count shows
    in tests/test_lake_maintenance.py's deleted-orphans pin.
    """
    root, _thr, _total, _touched = build_merged_table(
        spark, sf_dir, root_name="dml_vacuum_orders"
    )
    vacuum(root, keep_versions=[2])
    t = read_as_of(spark, root, 2)
    return t.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.max("k").cast("bigint").alias("max_key"),
    )


@register(
    "source_restore_version",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(max(o_orderkey) AS BIGINT) AS max_key
        FROM orders
    """,
    group="lake_maintenance",
)
def source_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE after a bad merge: v1 = orders, v2 = the merge, v3 =
    RESTORE to v1 — reading v3 must reproduce the ORIGINAL table
    exactly (hashed against DuckDB on the unmodified source), while v2
    stays readable in history. The commit moves zero data bytes.
    """
    root, *_ = build_merged_table(spark, sf_dir, root_name="dml_restore_orders")
    restore_version(root, src_version=1, new_version=3)
    t = read_as_of(spark, root, 3)
    return t.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.max("k").cast("bigint").alias("max_key"),
    )


def wap_commit(
    spark: SparkSession, root: str, v_from: int, candidate: DataFrame
) -> bool:
    """Write-audit-publish one append: stage the candidate's data files,
    audit them (no NULL keys; keys unique within the batch and absent
    from main), and commit main + candidate as v_from+1 only on a clean
    audit. Returns whether the batch published. The audit scans the
    staged files — what was actually written, not the logical plan —
    and probes main with a broadcast semi-join on the candidate's keys.
    """
    v_to = v_from + 1
    entries = write_data_files(candidate, root, v_to, stats_col=None)
    staged = read_parquet(spark, *entries)
    main = read_as_of(spark, root, v_from).select("k")
    # One aggregate pass over the staged files yields both local checks:
    # nulls = count(*) - count(k); in-batch dups = count(k) - distinct.
    n_total, n_keys, n_distinct = staged.agg(
        F.count("*"), F.count("k"), F.countDistinct("k")
    ).collect()[0]
    # The probe's build side is the staged batch's key set — batch-sized,
    # which a caller does not bound; the staged files' bytes gate the hint.
    n_dup_vs_main = main.join(
        maybe_broadcast(
            staged.select("k").where(F.col("k").isNotNull()).distinct(),
            dir_bytes(os.path.join(root, f"data_v{v_to}")),
        ),
        on="k",
        how="left_semi",
    ).count()
    if (n_total - n_keys) or (n_keys - n_distinct) or n_dup_vs_main:
        return False
    commit_manifest(root, v_to, read_manifest(root, v_from) + entries)
    return True


@register(
    "source_wap_publish",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(max(o_orderkey) AS BIGINT) AS max_key,
               CAST(1 AS BIGINT) AS n_published,
               CAST(1 AS BIGINT) AS n_rejected
        FROM orders
    """,
    group="lake_maintenance",
)
def source_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish end to end: v1 = pre-pivot orders; a VALID
    append (the post-pivot rest) audits clean and publishes as v2; a
    BAD batch (planted NULL keys plus keys duplicating main) is staged,
    fails audit, and is never committed. The final readable state must
    therefore equal exactly the full orders table — hashed against
    DuckDB — with (n_published, n_rejected) = (1, 1) carried in the
    output so a silently-published bad batch or silently-dropped good
    batch each breaks the hash twice (counts AND content).
    """
    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        "o_orderdate",
    )
    pre = src.where(F.col("o_orderdate") < PIVOT_DATE).select("k", "cents")
    root = _stage_dir(spark, "dml_wap_orders")
    write_version(
        pre.repartitionByRange(4, "k").sortWithinPartitions("k"),
        root,
        1,
        stats_col="k",
    )

    post = src.where(F.col("o_orderdate") >= PIVOT_DATE).select("k", "cents")
    good = post
    # Bad batch: NULL out some keys AND duplicate some of main's keys.
    bad = post.select(
        F.when(F.col("k") % BAD_NULL_MOD == 0, None)
        .otherwise(F.col("k"))
        .alias("k"),
        "cents",
    ).unionByName(pre.orderBy("k").limit(5))

    published = wap_commit(spark, root, 1, good)
    rejected = not wap_commit(spark, root, 2, bad)

    latest = 2 if published else 1
    t = read_as_of(spark, root, latest)
    return t.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.max("k").cast("bigint").alias("max_key"),
        F.lit(1 if published else 0).cast("bigint").alias("n_published"),
        F.lit(1 if rejected else 0).cast("bigint").alias("n_rejected"),
    )


@register(
    "source_cluster_rewrite",
    oracle=MERGED_STATE_CTE
    + f"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS sum_cents,
               CAST(max(k) AS BIGINT) AS max_key,
               CAST({N_FILES} AS BIGINT) AS n_files
        FROM merged
    """,
    group="lake_maintenance",
)
def source_cluster_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE: each merge grows the file count (untouched +
    rewritten + insert files) — broadcast-merge rewrites preserve
    within-file clustering, but fragments accumulate commit over
    commit, and fragment count is what kills scan planning at scale.
    The cluster rewrite re-sorts the table into exactly N_FILES
    range-disjoint files and commits v3; content preservation is
    hashed (v3 must equal the merged state AND land in exactly
    N_FILES files), and the compaction + pairwise-disjoint v3 zone
    maps are pinned in tests/test_lake_maintenance.py.

    Scale shape: one repartitionByRange shuffle of the table — the
    standard amortized cost of OPTIMIZE, paid once so every later
    range query reads files ∝ selectivity. History keeps v2, so the
    rewrite is as safe as any other commit (RESTORE undoes it).
    """
    root, *_ = build_merged_table(spark, sf_dir, root_name="dml_optimize_orders")
    t = read_as_of(spark, root, 2)
    entries = write_data_files(
        t.repartitionByRange(N_FILES, "k").sortWithinPartitions("k"),
        root,
        3,
        stats_col="k",
    )
    commit_manifest(root, 3, entries)
    t3 = read_as_of(spark, root, 3)
    return t3.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.max("k").cast("bigint").alias("max_key"),
        F.lit(len(entries)).cast("bigint").alias("n_files"),
    )
