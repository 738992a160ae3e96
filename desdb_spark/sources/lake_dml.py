"""Round-8: lakehouse DML on the manifest table — the three mutation
shapes every production table format (Delta/Iceberg/Hudi, all public
designs) layers over immutable files:

* **copy-on-write MERGE** (`source_merge_upsert`): an upsert batch
  rewrites ONLY the data files whose manifest zone map can contain a
  matched key; untouched files are carried into the new manifest
  verbatim (same paths, zero bytes rewritten), inserts land in fresh
  files. At 100 TB this is the whole point of clustering + manifest
  stats: a range-local update batch touches a handful of files, not
  the table.
* **merge-on-read DELETE via deletion vectors**
  (`source_delete_vectors_read`): a delete commits only a tiny
  (file, position) vector — no data file is opened, let alone
  rewritten — and every subsequent read subtracts the vector with a
  broadcast anti-join. This is the O(deleted-rows) delete that makes
  GDPR-style point deletes affordable on append-only storage.
* **change data feed from a manifest diff** (`source_version_diff_cdf`):
  the row-level delta between two versions recovered purely from the
  file-level manifest diff — rows of removed-files EXCEPT ALL
  added-files are the before-images, the reverse are the after-images;
  unchanged rows inside rewritten files cancel. The shuffle cost is
  proportional to the REWRITTEN fraction, never the table.

Differential evidence: all three ops are hash-checked — DuckDB computes
the merged / deleted / delta state directly from the source table, so
the manifest machinery must reproduce exact row-level semantics. The
structural claims the value hash cannot carry (untouched files carried
forward by path, deletes writing no data files, touched-file counts)
are pinned in tests/test_lake_dml.py.

Float discipline: prices are quantized to integer cents at ingest and
every hashed aggregate sums BIGINTs (see the repo-wide cross-engine
float rules in SURVEY §2C notes).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from desdb_spark.registry import register
from desdb_spark.session import (
    dir_bytes,
    load_table,
    maybe_broadcast,
    read_parquet,
    table_bytes,
)
from desdb_spark.sources.sinks import _stage_dir
from desdb_spark.sources.time_travel import (
    commit_manifest,
    read_as_of,
    read_manifest,
    write_data_files,
    write_version,
)

#: Matched-update keys: every key divisible by UPD_MOD within the lowest
#: quarter of the key range — range-LOCAL by construction, so the
#: copy-on-write path has untouched upper-range files to carry forward.
UPD_MOD = 97
#: Inserted keys: divisible by INS_MOD, shifted past the existing range.
INS_MOD = 101
KEY_SHIFT = 600_000_000
#: The update bumps the stored price by this many cents.
BUMP_CENTS = 12_345
#: Merge-on-read delete predicate: keys divisible by DEL_MOD.
DEL_MOD = 89
#: Range-clustered file count for the staged table.
N_FILES = 4

#: The merged-state oracle CTE — the single definition of what the
#: v1→v2 merge must produce, shared by every op whose oracle is "the
#: merged end state" (merge_upsert here; vacuum and the cluster rewrite
#: in lake_maintenance; the view refresh in lake_ivm). One copy, so the
#: merge definition and its oracles cannot drift apart.
MERGED_STATE_CTE = f"""
    WITH merged AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100, 0) AS BIGINT)
                 + CASE WHEN o_orderkey % {UPD_MOD} = 0
                             AND o_orderkey <=
                                 (SELECT CAST(floor(max(o_orderkey)
                                      / CAST(4 AS DOUBLE)) AS BIGINT)
                                  FROM orders)
                        THEN {BUMP_CENTS} ELSE 0 END AS cents
        FROM orders
        UNION ALL
        SELECT o_orderkey + {KEY_SHIFT},
               CAST(round(o_totalprice * 100, 0) AS BIGINT)
        FROM orders WHERE o_orderkey % {INS_MOD} = 0
    )
"""


def _parse_ranges(entries: list) -> list:
    return [(e["path"], int(e["min"]), int(e["max"])) for e in entries]


def _zone_assign(ranges: list):
    """When-chain mapping a key to its (disjoint) file-range index, NULL
    if outside every range — the zone-map classify both merge paths use."""
    assign = F.when(F.col("k").between(ranges[0][1], ranges[0][2]), 0)
    for i, (_p, lo, hi) in enumerate(ranges[1:], start=1):
        assign = assign.when(F.col("k").between(lo, hi), i)
    return assign


def read_or_empty(
    spark: SparkSession, paths: list, schema: str = "k bigint, cents bigint"
) -> DataFrame:
    """Read a (possibly empty) file list — an empty manifest diff or a
    fully-pruned probe yields an empty frame, not a zero-arg read crash."""
    if not paths:
        return spark.createDataFrame([], schema)
    return read_parquet(spark, *sorted(paths))


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders as (k, cents): key + price quantized to integer cents, so
    every downstream aggregate is an exact BIGINT sum."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )


def build_merged_table(
    spark: SparkSession, sf_dir: str, root_name: str = "dml_merge_orders"
):
    """v1 = orders(k, cents) range-clustered into N_FILES files with
    per-file key zone maps in the manifest; v2 = copy-on-write MERGE of
    the deterministic update/insert batch. Returns
    (root, thr, n_total_files, n_touched_files) — the last two feed the
    pytest pin on rewrite targeting. Ops that MUTATE the table afterward
    (vacuum, restore) pass their own ``root_name`` so the read-only ops
    sharing the default root never observe their side effects.
    """
    base = _base(spark, sf_dir)
    root = _stage_dir(spark, root_name)
    clustered = base.repartitionByRange(N_FILES, "k").sortWithinPartitions("k")
    entries = write_version(clustered, root, 1, stats_col="k")

    # Driver-side scalar bound (single-row collect — the same shape as a
    # lakehouse engine reading its own table-level stats): the update
    # batch targets the lowest quarter of the key range.
    thr = int(
        base.agg(F.floor(F.max("k") / F.lit(4.0)).cast("bigint")).collect()[0][0]
    )

    upd = base.where((F.col("k") % UPD_MOD == 0) & (F.col("k") <= thr)).select(
        "k", (F.col("cents") + BUMP_CENTS).alias("new_cents")
    )
    ins = base.where(F.col("k") % INS_MOD == 0).select(
        (F.col("k") + KEY_SHIFT).alias("k"), "cents"
    )

    # Touched-file detection from manifest zone maps: assign each update
    # key to its (disjoint, sorted) file range with a when-chain — no
    # join, no driver-side key scan — then collect the ≤ N_FILES distinct
    # touched indices. At a million-file scale the same decision is a
    # range join of update keys against the manifest's sorted boundary
    # table; the decision data stays KB-sized either way.
    ranges = _parse_ranges(entries)
    touched_idx = sorted(
        r[0]
        for r in upd.select(_zone_assign(ranges).alias("f"))
        .where(F.col("f").isNotNull())
        .distinct()
        .collect()
    )
    touched = [ranges[i][0] for i in touched_idx]
    untouched = [e for e in entries if e["path"] not in set(touched)]

    # Rewrite ONLY the touched files: left-join the (broadcast) update
    # batch, coalesce in the new price; inserts append as fresh files.
    # The update batch is ~1/(4·UPD_MOD) of the base rows at a projection
    # no wider than the source row, so orders' on-disk bytes scaled by that
    # fraction bound the build side; past the threshold the planner joins
    # the batch by key.
    ob = table_bytes(sf_dir, "orders")
    upd_est = None if ob is None else ob // (4 * UPD_MOD)
    rewritten = (
        read_parquet(spark, *touched)
        .join(maybe_broadcast(upd, upd_est), on="k", how="left")
        .select("k", F.coalesce("new_cents", "cents").alias("cents"))
    )
    new_entries = write_data_files(
        rewritten.unionByName(ins), root, 2, stats_col="k"
    )
    commit_manifest(root, 2, untouched + new_entries)
    return root, thr, len(entries), len(touched)


def merge_into(spark: SparkSession, root: str, v_from: int, v_to: int, batch: DataFrame):
    """Generic copy-on-write MERGE of a (k, cents) upsert batch with
    SET-TO-VALUE semantics — replaying the same batch against the result
    reproduces it bit-for-bit, which is what makes this the correct
    foreachBatch body under checkpoint replay.

    Zone maps classify each batch key: keys inside some file's [min,max]
    MAY exist and full-outer-merge with exactly those files' rows (a
    range-candidate key that turns out absent still inserts — the full
    outer keeps it, so zone-map false positives cost a rewrite, never a
    row); keys outside every range are provably absent and insert
    directly. Commits v_to = untouched + rewritten + inserted; returns
    (n_total_files, n_touched_files)."""
    entries = read_manifest(root, v_from)
    ranges = _parse_ranges(entries)
    b = batch.select("k", "cents").withColumn("_f", _zone_assign(ranges))
    touched_idx = sorted(
        r[0]
        for r in b.select("_f").where(F.col("_f").isNotNull()).distinct().collect()
    )
    touched = [ranges[i][0] for i in touched_idx]
    untouched = [e for e in entries if e["path"] not in set(touched)]
    inserts = b.where(F.col("_f").isNull()).select("k", "cents")
    if touched:
        cand = b.where(F.col("_f").isNotNull()).select(
            "k", F.col("cents").alias("new_cents")
        )
        merged = (
            read_parquet(spark, *touched)
            .join(cand, on="k", how="full_outer")
            .select("k", F.coalesce("new_cents", "cents").alias("cents"))
        )
        new_df = merged.unionByName(inserts)
    else:
        new_df = inserts
    new_entries = write_data_files(new_df, root, v_to, stats_col="k")
    commit_manifest(root, v_to, untouched + new_entries)
    return len(entries), len(touched)


@register(
    "source_merge_upsert",
    oracle=MERGED_STATE_CTE
    + f"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS sum_cents,
               CAST(count(*) FILTER (WHERE k >= {KEY_SHIFT}) AS BIGINT)
                   AS n_inserted,
               CAST(max(k) AS BIGINT) AS max_key
        FROM merged
    """,
    group="lake_dml",
)
def source_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE end to end: build the two-version manifest
    table (v2 = v1 with a range-local upsert batch merged in, rewriting
    only zone-map-touched files), read v2, and aggregate — hashed
    against DuckDB computing the merged state directly from the source,
    so file targeting must be lossless: a single update silently dropped
    by a mistargeted zone map flips sum_cents.
    """
    root, _thr, _total, _touched = build_merged_table(spark, sf_dir)
    t = read_as_of(spark, root, 2)
    return t.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.count(F.when(F.col("k") >= KEY_SHIFT, 1))
        .cast("bigint")
        .alias("n_inserted"),
        F.max("k").cast("bigint").alias("max_key"),
    )


@register(
    "source_version_diff_cdf",
    oracle=f"""
        WITH thr AS (
            SELECT CAST(floor(max(o_orderkey) / CAST(4 AS DOUBLE)) AS BIGINT)
                AS t
            FROM orders
        ),
        upd AS (
            SELECT o_orderkey AS k,
                   CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
            FROM orders
            WHERE o_orderkey % {UPD_MOD} = 0
              AND o_orderkey <= (SELECT t FROM thr)
        ),
        ins AS (
            SELECT o_orderkey + {KEY_SHIFT} AS k,
                   CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
            FROM orders WHERE o_orderkey % {INS_MOD} = 0
        ),
        delta AS (
            SELECT 'added' AS change_type, k, cents + {BUMP_CENTS} AS cents
            FROM upd
            UNION ALL SELECT 'added', k, cents FROM ins
            UNION ALL SELECT 'removed', k, cents FROM upd
        )
        SELECT change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM delta GROUP BY change_type ORDER BY change_type
    """,
    group="lake_dml",
)
def source_version_diff_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed recovered from the manifest diff alone: files in
    v1-not-v2 hold the before-state, v2-not-v1 the after-state, and
    EXCEPT ALL in both directions yields exactly the changed rows —
    after-images of updates plus inserts as 'added', before-images as
    'removed' — because unchanged rows inside rewritten files appear
    identically on both sides and cancel. Hashed against DuckDB
    constructing the delta from the merge definition directly, proving
    the file-level diff loses and invents nothing.

    Scale shape: both EXCEPT ALL shuffles carry only the rewritten +
    inserted files' rows (the touched fraction), never the table; the
    manifest diff itself is driver-side set arithmetic over KBs.
    """
    root, *_ = build_merged_table(spark, sf_dir)
    v1 = {e["path"] for e in read_manifest(root, 1)}
    v2 = {e["path"] for e in read_manifest(root, 2)}
    pre = read_or_empty(spark, list(v1 - v2)).select("k", "cents")
    post = read_or_empty(spark, list(v2 - v1)).select("k", "cents")
    delta = (
        post.exceptAll(pre)
        .withColumn("change_type", F.lit("added"))
        .unionByName(pre.exceptAll(post).withColumn("change_type", F.lit("removed")))
    )
    return (
        delta.groupBy("change_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("change_type")
    )


def _with_pos(df: DataFrame) -> DataFrame:
    """Deterministic (file, position) identity: rank-by-key within each
    data file. Production deletion vectors address PHYSICAL row order;
    a key-rank stands in here because the only invariant merge-on-read
    needs is that the delete commit and every later read derive the
    SAME position for the same row — which this does by construction,
    where physical order under arbitrary split planning would not."""
    w = Window.partitionBy("_file").orderBy("k")
    return df.withColumn("_file", F.input_file_name()).withColumn(
        "_pos", F.row_number().over(w)
    )


@register(
    "source_delete_vectors_read",
    oracle=f"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(max(o_orderkey) AS BIGINT) AS max_key
        FROM orders WHERE o_orderkey % {DEL_MOD} <> 0
    """,
    group="lake_dml",
)
def source_delete_vectors_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE: commit a positional deletion vector for
    keys % DEL_MOD == 0 (a tiny (file, pos) parquet — zero data files
    rewritten, pinned in tests/test_lake_dml.py), then read the table
    with the vector subtracted via a broadcast anti-join and aggregate
    the survivors — hashed against DuckDB applying the predicate
    directly, so the positional round-trip must identify exactly the
    predicate's rows.

    Scale shape: the delete's write cost is O(deleted rows) of 16-byte
    entries; the read adds one broadcast anti-join (the vector is the
    small side by construction) and no shuffle of the table itself
    beyond the per-file position ranking.
    """
    base = _base(spark, sf_dir)
    root = _stage_dir(spark, "dml_dv_orders")
    clustered = base.repartitionByRange(N_FILES, "k").sortWithinPartitions("k")
    write_version(clustered, root, 1)
    dv_dir = os.path.join(root, "dv_v2")

    dv = (
        _with_pos(read_as_of(spark, root, 1))
        .where(F.col("k") % DEL_MOD == 0)
        .select("_file", "_pos")
    )
    dv.write.mode("overwrite").parquet(dv_dir)

    # Deletion vectors grow linearly with the table (1/DEL_MOD of rows);
    # the just-written dv directory's EXACT bytes gate the hint for free.
    alive = _with_pos(read_as_of(spark, root, 1)).join(
        maybe_broadcast(read_parquet(spark, dv_dir), dir_bytes(dv_dir)),
        on=["_file", "_pos"],
        how="left_anti",
    )
    return alive.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.max("k").cast("bigint").alias("max_key"),
    )
