"""Round-8c: leakage-safe train/valid/test split — split assignment at
the duplicate-CLUSTER grain, not the document grain.

`split_train_valid_test` (training_prep.py) hash-buckets each doc_id
independently; that is the standard shape but it LEAKS when the corpus
contains duplicates: two copies of the same page hash to different
splits, and the eval set now contains training text verbatim — the
exact failure `docs_eval_substring_contamination` exists to detect
after the fact. The production fix is to assign splits to duplicate
clusters, so every member of a near-dup component travels together and
cross-split duplicate pairs are ZERO by construction, not by audit.

The cluster definition is shared with ``dedup_cluster_components``
(``dup_edges``: identical-token-set class stars + lossless PPJoin
token-Jaccard ≥ 0.8 pairs between class representatives), so the
guarantee covers exactly the clusters the dedup tier would report. Docs
with no duplicate are their own cluster.

Scale shape: everything up to the component labels is the dedup tier's
own cost (bucketed candidate equi-joins, O(log d) star rounds); the
split itself adds one md5 per CLUSTER — a pure row function, no
shuffle — and the summary is one map-side-combinable aggregate. The
alternative (doc-grain split + post-hoc leaked-pair repair) re-runs
candidate generation across split boundaries; assigning at the cluster
grain makes that pass unnecessary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.extensions.dedup_components import (
    CLOSURE_CTES,
    cluster_assignments,
    dup_edges,
)
from desdb_spark.extensions.dedup import connected_components
from desdb_spark.registry import register
from desdb_spark.session import load_table

#: md5-hex-prefix split fences (house convention from
#: split_train_valid_test): < 0xcc train (~80%), < 0xe6 valid (~10%).
TRAIN_FENCE = "cc"
VALID_FENCE = "e6"


def _split_case(cluster_col: str) -> F.Column:
    b = F.substring(
        F.md5(F.col(cluster_col).cast("string").cast("binary")), 1, 2
    )
    return (
        F.when(b < TRAIN_FENCE, F.lit("train"))
        .when(b < VALID_FENCE, F.lit("valid"))
        .otherwise(F.lit("test"))
    )


@register(
    "split_cluster_safe",
    oracle=CLOSURE_CTES
    + f"""
        , comp AS (
            SELECT id AS doc_id, min(r) AS cluster_id
            FROM reach GROUP BY id
        ), allc AS (
            SELECT d.doc_id,
                   CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT)
                       AS cluster_id
            FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
        ), csize AS (
            SELECT cluster_id, count(*) AS sz FROM allc GROUP BY cluster_id
        ), tagged AS (
            SELECT a.doc_id, a.cluster_id, s.sz,
                   CASE WHEN substr(md5(CAST(a.cluster_id AS VARCHAR)), 1, 2)
                             < '{TRAIN_FENCE}' THEN 'train'
                        WHEN substr(md5(CAST(a.cluster_id AS VARCHAR)), 1, 2)
                             < '{VALID_FENCE}' THEN 'valid'
                        ELSE 'test' END AS split
            FROM allc a JOIN csize s ON s.cluster_id = a.cluster_id
        )
        SELECT split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
               CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_docs
        FROM tagged GROUP BY split ORDER BY split
    """,
    group="split_safe",
    # Same recursive-closure oracle bound as dedup_cluster_components:
    # quadratic in component size, intractable for DuckDB's
    # set-semantics recursion on the sf0.1 quasi-clique. The driver's
    # sf0.01 gate hashes it; past the cap selfcheck records rows-only.
    oracle_max_sf=0.01,
)
def split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-grain split summary: per split, document count, cluster
    count, and how many assigned docs belong to multi-doc duplicate
    clusters (the population the doc-grain split would have torn across
    fences). Split = md5 bucket of the cluster id, so membership is a
    pure function of the cluster — re-runnable and resumable, the
    training_prep discipline — and no duplicate pair ever straddles a
    split (pinned in tests/test_split_safe.py, alongside a proof that
    the doc-grain assignment DOES leak on this corpus).
    """
    d = load_table(spark, sf_dir, "documents")
    # r12c: the component assignment is the session-memoized shared
    # subplan (dedup_components.cluster_assignments) — this op and
    # dedup_cluster_components must agree on it anyway for the split
    # guarantee to cover the dedup tier's clusters.
    comp = cluster_assignments(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("cid")
    )
    allc = (
        d.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cid", "doc_id").cast("bigint").alias("cluster_id"),
        )
    )
    csize = allc.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    tagged = allc.join(csize, "cluster_id").select(
        "doc_id", "cluster_id", "sz", _split_case("cluster_id").alias("split")
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
            F.sum(F.when(F.col("sz") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_docs"),
        )
        .orderBy("split")
    )


def assign_cluster_split(d: DataFrame) -> DataFrame:
    """Per-doc assignment frame (doc_id, cluster_id, split) — the
    reusable surface for pipelines that need the labels, not the
    summary the registered op hashes."""
    comp = connected_components(dup_edges(d)).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("cid")
    )
    return (
        d.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cid", "doc_id").cast("bigint").alias("cluster_id"),
        )
        .withColumn("split", _split_case("cluster_id"))
    )
