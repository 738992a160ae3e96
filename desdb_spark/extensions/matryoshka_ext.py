"""Truncated-dimension retrieval recall — the evaluation that
decides whether prefix-truncated embeddings (Matryoshka Representation
Learning, Kusupati et al. 2022, public literature; now standard in
embedding APIs) can serve retrieval at a fraction of the storage/FLOP
cost: for each truncation d, what fraction of the FULL-dimension top-k
does the d-dim prefix reproduce? The curve (recall vs d) is the
knob-setting artifact a 100 TB vector pipeline produces before
committing to a cheaper index.

Scale shape: the Q query vectors are a bounded driver collect broadcast
into an Arrow GEMM kernel (knn_cosine_topk's exact discipline — the
shared ``vector_topk`` scores all Q queries against each corpus batch
per truncation, with the DuckDB-compatible half-away-from-zero 6 dp
round, and keeps each query's batch-local top-k); the emitted
(vec_id, d, qid, cos) stream is at most |DIMS|·Q·k rows per corpus
batch, reduced by per-(d, qid) top-k windows and an equi-join against
the d=full reference set. No pairwise join ever materializes:
corpus rows stream through the kernel once.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table

#: Truncation grid (the last entry is the full dimension = the recall
#: reference), query count, and neighbors per query.
DIMS = (8, 16, 32, 64)
N_QUERIES = 8
TOP_K = 10

_COS_SCHEMA = "vec_id bigint, d int, qid bigint, c double"


@register(
    "emb_truncation_recall_curve",
    oracle=f"""
        WITH dims AS (
            SELECT unnest([{", ".join(str(d) for d in DIMS)}]) AS d
        ), q AS (
            SELECT vec_id AS qid, embedding FROM embeddings
            WHERE vec_id < {N_QUERIES}
        ), cos AS (
            SELECT dims.d, q.qid, e.vec_id,
                   round(list_cosine_similarity(
                       CAST(list_slice(e.embedding, 1, dims.d) AS DOUBLE[]),
                       CAST(list_slice(q.embedding, 1, dims.d) AS DOUBLE[])),
                       6) AS c
            FROM dims, q, embeddings e
            WHERE e.vec_id <> q.qid
        ), topk AS (
            SELECT d, qid, vec_id FROM (
                SELECT d, qid, vec_id,
                       row_number() OVER (
                           PARTITION BY d, qid
                           ORDER BY c DESC, vec_id) AS rn
                FROM cos)
            WHERE rn <= {TOP_K}
        ), fullk AS (
            SELECT qid, vec_id FROM topk WHERE d = {DIMS[-1]}
        )
        SELECT CAST(t.d AS BIGINT) AS d_trunc,
               CAST(sum(CASE WHEN f.qid IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS sum_overlap,
               CAST({N_QUERIES * TOP_K} AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN f.qid IS NOT NULL THEN 1 ELSE 0 END)
                    * 1000000 // {N_QUERIES * TOP_K} AS BIGINT)
                   AS recall_micros
        FROM topk t LEFT JOIN fullk f
          ON t.qid = f.qid AND t.vec_id = f.vec_id
        GROUP BY t.d
        ORDER BY d_trunc
    """,
    group="matryoshka_ext",
)
def emb_truncation_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of each prefix truncation in {DIMS} against the
    full-dimension exact top-{TOP_K}, over the {N_QUERIES} lowest
    vec_ids: (d_trunc, sum_overlap, n_pairs, recall_micros) — one row
    per truncation, exact integer recall. The d=full row is the
    recall=1.0 anchor proving the reference set is consistent."""
    import numpy as np

    from desdb_spark.extensions.similarity import vector_topk

    e = load_table(spark, sf_dir, "embeddings")
    emb = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q_rows = sorted(
        emb.where(F.col("vec_id") < N_QUERIES).collect(),
        key=lambda r: r.vec_id,
    )
    q_ids = np.array([r.vec_id for r in q_rows])
    Q = np.array([r.v for r in q_rows])
    bc = spark.sparkContext.broadcast((q_ids, Q))

    def cos_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi, qm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy()
            M = np.stack(pdf["v"].to_numpy())
            frames = []
            for d in DIMS:
                # Each query's batch-local top-TOP_K under the window's
                # (c desc, vec_id asc) order: the global top-TOP_K is a
                # subset of their union. A truncated prefix that is all
                # zeros (possible even for a non-zero full vector) has
                # no cosine and is never kept.
                r, c, s = vector_topk(
                    qm[:, :d], ids, M[:, :d], np.linalg.norm(M[:, :d], axis=1),
                    k=TOP_K, mask=(np.not_equal, qi, ids),
                )
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": ids[c],
                            "d": np.full(len(r), d, dtype=np.int32),
                            "qid": qi[r],
                            "c": s,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    from desdb_spark.extensions.dedup import ensure_parallelism

    # The canonical conditional widener shuffles only an under-split
    # source; a literal repartition(8, vec_id) capped the CPU-bound cosine
    # GEMM at 8 tasks at any scale.
    cos = ensure_parallelism(emb).mapInPandas(cos_kernel, _COS_SCHEMA)
    w = Window.partitionBy("d", "qid").orderBy(F.col("c").desc(), "vec_id")
    topk = (
        cos.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("d", "qid", "vec_id")
    )
    fullk = topk.where(F.col("d") == DIMS[-1]).select(
        F.col("qid").alias("f_qid"), F.col("vec_id").alias("f_vec")
    )
    return (
        topk.join(
            F.broadcast(fullk),
            (F.col("qid") == F.col("f_qid")) & (F.col("vec_id") == F.col("f_vec")),
            "left",
        )
        .groupBy("d")
        .agg(
            F.sum(
                F.when(F.col("f_qid").isNotNull(), 1).otherwise(0)
            ).alias("n_overlap")
        )
        .select(
            F.col("d").cast("bigint").alias("d_trunc"),
            F.col("n_overlap").cast("bigint").alias("sum_overlap"),
            F.lit(N_QUERIES * TOP_K).cast("bigint").alias("n_pairs"),
            F.floor(F.col("n_overlap") * 1000000 / (N_QUERIES * TOP_K))
            .cast("bigint")
            .alias("recall_micros"),
        )
        .orderBy("d_trunc")
    )
