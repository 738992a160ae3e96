"""Round-7: the ANN *serving* path — query-vector → top-k against the
IVF index as a parameterized library call (VERDICT r6 item 7 / the
ADVICE north-star "similarity search", completing the index-side ops in
extensions/similarity.py with the lookup side a retrieval service
actually calls).

Shape: the index is the corpus partitioned into k-means cells (the same
seeded fit as ``ann_ivf_kmeans``); a SERVING query is a handful of
vectors arriving from outside the engine, so its cell probes are
computed driver-side in NumPy (k×dim centroid matrix — microseconds)
and shipped as a BROADCAST probe table. The search is then one
broadcast equi-join on cell + per-query top-k window: cost proportional
to ``nprobe × cell_size × |queries|``, never a corpus scan, and no
cross join anywhere. At 100 TB the index side would be written
bucketed/partitioned BY cell so a serving probe prunes to the probed
cells' files alone (partition pruning does the math for us).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, memo, read_parquet, scoped_export_dir

#: Serving defaults: top-k size, planted query count, and the probe
#: width — the latency/recall knob a deployment tunes. Measured
#: recall@10 on the planted sf0.01 set: 0.875 at nprobe=4, 0.925 at 5,
#: 0.9875 at 6 (fixture has 8 cells; tests/test_ann_serving.py asserts
#: the ≥0.9 floor). At corpus scale the cell count grows with n
#: (occupancy-capped 4√n nlist), so nprobe=6 probes a vanishing fraction.
DEFAULT_K = 10
DEFAULT_NPROBE = 6
N_PLANTED = 8

def _ivf_centers(spark: SparkSession, sf_dir: str):
    """The IVF k-means centroid matrix, memoized: a serving path fits the
    index once per session and table, and every later query only probes."""

    def fit():
        import numpy as np
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        from desdb_spark.extensions.similarity import (
            IVF_FIT_SAMPLE_ROWS,
            _embeddings_count,
            _ivf_cell_count,
        )

        e = load_table(spark, sf_dir, "embeddings")
        vecs = e.select(F.col("embedding").cast("array<double>").alias("emb"))
        n = _embeddings_count(spark, sf_dir)
        n_cells = _ivf_cell_count(n)
        fit_input = vecs.select(array_to_vector("emb").alias("features"))
        if n > IVF_FIT_SAMPLE_ROWS:
            fit_input = fit_input.sample(fraction=IVF_FIT_SAMPLE_ROWS / n, seed=42)
        model = KMeans(k=n_cells, seed=42, maxIter=10).fit(fit_input)
        return np.stack(model.clusterCenters())

    return memo(spark, sf_dir, "embeddings", "ivf_centers", fit)


def planted_queries(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """Deterministic planted query set: the embeddings of the N_PLANTED
    smallest vec_ids, loaded driver-side — standing in for the external
    query vectors a serving call receives (bounded collect: 8 rows)."""
    e = load_table(spark, sf_dir, "embeddings")
    rows = (
        e.orderBy("vec_id")
        .limit(N_PLANTED)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .collect()
    )
    return [(int(r.vec_id), [float(x) for x in r.emb]) for r in rows]


def _query_candidates(
    spark: SparkSession,
    sf_dir: str,
    queries: list[tuple[int, list[float]]],
    nprobe: int,
) -> DataFrame:
    """The deduplicated candidate frame (query_id, nn_id, sim_micros)
    behind the serving top-k: probed cells' members scored against each
    query, similarity quantized ONCE to integer micro-units. Shared by
    the library rank (which divides back for display) and the
    registered arm's export, so the hashed report and the served
    results come from the same integers."""
    import numpy as np

    from desdb_spark.extensions.similarity import _ivf_assign, cosine, nearest_centroids

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    centers = _ivf_centers(spark, sf_dir)  # memoized: fit once per session

    # Index side: every corpus vector in its home cell (must be complete).
    index = _ivf_assign(vecs, centers, nprobe=1).select("vec_id", "emb", "cell")

    # Probe side: driver-side NumPy picks each query's nprobe nearest
    # cells — the serving-latency path; no Spark job needed for it.
    Q = np.stack([np.asarray(v, dtype="float64") for _, v in queries])
    order = nearest_centroids(Q, centers, nprobe)
    probe_rows = [
        (int(qid), list(vec), int(cell))
        for (qid, vec), cells in zip(queries, order)
        for cell in cells
    ]
    qdf = spark.createDataFrame(
        probe_rows, "query_id bigint, q_emb array<double>, cell int"
    )

    b = index.alias("b")
    q = qdf.alias("q")
    sim_micros = (
        F.round(cosine(F.col("q.q_emb"), F.col("b.emb")) * 1_000_000, 0)
        .cast("bigint")
    )
    return (
        F.broadcast(q)
        .join(
            b,
            (F.col("q.cell") == F.col("b.cell"))
            & (F.col("q.query_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("b.vec_id").alias("nn_id"),
            sim_micros.alias("sim_micros"),
        )
        # a vector probed via two cells must not appear twice
        .dropDuplicates(["query_id", "nn_id"])
    )


def _rank_topk(cand: DataFrame, k: int) -> DataFrame:
    """Deterministic top-k over the integer candidate frame: total
    order (sim_micros DESC, nn_id) — no float comparison anywhere."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_micros").desc(), F.col("nn_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "nn_id", "sim_micros")
        .orderBy("query_id", "rank")
    )


def ann_query_topk_lib(
    spark: SparkSession,
    sf_dir: str,
    queries: list[tuple[int, list[float]]] | None = None,
    k: int = DEFAULT_K,
    nprobe: int = DEFAULT_NPROBE,
) -> DataFrame:
    """Serve top-``k`` cosine neighbors for each (query_id, vector) from
    the IVF index; self-matches (nn_id == query_id) are excluded so a
    corpus-member query returns its true neighbors.

    Returns (query_id, rank, nn_id, cos_sim) with rank 1..k per query,
    deterministic for the seeded index (ties broken by nn_id; the
    similarity is ranked as integer micros and divided back for
    display, so the order is exactly the registered arm's).
    """
    if queries is None:
        queries = planted_queries(spark, sf_dir)
    cand = _query_candidates(spark, sf_dir, queries, nprobe)
    return _rank_topk(cand, k).select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "nn_id",
        (F.col("sim_micros").cast("double") / 1_000_000).alias("cos_sim"),
    )


#: Exported candidate table for the registered arm — same design and
#: r14 hardening as ann_pq.PQ_EXPORT_DIR (user+checkout-scoped static
#: path; every row carries a per-run run_token; the hashed frame
#: includes n_runs = count(distinct run_token), which is order-robust:
#: a torn/mixed concurrent export reds deterministically while a whole
#: stale same-code export hashes equal on content — see the PQ module
#: comment for the full rationale).
SERVING_EXPORT_DIR = scoped_export_dir("ann_serving")


def _serving_oracle() -> str:
    return f"""
        WITH a AS (
            SELECT * FROM read_parquet('{SERVING_EXPORT_DIR}/*.parquet')
        ), tok AS (
            SELECT CAST(count(DISTINCT run_token) AS BIGINT) AS n_runs
            FROM a
        ), r AS (
            SELECT query_id, nn_id, sim_micros,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY sim_micros DESC, nn_id
                   ) AS BIGINT) AS rank
            FROM a
        )
        SELECT query_id, rank, nn_id, sim_micros,
               (SELECT n_runs FROM tok) AS n_runs
        FROM r WHERE rank <= {DEFAULT_K}
        ORDER BY query_id, rank
    """


@register("ann_query_topk", oracle=_serving_oracle(), group="ann_serving")
def ann_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered arm of the serving path on the planted query set.

    Hash-oracle design (r13, extending VERDICT r12 item 5 to the second
    of the rows-only ANN trio): the candidate frame — every probed
    (query, neighbor) pair with its similarity quantized once to
    integer micros — is exported to ``SERVING_EXPORT_DIR`` and the
    top-{DEFAULT_K} is computed FROM that export under a total integer
    order (sim_micros DESC, nn_id), so the DuckDB oracle re-ranks the
    same stored integers and every hashed cell is exact. What stays
    approximate (and pytest-pinned, tests/test_ann_serving.py: recall
    ≥ 0.9 vs the exact GEMM) is WHICH candidates the IVF probe admits —
    the k-means index itself, which no SQL engine can replay.
    """
    from desdb_spark.extensions.ann_pq import new_run_token

    cand = _query_candidates(
        spark, sf_dir, planted_queries(spark, sf_dir), DEFAULT_NPROBE
    ).withColumn("run_token", F.lit(new_run_token()))
    cand.write.mode("overwrite").parquet(SERVING_EXPORT_DIR)
    a = read_parquet(spark, SERVING_EXPORT_DIR)
    # n_runs over the FULL export (like the oracle's CTE), attached as a
    # fitted driver scalar — never a 1-row crossJoin (the BNLJ lint).
    n_runs = int(a.agg(F.countDistinct("run_token")).first()[0])
    return _rank_topk(a, DEFAULT_K).withColumn(
        "n_runs", F.lit(n_runs).cast("bigint")
    )
