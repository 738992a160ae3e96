"""Training-data mining: hard negatives, whitening, temperature-mixed
sampling weights.

Three ops a contrastive-training pipeline runs right after dedup:

- **Hard-negative mining**: for each anchor embedding, the most similar
  embedding of a DIFFERENT label — the negatives that actually move a
  contrastive loss (Robinson et al., "Contrastive learning with hard
  negative samples", ICLR 2021 — public literature). Same broadcast-
  index blocked-GEMM kernel as knn_cosine_topk, with a label mask.
- **Whitening**: Gram → covariance → inverse Cholesky projection, the
  ZCA/PCA-whitening step that decorrelates embedding dims before
  near-dup thresholding; the d×d factor is driver-side math (d=64),
  the projection is Arrow-batched matrix multiply against the
  broadcast factor.
- **Temperature-mixed sampling weights**: per-source sampling
  probabilities p_s ∝ tokens_s^τ (τ<1 upweights small sources — the
  multilingual-mixing rule from public LM-training practice), plus
  expected tokens drawn per source at a fixed budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table

#: Deterministic anchor predicate: every 50th vec_id is an anchor.
ANCHOR_MOD = 50

#: Mixing temperature for corpus_temperature_mix.
TAU = 0.7

#: Per-epoch token budget the expected-draw column is scaled to.
BUDGET_TOKENS = 1_000_000


@register(
    "knn_hard_negatives",
    oracle=f"""
        WITH anchors AS (
            -- NULL embeddings have no cosine: excluded on BOTH sides,
            -- matching the Spark plan's query-side filter and the
            -- shared index's NULL drop (this per-anchor rn=1 oracle
            -- would otherwise still emit a NULL-cos row per NULL
            -- anchor, unlike the threshold/LIMIT oracles where NULL
            -- cosines self-filter).
            SELECT vec_id, embedding, label FROM embeddings
            WHERE vec_id % {ANCHOR_MOD} = 0 AND embedding IS NOT NULL
        ), scored AS (
            SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
                   b.vec_id AS negative_id,
                   round(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY round(list_cosine_similarity(
                           CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[])), 6) DESC,
                           b.vec_id) AS rn
            FROM anchors a JOIN embeddings b
              ON b.label <> a.label AND b.embedding IS NOT NULL
        )
        SELECT anchor_id, anchor_label, negative_id, cos_sim
        FROM scored WHERE rn = 1
    """,
    group="mining_ext",
)
def knn_hard_negatives(
    spark: SparkSession, sf_dir: str, allow_approx_fallback: bool = True
) -> DataFrame:
    """For every anchor (deterministic 1-in-{ANCHOR_MOD} sample of
    embeddings), the single most-similar OTHER-label embedding — the
    hard negative a contrastive batch builder pairs it with.

    Scale shape: identical to the exact knn tier — the index
    (ids, matrix, norms, labels) broadcasts once, and each Arrow batch of
    anchors runs ``vector_topk`` with a cross-label mask and k = 1, so
    only one row per anchor leaves the kernel and the merge is |anchors|
    rows. Labels ride the shared ``_embedding_index`` broadcast (no
    second driver materialization), so this op's driver footprint is
    exactly the knn tier's, under the same ``choose_tier`` cap. Past the
    cap the LSH-bucketed tier runs with the same mask inside each bucket,
    then keeps each anchor's best across bands: a per-bucket argmax is a
    valid hard negative — contrastive batch builders need A hard
    negative, not THE global argmax — but an anchor that shares no band
    with an other-label vector drops out (forced-tier pin in
    tests/test_mining_ext.py: every emitted pair exact and cross-label,
    fixture recall vs the exact argmax pinned). An anchor with no
    other-label candidate at all (single-label corpus, or every
    cross-label cosine scrubbed) emits nothing, matching the oracle's
    inner join on label <> label.

    Rounding and tie-breaks follow the knn ops: half-away-from-zero at
    6 dp in the kernel (DuckDB-compatible), then smallest candidate id
    among rounded ties — the oracle's (rounded desc, id asc) ordering
    verbatim; the cross-band winner is picked by the same order.
    """
    import numpy as np

    from pyspark.sql import Window

    from desdb_spark.extensions.similarity import (
        _banded_sigs,
        _embeddings_count,
        _fallback_geometry,
        bucketed_tier,
        choose_tier,
        exact_scan,
        vector_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    bc = choose_tier(spark, sf_dir, "knn_hard_negatives", allow_approx_fallback)
    if bc is None:
        geometry = _fallback_geometry(_embeddings_count(spark, sf_dir))
        sigs = _banded_sigs(
            e.where(F.col("embedding").isNotNull()), *geometry, payload=("emb", "label")
        )
        per_band = bucketed_tier(
            sigs, (np.not_equal, "label"), k=1,
            queries=lambda ids: ids % ANCHOR_MOD == 0, carry=("label",),
        )
        w = Window.partitionBy("vec_a").orderBy(F.desc("cos_sim"), F.asc("vec_b"))
        return (
            per_band.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                F.col("vec_a").alias("anchor_id"),
                F.col("label").alias("anchor_label"),
                F.col("vec_b").alias("negative_id"),
                "cos_sim",
            )
            .orderBy("anchor_id")
        )

    def block_negatives(pdf, Q, index):
        ids, M, norms, labels = index
        q_labels = pdf["label"].to_numpy()
        r, c, s = vector_topk(
            Q, ids, M, norms, k=1, mask=(np.not_equal, q_labels, labels)
        )
        return {
            "anchor_id": pdf["vec_id"].to_numpy()[r],
            "anchor_label": q_labels[r],
            "negative_id": ids[c],
            "cos_sim": s,
        }

    return exact_scan(
        spark, e.where(F.col("vec_id") % ANCHOR_MOD == 0), bc, block_negatives,
        "anchor_id bigint, anchor_label int, negative_id bigint, cos_sim double",
        cols=("label",),
    ).orderBy("anchor_id")


@register("emb_whiten_project", group="mining_ext")  # rows-only: float matrix math
def emb_whiten_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whiten the embedding table (PCA-whitening via the covariance's
    Cholesky factor) and report the per-dimension mean and variance of
    the whitened output — which must be ~0 and ~1; the identity-
    covariance check to full precision lives in tests/test_mining_ext.py.

    Scale shape: covariance comes from the distributed Gram matrix
    (d² partials per task — extensions/linalg_ext.py); the d×d Cholesky
    inverse is driver-side NumPy (microseconds at d=64, and d never
    scales with data); the projection broadcasts the factor and runs
    one GEMM per Arrow batch. Nothing quadratic in rows anywhere.
    """
    import numpy as np

    from desdb_spark.extensions.linalg_ext import gram_matrix

    # NULL vectors carry nothing to whiten and would crash the
    # projection's np.stack; they must also be excluded from n, or the
    # mean/covariance denominators count rows the sums never saw (the
    # same NULL-vector contract as knn_hard_negatives).
    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = e.count()
    if n == 0:
        # Degenerate fit (empty corpus or every embedding NULL): raising
        # is this op's documented contract class (REQUIRES_NONEMPTY_INPUT
        # in tests/test_empty_inputs.py) — make it a clean signal instead
        # of max() over an empty sequence.
        raise ValueError("emb_whiten_project: no non-NULL embeddings to fit")
    # Per-dimension mean: posexplode + groupBy(dim) — 64 partial sums per
    # task via map-side combine, never an array-of-arrays buffer.
    mean_rows = (
        e.select(F.posexplode(F.col("embedding").cast("array<double>")))
        .groupBy("pos")
        .agg(F.sum("col").alias("s"))
        .collect()
    )
    # Embedding dimension comes from the data (max seen position), not a
    # literal — a fixture with d != 64 would otherwise mis-size the mean
    # and silently corrupt the covariance.
    d = 1 + max(r.pos for r in mean_rows)
    mean = np.zeros(d)
    for r in mean_rows:
        mean[r.pos] = r.s / n
    g = gram_matrix(e)
    G = np.zeros((d, d))
    for r in g.collect():
        G[r.i, r.j] = r.value
        G[r.j, r.i] = r.value
    cov = G / n - np.outer(mean, mean)
    # PCA whitening: W = L^-T for cov = L L^T; x_w = (x - mean) @ W.
    L = np.linalg.cholesky(cov + 1e-9 * np.eye(d))
    Wm = np.linalg.inv(L).T
    bc = spark.sparkContext.broadcast((mean, Wm))

    def project(batches):
        import pandas as pd

        mu, Wf = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["emb"].to_numpy())
            Xw = (X - mu) @ Wf
            s1 = Xw.sum(axis=0)
            s2 = (Xw * Xw).sum(axis=0)
            yield pd.DataFrame(
                {
                    "dim": np.arange(Wf.shape[1], dtype="int32"),
                    "n": np.full(Wf.shape[1], len(pdf), dtype="int64"),
                    "s1": s1,
                    "s2": s2,
                }
            )

    partials = (
        e.select(F.col("embedding").cast("array<double>").alias("emb"))
        .mapInPandas(project, schema="dim int, n long, s1 double, s2 double")
        .groupBy("dim")
        .agg(F.sum("n").alias("n"), F.sum("s1").alias("s1"), F.sum("s2").alias("s2"))
    )
    return partials.select(
        "dim",
        F.round(F.col("s1") / F.col("n"), 6).alias("whitened_mean"),
        F.round(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1),
            4,
        ).alias("whitened_var"),
    ).orderBy("dim")


@register(
    "corpus_temperature_mix",
    oracle=f"""
        WITH toks AS (
            SELECT source,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ), powed AS (
            SELECT source, n_tokens,
                   pow(CAST(n_tokens AS DOUBLE), {TAU}) AS w
            FROM toks
        )
        SELECT source, n_tokens,
               round(w / sum(w) OVER (), 6) AS sample_prob,
               CAST(round({BUDGET_TOKENS} * w / sum(w) OVER (), 0) AS BIGINT)
                   AS expected_tokens
        FROM powed
    """,
    group="mining_ext",
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing: sampling probability per source
    ∝ (source tokens)^{TAU} — τ<1 flattens the natural distribution so
    small sources are not drowned (the standard multilingual sampling
    rule) — plus the expected token draw at a {BUDGET_TOKENS:,}-token
    epoch budget.

    Scale shape: one token-count aggregate (map-side combinable), then
    window arithmetic over one row PER SOURCE — the window's "move all
    rows to one partition" cost is |sources|, not |docs|, which is the
    only reason a global window is acceptable here (contrast the
    documents-wide ops, which never do this).
    """
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens")
    )
    w = F.pow(F.col("n_tokens").cast("double"), F.lit(TAU))
    total = F.sum("w").over(W.partitionBy())
    return (
        toks.withColumn("w", w)
        .select(
            "source",
            "n_tokens",
            F.round(F.col("w") / total, 6).alias("sample_prob"),
            F.round(F.lit(BUDGET_TOKENS) * F.col("w") / total, 0)
            .cast("bigint")
            .alias("expected_tokens"),
        )
    )
