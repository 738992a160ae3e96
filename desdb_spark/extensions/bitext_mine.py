"""Margin-based bitext mining — the standard parallel-corpus
miner (Artetxe & Schwenk 2019, "Margin-based Parallel Corpus Mining
with Multilingual Sentence Embeddings", public literature): for every
sentence embedding on side A, its best cross-side match on side B,
scored by the MARGIN criterion — raw cosine divided by the mean of the
two sides' local top-K neighborhoods — which suppresses hubness (a
vector globally similar to everything gets no credit for one more high
cosine). The fixture's sides are embedding labels {ANCHOR_LABEL} and
{CAND_LABEL} (in production: language A and language B encodings from
the same multilingual encoder; identical plan).

Scale shape: the knn broadcast-index tier — both passes run the shared
``vector_topk`` kernel on Arrow batches against the memoized
``_embedding_index`` (one driver collect for the whole similarity
family, bounded by the ``choose_tier`` cap); the forward pass emits one
row per anchor, the backward pass one neighborhood mean per candidate,
and they meet in a broadcast-size equi-join keyed by match id. No all-pairs materialization anywhere —
the |A|×|B| score matrix exists only block-at-a-time inside kernels.

Determinism: cosines rounded half-away at 6 dp inside the kernel (the
hash-green knn discipline); top-K selection ordered (rounded cos DESC,
vec_id ASC); neighborhood means sum K=4 doubles (order noise ~1e-16,
absorbed by the 4 dp margin rounding); acceptance tests the ROUNDED
margin in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, maybe_broadcast, table_bytes

#: The two "languages" of the fixture (embedding label values).
ANCHOR_LABEL = 0
CAND_LABEL = 1
#: Neighborhood size of the margin denominator (the paper's k).
MARGIN_K = 4
#: Acceptance threshold on the rounded margin (the paper tunes ~1.05).
MARGIN_T = 1.05


@register(
    "emb_bitext_mine_margin",
    oracle=f"""
        WITH sa AS (
            -- NULL embeddings excluded on both sides, matching the
            -- Spark plan's query-side isNotNull filter:
            -- this per-anchor top-1 oracle would otherwise emit a
            -- NULL-margin row per NULL anchor.
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings
            WHERE label = {ANCHOR_LABEL} AND embedding IS NOT NULL
        ), sb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings
            WHERE label = {CAND_LABEL} AND embedding IS NOT NULL
        ), ab AS (
            SELECT a.vec_id AS aid, b.vec_id AS bid,
                   round(list_cosine_similarity(a.e, b.e), 6) AS c
            FROM sa a, sb b
        ), arank AS (
            SELECT aid, bid, c, row_number() OVER (
                PARTITION BY aid ORDER BY c DESC, bid) AS rn
            FROM ab
        ), avga AS (
            SELECT aid, avg(c) AS av FROM arank
            WHERE rn <= {MARGIN_K} GROUP BY aid
        ), brank AS (
            SELECT bid, aid, c, row_number() OVER (
                PARTITION BY bid ORDER BY c DESC, aid) AS rn
            FROM ab
        ), avgb AS (
            SELECT bid, avg(c) AS bv FROM brank
            WHERE rn <= {MARGIN_K} GROUP BY bid
        ), top1 AS (
            SELECT aid, bid, c FROM arank WHERE rn = 1
        )
        SELECT t.aid AS anchor_id, t.bid AS match_id, t.c AS cos_sim,
               round(2 * t.c / (ga.av + gb.bv), 4) AS margin,
               CAST(CASE WHEN round(2 * t.c / (ga.av + gb.bv), 4)
                              >= {MARGIN_T}
                         THEN 1 ELSE 0 END AS BIGINT) AS accepted
        FROM top1 t
        JOIN avga ga ON ga.aid = t.aid
        JOIN avgb gb ON gb.bid = t.bid
        ORDER BY anchor_id
    """,
    group="bitext_mine",
)
def emb_bitext_mine_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per side-A embedding: its best side-B match (rounded cosine,
    smallest-id tie-break), the Artetxe-Schwenk ratio margin against the
    two top-{MARGIN_K} neighborhood means, and the accept flag at
    margin ≥ {MARGIN_T}. Exact tier only: past the ``choose_tier`` cap it
    raises."""
    import numpy as np

    from desdb_spark.extensions.similarity import choose_tier, exact_scan, vector_topk

    bc = choose_tier(
        spark, sf_dir, "emb_bitext_mine_margin", allow_approx_fallback=False
    )
    e = load_table(spark, sf_dir, "embeddings")

    def side(label):
        """The index restricted to one side, once per task."""
        return lambda index: tuple(a[index[3] == label] for a in index[:3])

    def best_and_mean(Q, index):
        """Each query row with a cosine: its best entry and the mean of its
        top-MARGIN_K, summed in rank order (deterministic across runs)."""
        r, c, s = vector_topk(Q, *index, k=MARGIN_K)
        first = np.searchsorted(r, r)
        head = np.flatnonzero(first == np.arange(len(r)))
        top = np.zeros((len(Q), MARGIN_K))
        top[r, np.arange(len(r)) - first] = s
        rows = r[head]
        mean = top.sum(axis=1)[rows] / np.bincount(r, minlength=len(Q))[rows]
        return rows, index[0][c[head]], s[head], mean

    def fwd(pdf, Q, index):
        rows, match, cos, mean = best_and_mean(Q, index)
        return {"anchor_id": pdf["vec_id"].to_numpy()[rows], "match_id": match,
                "cos_sim": cos, "avg_a": mean}

    def bwd(pdf, Q, index):
        rows, _, _, mean = best_and_mean(Q, index)
        return {"match_id": pdf["vec_id"].to_numpy()[rows], "avg_b": mean}

    forward = exact_scan(
        spark, e.where(F.col("label") == ANCHOR_LABEL), bc, fwd,
        "anchor_id bigint, match_id bigint, cos_sim double, avg_a double",
        view=side(CAND_LABEL),
    )
    backward = exact_scan(
        spark, e.where(F.col("label") == CAND_LABEL), bc, bwd,
        "match_id bigint, avg_b double", view=side(ANCHOR_LABEL),
    )
    margin = F.round(
        2 * F.col("cos_sim") / (F.col("avg_a") + F.col("avg_b")), 4
    )
    # backward is one 16-byte row per candidate-label vector — linear in
    # the corpus; the embeddings table's on-disk bytes (≫ backward's,
    # which drops the vector payload) gate the hint for free.
    return (
        forward.join(
            maybe_broadcast(backward, table_bytes(sf_dir, "embeddings")),
            "match_id",
        )
        .select(
            "anchor_id",
            "match_id",
            "cos_sim",
            margin.alias("margin"),
            F.when(margin >= MARGIN_T, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("accepted"),
        )
        .orderBy("anchor_id")
    )
