"""Similarity search over embedding columns (SURVEY.md §2B north-star).

Two tiers:

- Exact cosine: the correctness baseline. The index (ids, matrix, norms)
  is collected once per session under MAX_EXACT_INDEX_ROWS and broadcast;
  each Arrow batch of query vectors runs one blocked NumPy GEMM against
  it (``vector_topk``, the one dense-vector kernel of every embedding
  op), so no pairwise expression work and no per-pair collect.
- LSH-bucketed ANN (random hyperplane signatures): the 100 TB path. Sign
  bits of R random projections form a bucket key; the candidate join is an
  equi-join on (band, signature), so work scales with bucket occupancy,
  not N². Hyperplanes come from a fixed seed, quantized to integer micros
  (PLANE_SCALE) and inlined as integer literals of one parsed SQL
  expression per band (``lsh_signature``) — deterministic across
  runs/executors and bit-exact in any engine.

Past the cap the exact kernel runs *within* LSH buckets
(``bucketed_tier``); ``choose_tier`` is the one place that picks the
tier. IVF cells from a k-means fit via pyspark.ml are the third
candidate generator; the fixture-scale ops keep every tier independently
checkable.
"""

from __future__ import annotations

import logging
import math
import random

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, memo

_LOG = logging.getLogger(__name__)


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a codegen'd expression (inputs cast to double upstream)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _pairs(e: DataFrame) -> DataFrame:
    """All (a<b) embedding pairs with cosine similarity, rounded to 6 dp.

    Brute-force *reference implementation* — the a<b theta join plans a
    BroadcastNestedLoopJoin, which is exactly the shape the registered ops
    avoid. Kept (unregistered) as the independent oracle the pytest suite
    compares the GEMM/LSH/IVF tiers against.
    """
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").cast("array<double>").alias("ea")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").cast("array<double>").alias("eb")
    )
    return a.join(b, F.col("vec_a") < F.col("vec_b")).select(
        "vec_a",
        "vec_b",
        F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("cos_sim"),
    )


#: Hard bound on the exact tier's driver-collected index. 2M × 64-dim
#: float64 ≈ 1 GiB on the driver — beyond that the broadcast-index tier is
#: the wrong tool and ``choose_tier`` sends the ops to the LSH-bucketed
#: exact-within-bucket kernel (same GEMM, bucket-partitioned, no driver
#: materialization — approximate only in that pairs sharing no band are
#: missed; geometry sets that recall).
MAX_EXACT_INDEX_ROWS = 2_000_000

#: Fallback band geometry floor: 16 bands × ≥2 sign bits. The *bits* knob
#: is N-adaptive (``_fallback_geometry``): expected bucket occupancy is
#: n/2^bits under the uniform approximation, so bits grows with the corpus
#: to hold E[bucket] ≈ TARGET_BUCKET_ROWS — per-bucket GEMM compute stays
#: ~TARGET² instead of (n/4)². The fixture (≤ 2k vectors) lands on the
#: floor, 2 bits, where per-pair miss probability at cos 0.45 is
#: (1-p²)^16 ≈ 2e-4 with p ≈ 0.65 per bit; at production sizes more bits
#: trade documented recall for subquadratic compute (at cos ≥ 0.95
#: near-dup regimes p ≈ 0.9 per bit, so even 8-bit bands keep
#: band-collision probability ≈ 0.43 and 16 bands reach ≈ 1).
FALLBACK_BANDS, FALLBACK_BITS = 16, 2

#: Target expected rows per (band, sig) bucket for the past-the-cap tier.
#: 8192² × 8 B ≈ 0.5 GB of dense scores per bucket worst case, and the
#: kernel blocks its query rows (KERNEL_BLOCK_ROWS) so resident memory is
#: block × bucket, not bucket².
TARGET_BUCKET_ROWS = 8192

#: Query-row block size inside ``vector_topk``: bounds resident
#: score-matrix memory to KERNEL_BLOCK_ROWS × index rows doubles, for an
#: Arrow batch against the broadcast index and for a skewed bucket far
#: past TARGET_BUCKET_ROWS alike.
KERNEL_BLOCK_ROWS = 2048


def rounded_cosine_block(Q, q_norms, M, m_norms):
    """Dense rounded-cosine score block — THE one implementation of the
    cross-engine determinism contract: GEMM, DuckDB-compatible
    round-half-away-from-zero at 6 dp, then a non-finite scrub. A
    zero-norm vector (all-zeros embedding — valid non-NULL data) yields
    0/0 = NaN, which would poison downstream selection (NaN fails every
    comparison, and ``np.partition`` sorts NaN as LARGEST, corrupting
    top-k cuts). NaN maps to the -2.0 'no cosine' sentinel — below any
    real cosine — which ``vector_topk`` never selects, the same
    convention its masks use. The vector-contract extension of the NULL
    filter: NULL and zero-norm vectors alike have no cosine.
    """
    import numpy as np

    with np.errstate(divide="ignore", invalid="ignore"):
        S = (Q @ M.T) / np.outer(q_norms, m_norms)
    S = np.sign(S) * np.floor(np.abs(S) * 1e6 + 0.5) / 1e6
    S[~np.isfinite(S)] = -2.0
    return S


def vector_topk(Q, ids, M, norms, k=None, mask=None, min_sim=None):
    """The one exact dense-vector kernel: each query row of ``Q`` scored
    against the index (``ids``, matrix ``M``, row ``norms``) by
    ``rounded_cosine_block``, then selected.

    ``mask`` is ``(op, q_key, key)``: entry (i, j) is a candidate only
    where ``op(q_key[i], key[j])`` holds — ``(np.less, q_ids, ids)`` for
    a < b pairs, ``(np.not_equal, q_labels, labels)`` for cross-label.
    A masked entry takes the -2 sentinel, like a zero-norm vector's, and
    a sentinel entry is never selected. ``min_sim`` keeps only rounded
    cosines ≥ it. ``k`` keeps each row's k best under (rounded cosine
    desc, index id asc) — the oracles' tie rule, so a global top-k over
    any union of rows is a subset of the union of their row top-ks.

    Returns ``(row, col, sim)`` arrays: positions into ``Q`` and the
    index, ordered by row and then rank when ``k`` is given. Query rows
    are scored KERNEL_BLOCK_ROWS at a time, so resident scores stay
    block × index.
    """
    import numpy as np

    q_norms = np.linalg.norm(Q, axis=1)
    rows = [np.zeros(0, dtype=np.int64)]
    cols = [np.zeros(0, dtype=np.int64)]
    sims = [np.zeros(0)]
    for lo in range(0, len(Q), KERNEL_BLOCK_ROWS):
        hi = lo + KERNEL_BLOCK_ROWS
        S = rounded_cosine_block(Q[lo:hi], q_norms[lo:hi], M, norms)
        if mask is not None:
            op, q_key, key = mask
            S[~op(q_key[lo:hi, None], key[None, :])] = -2.0
        live = S > -2.0 if min_sim is None else S >= min_sim
        if k is not None and S.shape[1] > k:
            # Everything tied with the k-th largest survives the cut; the
            # id tie-break below then trims each row to exactly k.
            kth = np.partition(S, S.shape[1] - k, axis=1)[:, S.shape[1] - k]
            live &= S >= kth[:, None]
        r, c = np.nonzero(live)
        s = S[r, c]
        if k is not None:
            order = np.lexsort((ids[c], -s, r))
            r, c, s = r[order], c[order], s[order]
            rank = np.arange(len(r)) - np.searchsorted(r, r)
            r, c, s = r[rank < k], c[rank < k], s[rank < k]
        rows.append(r + lo)
        cols.append(c)
        sims.append(s)
    return np.concatenate(rows), np.concatenate(cols), np.concatenate(sims)


def _fallback_geometry(n_rows: int) -> tuple[int, int]:
    """(bands, bits) for the past-the-cap LSH tier, sized from the corpus.

    bits = clamp(ceil(log2(n / TARGET_BUCKET_ROWS)), FALLBACK_BITS, 24) so
    expected bucket size stays ≈ TARGET_BUCKET_ROWS at any n; the 24-bit cap
    bounds hyperplane count (16 bands × 24 bits = 384 planes).
    """
    bits = FALLBACK_BITS
    if n_rows > TARGET_BUCKET_ROWS:
        bits = max(FALLBACK_BITS, min(24, math.ceil(math.log2(n_rows / TARGET_BUCKET_ROWS))))
    return FALLBACK_BANDS, bits


def _embeddings_count(spark: SparkSession, sf_dir: str) -> int:
    return memo(
        spark, sf_dir, "embeddings", "count",
        lambda: load_table(spark, sf_dir, "embeddings").count(),
    )


def _embedding_index(spark: SparkSession, sf_dir: str):
    """(ids, matrix, norms, labels) broadcast for the exact GEMM tier,
    memoized. Labels ride the same single driver collect, so
    knn_hard_negatives needs no second pass; they add 4 bytes/row to a
    512-byte/row broadcast. Reached through ``choose_tier``, which holds
    the driver-collect cap."""
    return memo(
        spark, sf_dir, "embeddings", "index",
        lambda: _build_embedding_index(spark, sf_dir),
    )


def _build_embedding_index(spark: SparkSession, sf_dir: str):
    import numpy as np

    # NULL vectors have no cosine: drop them from the index (np.stack over
    # None rows raises). The oracles agree: list_cosine_similarity(NULL, x)
    # is NULL, which a >= threshold predicate filters and a DESC LIMIT
    # never surfaces.
    idx = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
        )
        .toPandas()
    )
    ids = idx["vec_id"].to_numpy()
    if len(idx) == 0:
        # Empty embeddings table (e.g. a filtered-to-nothing partition):
        # np.stack([]) raises. Build a well-formed zero-row index — the
        # Arrow kernels never execute (the query side is the same empty
        # table, so no batches arrive), and every consumer returns its
        # empty contract schema instead of crashing.
        M = np.zeros((0, 0))
    else:
        M = np.stack(idx["emb"].to_numpy())
    norms = np.linalg.norm(M, axis=1)
    labels = idx["label"].to_numpy()
    return spark.sparkContext.broadcast((ids, M, norms, labels))


def choose_tier(
    spark: SparkSession,
    sf_dir: str,
    op: str,
    allow_approx_fallback: bool = True,
    cap: int | None = None,
):
    """The one exact/approximate decision of the embedding ops: the exact
    tier's broadcast index, or None when the op must take the LSH tier.

    The exact tier runs while the embeddings table has at most ``cap``
    rows (default MAX_EXACT_INDEX_ROWS, read at call time). Past the cap
    the registered oracles no longer hold: the op either refuses with a
    ValueError (``allow_approx_fallback=False``, the contract for callers
    that need a hard guarantee — and for ops with no LSH tier) or logs a
    WARNING and goes approximate, never silently.
    """
    n = _embeddings_count(spark, sf_dir)
    cap = MAX_EXACT_INDEX_ROWS if cap is None else cap
    if n <= cap:
        return _embedding_index(spark, sf_dir)
    if not allow_approx_fallback:
        raise ValueError(
            f"{op}: embeddings has {n} rows > the exact-tier cap ({cap}) and "
            "allow_approx_fallback=False: refusing the approximate tier"
        )
    _LOG.warning(
        "%s: %d rows exceeds the exact-tier cap (%d); "
        "switching to the approximate LSH-bucketed tier (recall < 1)",
        op,
        n,
        cap,
    )
    return None


def exact_scan(
    spark: SparkSession,
    queries: DataFrame,
    bc,
    reduce,
    schema: str,
    cols: tuple[str, ...] = (),
    view=None,
) -> DataFrame:
    """The exact tier's query side: the rows of ``queries`` (an embeddings
    frame) spread across the cluster, then each Arrow batch — columns
    ``vec_id``, ``cols`` and the double-cast ``emb`` — calls
    ``reduce(pdf, Q, index)`` and emits the dict of columns it returns.
    ``index`` is the broadcast value, or ``view(value)`` computed once per
    task.

    A small fixture file arrives as one input split, which would
    serialize the whole kernel through one task; the shuffled payload is
    just (id, vector) — cheap at any scale — and each partition's GEMM
    runs in parallel against the broadcast index. NULL vectors have no
    cosine and are dropped here, as the index drops them.
    """
    import numpy as np

    def batches_through_kernel(batches):
        import pandas as pd

        index = bc.value if view is None else view(bc.value)
        for pdf in batches:
            if not pdf.empty:
                yield pd.DataFrame(reduce(pdf, np.stack(pdf["emb"].to_numpy()), index))

    return (
        queries.where(F.col("embedding").isNotNull())
        .select("vec_id", *cols, F.col("embedding").cast("array<double>").alias("emb"))
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(batches_through_kernel, schema=schema)
    )


_PAIR_SCHEMA = "vec_a bigint, vec_b bigint, cos_sim double"


@register(
    "knn_cosine_topk",
    oracle="""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ORDER BY cos_sim DESC, vec_a, vec_b
        LIMIT 50
    """,
    group="similarity",
)
def knn_cosine_topk(
    spark: SparkSession,
    sf_dir: str,
    allow_approx_fallback: bool = True,
    max_exact_rows: int | None = None,
) -> DataFrame:
    """Global top-50 most-similar pairs, exact, via blocked matrix multiply.

    The scale pattern: the index side (ids, matrix, norms) is broadcast
    once per session (memoized; hard-capped at MAX_EXACT_INDEX_ROWS); each
    Arrow batch of query vectors computes a dense block × indexᵀ GEMM in
    NumPy (``vector_topk``: each row's a < b top-k), keeps the batch's
    top-k, and the global top-k is a cheap merge of N_batches × k
    candidate rows. ~100× faster than per-pair expression evaluation, and
    exactly the blocked shape that scales out (when the index outgrows
    memory, LSH/IVF partitions it — see ann_lsh_bucketed). Ordered by the
    *rounded* similarity + ids so the limit boundary is deterministic
    across engines (SURVEY.md §5.3).

    TIER CONTRACT (``choose_tier``): the registered oracle describes the
    exact tier, which runs whenever the index fits the driver cap
    (``max_exact_rows`` overrides it). Past the cap the op degrades to the
    LSH-bucketed exact-within-bucket tier — approximate (pairs sharing no
    band are missed; recall set by ``_fallback_geometry``) — and logs a
    WARNING. Callers needing a hard guarantee pass
    ``allow_approx_fallback=False`` to get a ValueError instead.
    """
    import numpy as np

    k = 50
    e = load_table(spark, sf_dir, "embeddings")
    bc = choose_tier(spark, sf_dir, "knn_cosine_topk", allow_approx_fallback, max_exact_rows)
    if bc is None:
        pairs = _bucketed_pairs(e, _embeddings_count(spark, sf_dir), local_k=k)
        return pairs.orderBy(F.col("cos_sim").desc(), "vec_a", "vec_b").limit(k)

    def batch_topk(pdf, Q, index):
        ids, M, norms, _ = index
        q_ids = pdf["vec_id"].to_numpy()
        r, c, s = vector_topk(Q, ids, M, norms, k=k, mask=(np.less, q_ids, ids))
        a, b = q_ids[r], ids[c]
        top = np.lexsort((b, a, -s))[:k]
        return {"vec_a": a[top], "vec_b": b[top], "cos_sim": s[top]}

    blocks = exact_scan(spark, e, bc, batch_topk, _PAIR_SCHEMA)
    return blocks.orderBy(F.col("cos_sim").desc(), "vec_a", "vec_b").limit(k)


@register(
    "knn_cosine_topk_forced_lsh",
    oracle="""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ORDER BY cos_sim DESC, vec_a, vec_b
        LIMIT 50
    """,
    group="similarity",
)
def knn_cosine_topk_forced_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The past-the-cap tier of ``knn_cosine_topk`` under external
    evidence: ``max_exact_rows=0`` forces the LSH-bucketed
    exact-within-bucket kernel — the plan that runs when the index
    outgrows the driver — on the fixture, where its output is EXACTLY the
    exact tier's top-50 (every top pair shares a band at fixture scale,
    pinned by tests/test_extensions.py::
    test_knn_fallback_bucketed_matches_exact). The oracle is therefore
    the same exact-pair SQL: a hash-green row here proves the fallback
    plan, not just the happy path. At true past-cap scale recall < 1 by
    design; this row's claim is plan-correctness, not unconditional
    equality.
    """
    return knn_cosine_topk(spark, sf_dir, max_exact_rows=0)


@register(
    "dedup_embedding_cosine",
    oracle="""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 6) >= 0.45
    """,
    group="similarity",
)
def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, allow_approx_fallback: bool = True
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim ≥ 0.45).

    The a<b theta join would plan a BroadcastNestedLoopJoin — the
    per-pair expression cost and the BNLJ shape are both wrong at scale.
    Instead the same blocked-GEMM kernel as knn_cosine_topk mines
    threshold pairs: broadcast index, Arrow query blocks, dense
    block×indexᵀ multiply, keep rounded sim ≥ t. No join in the plan.

    TIER CONTRACT (``choose_tier``): exact — and matching the registered
    oracle — up to MAX_EXACT_INDEX_ROWS. Past the cap the op degrades to
    the LSH-bucketed kernel (bucket-partitioned exact verification;
    *approximate* in that pairs sharing no band are missed, recall set by
    ``_fallback_geometry``) and logs a WARNING; pass
    ``allow_approx_fallback=False`` to raise instead.

    The fixture embeddings are near-random (max pairwise cosine ≈ 0.6 at
    sf0.1), so 0.45 sits where the fixture has real pairs; a production
    near-dup pass would use ≥ 0.95. The threshold compares the rounded
    value so the cut is identical in both engines.
    """
    import numpy as np

    t = 0.45
    e = load_table(spark, sf_dir, "embeddings")
    bc = choose_tier(spark, sf_dir, "dedup_embedding_cosine", allow_approx_fallback)
    if bc is None:
        n = _embeddings_count(spark, sf_dir)
        return _bucketed_pairs(e, n, threshold=t).orderBy("vec_a", "vec_b")

    def block_pairs(pdf, Q, index):
        ids, M, norms, _ = index
        q_ids = pdf["vec_id"].to_numpy()
        r, c, s = vector_topk(Q, ids, M, norms, mask=(np.less, q_ids, ids), min_sim=t)
        return {"vec_a": q_ids[r], "vec_b": ids[c], "cos_sim": s}

    return exact_scan(spark, e, bc, block_pairs, _PAIR_SCHEMA)


def hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-normal random hyperplanes (seeded PRNG)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(num_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


#: Fixed-point scale of the portable LSH family: both the hyperplane
#: weights and the embedding components are quantized to integer micros
#: before the sign test, so bucket assignment is EXACT 64-bit integer
#: arithmetic — bit-identical in any engine, no float summation-order or
#: near-zero sign-flip hazard. |w| ≤ 1 and |e| ≤ ~10 keep every partial
#: sum < 64·10¹³ ≪ 2⁶³. The ~1e-6 angular perturbation vs the float
#: planes is orders of magnitude below the band geometry's resolution.
PLANE_SCALE = 1_000_000


def quantized_planes(dim: int, num_planes: int, seed: int = 42) -> list[list[int]]:
    """``hyperplanes`` quantized to integer micros (the portable family)."""
    return [
        [int(round(w * PLANE_SCALE)) for w in p] for p in hyperplanes(dim, num_planes, seed)
    ]


def quantize_embedding(emb: Column) -> Column:
    """Embedding components as integer micros (see PLANE_SCALE).

    Callers bind the quantized array to a projected column ONCE and pass
    its name to ``lsh_signature``, which references it once per plane —
    a computed expression there would be re-evaluated per reference (the
    HOF-argument cousin of the lambda-body trap, SCALING.md §14); a bound
    column reference is free."""
    return F.transform(emb, lambda x: F.round(x * F.lit(PLANE_SCALE)).cast("long"))


def lsh_signature(eq: str, planes: list[list[int]]) -> Column:
    """Sign-bit signature of the bound integer-micro embedding column
    ``eq`` (see ``quantize_embedding``) against each quantized hyperplane
    — exact integer micro dot products (see PLANE_SCALE), one ``'0'``/
    ``'1'`` character per plane.

    Built as ONE SQL string parsed JVM-side: the equivalent Column tree
    costs one py4j round-trip per plane-weight literal (a 32-plane ×
    64-dim signature is 2 048 literals, ~16k calls and seconds of plan
    build per invocation); the parsed expression is the same tree
    (docs/SCALING.md §24)."""
    bits = ", ".join(
        "CASE WHEN aggregate(zip_with(`" + eq + "`, array("
        + ", ".join(str(int(w)) for w in p)
        + "), (x, y) -> x * y), CAST(0 AS BIGINT), (s, v) -> s + v) >= 0 "
        "THEN '1' ELSE '0' END"
        for p in planes
    )
    return F.expr(f"concat({bits})")


def _banded_sigs(
    e: DataFrame, bands: int, bits: int, payload: tuple[str, ...] = ()
) -> DataFrame:
    """(id, *payload, band, sig) — one row per (64-dim vector, band), sig =
    the band's sign bits. ``payload`` names the columns the caller carries
    past the signature: ``emb`` is the double-cast embedding the bucket
    kernels score, any other name a column of ``e``.

    The integer-micro quantization is bound to a projected column first,
    so the bands·bits plane dots read a BoundReference instead of
    re-running the 64-element round/cast transform once per plane."""
    planes = quantized_planes(64, bands * bits)
    emb = F.col("embedding").cast("array<double>")
    eq = e.select(
        F.col("vec_id").alias("id"),
        *[emb.alias("emb") if c == "emb" else c for c in payload],
        quantize_embedding(emb).alias("eq"),
    )
    return eq.select(
        "id",
        *payload,
        F.posexplode(
            F.array(
                *[
                    lsh_signature("eq", planes[b * bits : (b + 1) * bits])
                    for b in range(bands)
                ]
            )
        ).alias("band", "sig"),
    )


def bucketed_tier(
    sigs: DataFrame,
    mask,
    queries=None,
    k: int | None = None,
    min_sim: float | None = None,
    limit: int | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The past-the-cap tier: ``vector_topk`` inside each (band, sig)
    bucket of ``sigs`` (``_banded_sigs`` with an ``emb`` payload), as one
    ``applyInPandas`` group per bucket, so no driver collect happens
    anywhere. Rows ``(vec_a, vec_b, cos_sim, *carry)``: the query row's
    id, the selected row's id, the rounded cosine and the query row's
    ``carry`` columns.

    The caller picks the mask — ``(op, column)``: ``vector_topk``'s mask
    over that column of both rows — which rows are queries
    (``queries(ids)`` → bool, all rows by default) and the reduce: every pair at ``min_sim`` or above,
    each query row's ``k`` best, and/or the bucket's ``limit`` best under
    (cos desc, vec_a, vec_b). Each bucket's ``limit`` best hold every
    candidate for the global top-``limit`` among pairs sharing a band.
    Query rows are blocked by KERNEL_BLOCK_ROWS inside the kernel, so a
    skewed bucket costs blocked passes, never an m×m resident matrix.
    """
    import numpy as np

    def bucket_kernel(pdf):
        import pandas as pd

        ids = pdf["id"].to_numpy()
        q = np.arange(len(ids)) if queries is None else np.flatnonzero(queries(ids))
        M = np.stack(pdf["emb"].to_numpy())
        key = pdf[mask[1]].to_numpy()
        r, c, s = vector_topk(
            M[q], ids, M, np.linalg.norm(M, axis=1),
            k=k, mask=(mask[0], key[q], key), min_sim=min_sim,
        )
        a, b = ids[q][r], ids[c]
        if limit is not None:
            top = np.lexsort((b, a, -s))[:limit]
            r, a, b, s = r[top], a[top], b[top], s[top]
        out = pd.DataFrame({"vec_a": a, "vec_b": b, "cos_sim": s})
        for col in carry:
            out[col] = pdf[col].to_numpy()[q][r]
        return out

    schema = _PAIR_SCHEMA + "".join(
        f", {c} {sigs.schema[c].dataType.simpleString()}" for c in carry
    )
    return sigs.groupBy("band", "sig").applyInPandas(bucket_kernel, schema=schema)


def _bucketed_pairs(
    e: DataFrame,
    n_rows: int,
    threshold: float | None = None,
    local_k: int | None = None,
) -> DataFrame:
    """Exact-within-bucket a < b pair mining over LSH buckets (the
    past-the-cap tier for both threshold pairs and top-k).

    Geometry is N-adaptive: ``_fallback_geometry(n_rows)`` sizes the bits
    so expected bucket occupancy stays ≈ TARGET_BUCKET_ROWS — per-bucket
    compute is ~TARGET² regardless of corpus size, i.e. genuinely
    subquadratic in n. ``threshold`` keeps all rounded-sim ≥ t pairs;
    ``local_k`` keeps each bucket's top-k (a superset of the global top-k
    among pairs sharing a band). Pairs found in several bands dedupe on
    (vec_a, vec_b).
    """
    import numpy as np

    assert (threshold is None) != (local_k is None), "exactly one mode"
    # NULL vectors have no cosine and would crash the bucket kernel's
    # np.stack; filtered HERE (not in _banded_sigs) so ann_lsh keeps its
    # plan.
    e = e.where(F.col("embedding").isNotNull())
    sigs = _banded_sigs(e, *_fallback_geometry(n_rows), payload=("emb",))
    return bucketed_tier(
        sigs, (np.less, "id"), k=local_k, limit=local_k, min_sim=threshold
    ).dropDuplicates(["vec_a", "vec_b"])


def nearest_centroids(Q, C, nprobe: int):
    """Each row of ``Q``'s ``nprobe`` nearest rows of the centroid matrix
    ``C`` by Euclidean distance, nearest first (column 0 is the home
    cell, as pyspark.ml's transform assigns it): ‖q−c‖² = ‖q‖² − 2q·c +
    ‖c‖², and ‖q‖² is rank-constant per row."""
    import numpy as np

    d = -2.0 * (Q @ C.T) + (C * C).sum(axis=1)[None, :]
    return np.argsort(d, axis=1)[:, : min(nprobe, len(C))]


#: KMeans fit input cap: past this the fit runs on a deterministic sample
#: (a coarse quantizer doesn't need every vector — centroids from a 50k
#: sample are statistically identical at any corpus size).
IVF_FIT_SAMPLE_ROWS = 50_000

#: IVF geometry: the cell count scales with the corpus so expected cell
#: occupancy stays ≈ IVF_TARGET_CELL_ROWS — the cell-keyed search join
#: emits Σ n_cell² ≈ n × TARGET rows instead of n²/k at fixed k.
#: IVF_MIN_CELLS is the fixture floor.
#:
#: Measured (SELFCHECK_r08_sf1.log): with an occupancy target of 4096,
#: the 8-cell floor persisted until n > 32k, so 2k→20k vectors grew the
#: join QUADRATICALLY (76.8× wall for 10× rows). Hence occupancy target
#: 256 capped by the FAISS-style nlist ≈ 4√n rule —
#: cells = max(8, min(⌈n/256⌉, ⌈4√n⌉)). Join volume is then n×256 up to
#: n ≈ 1M and n^1.5/4 beyond (the standard IVF tradeoff; past that scale
#: a coarse quantizer over the centroids, IVF-PQ, is the next tier —
#: extensions/ann_pq.py). At fixture scale n=500 and n=2000 both yield
#: the 8-cell floor; the re-measured 10× ratio is ~linear (appended to
#: SELFCHECK_r08_sf1.log).
IVF_TARGET_CELL_ROWS = 256
IVF_MIN_CELLS = 8


def _ivf_cell_count(n_rows: int) -> int:
    return max(
        IVF_MIN_CELLS,
        min(
            math.ceil(n_rows / IVF_TARGET_CELL_ROWS),
            math.ceil(4 * math.sqrt(n_rows)),
        ),
    )


def _ivf_assign(vecs: DataFrame, centers, nprobe: int) -> DataFrame:
    """(vec_id, emb, cell, probe_rank) — each vector's ``nprobe`` nearest
    centroids (``nearest_centroids``), Arrow-batched NumPy against the
    centroid matrix (k×dim is tiny at any corpus size, closed over and
    shipped with the task). probe_rank 0 is the home cell.

    Shuffle note: the probe side ships each embedding ×nprobe through the
    cell join — a small constant (2-8), unlike the ×bands×2 the LSH op
    used to pay, so the id-only/re-attach restructuring isn't worth the
    extra join here."""
    import numpy as np

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            order = nearest_centroids(np.stack(pdf["emb"].to_numpy()), centers, nprobe)
            nq, k_eff = order.shape
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(k_eff),
                    "emb": pdf["emb"].to_numpy().repeat(k_eff),
                    "cell": order.ravel().astype("int32"),
                    "probe_rank": np.tile(np.arange(k_eff, dtype="int32"), nq),
                }
            )

    return vecs.mapInPandas(
        assign, schema="vec_id bigint, emb array<double>, cell int, probe_rank int"
    )


@register("ann_ivf_kmeans", group="similarity")  # rows-only: approximate output
def ann_ivf_kmeans(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = 2,
    probe_pred=None,
) -> DataFrame:
    """IVF-style ANN: k-means cells (pyspark.ml, seeded) + multi-probe search.

    The inverted-file pattern: a k-means fit partitions vectors into coarse
    cells; each query probes its ``nprobe`` nearest cells and searches only
    their members. The cell count scales with the corpus
    (``_ivf_cell_count``: occupancy-capped 4√n nlist, floor 8) so the
    cell-keyed join emits ~n × TARGET rows — linear in n — instead of
    n²/k at a fixed k; and nprobe>1 unions neighbor-cell assignments into
    the probe side, making recall/cost a tunable knob (nprobe=k degenerates
    to exact global NN, asserted in tests/test_extensions.py). The fit
    runs on a seeded sample past IVF_FIT_SAMPLE_ROWS, and the search is a
    cell-keyed *equi-join* + top-1 — no single task ever materializes a
    cell, and AQE's skew split handles hot cells.
    Returns per-vector nearest probed neighbor (vec_id, nn_id, cos_sim).
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from desdb_spark.extensions.dedup import ensure_parallelism

    e = load_table(spark, sf_dir, "embeddings")
    raw = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    # The fixture packs the corpus into one split, serializing both
    # Arrow assign passes and the CPU-bound cell join on a single task
    # (~10 s at sf0.1; no-op on a well-split corpus). The k-means FIT
    # deliberately reads the UN-repartitioned frame: k-means||
    # initialization depends on data partitioning, so repartitioning
    # moved the seeded centroids and dropped the planted recall floor from
    # 0.71 to 0.54 — and scheduling 32 near-empty partitions across ~10
    # iteration jobs costs more than the single-task fit of a bounded
    # sample.
    vecs = ensure_parallelism(raw)
    n = _embeddings_count(spark, sf_dir)
    k = _ivf_cell_count(n)
    fit_input = raw.select(array_to_vector("emb").alias("features"))
    if n > IVF_FIT_SAMPLE_ROWS:
        fit_input = fit_input.sample(fraction=IVF_FIT_SAMPLE_ROWS / n, seed=42)
    # Persist the fit input: k-means runs ~2 jobs per iteration (k-means||
    # init + Lloyd rounds) and each re-ran the parquet scan + Arrow
    # array→Vector conversion — ~6 s of a 12.7 s sf0.1 wall was pure
    # re-read. Caching does NOT change the data's partitioning, so the
    # seeded k-means|| centroids (and the pinned nprobe-recall floor) are
    # unaffected — unlike a repartition (see above).
    # maxIter=5: the coarse quantizer only has to put near-dup vectors in
    # the same cell — Lloyd refinement past a few rounds moves boundaries,
    # not the planted-recall floor (pinned by
    # test_ivf_nprobe_monotone_recall and the recall tests, green at 5).
    # Halves the ~2-jobs-per-iteration fit wall on top of the cache.
    fit_input = fit_input.persist()
    try:
        model = KMeans(k=k, seed=42, maxIter=5).fit(fit_input)
    finally:
        fit_input.unpersist()
    centers = np.stack(model.clusterCenters())
    # Index side: home cell only (each vector listed once). Probe side:
    # nprobe nearest cells per query — the recall knob.
    index = _ivf_assign(vecs, centers, nprobe=1).select("vec_id", "emb", "cell")
    # probe_pred restricts the QUERY side only (the index must stay
    # complete or results are wrong) — the sampling hook evaluation and
    # partial-reindex workloads use; cost scales with the sample, and
    # the filter lands before the expensive cell join.
    probe_in = vecs.where(probe_pred) if probe_pred is not None else vecs
    probe = _ivf_assign(probe_in, centers, nprobe=nprobe).select(
        "vec_id", "emb", "cell"
    )
    # Each side's L2 norm is computed per ROW before the cell join
    # (n + n·nprobe norm walks) instead of per CANDIDATE inside cosine()
    # (n·occupancy·nprobe × 3 array walks). Same doubles, same operation
    # order as cosine() — cos_sim is bit-identical.
    a = probe.withColumn("nrm", l2_norm(F.col("emb"))).alias("a")
    b = index.withColumn("nrm", l2_norm(F.col("emb"))).alias("b")
    sim = F.round(
        dot(F.col("a.emb"), F.col("b.emb"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    # Top-1 as max(struct) instead of a row_number window: the groupBy
    # combines map-side (each task keeps one best row per vec_id before
    # the shuffle), where the window had to shuffle-sort the FULL
    # n×occupancy×nprobe candidate stream. struct ordering is
    # lexicographic, so (cos_sim, -nn_id) max == the window's
    # (cos_sim DESC, nn_id ASC) top row exactly.
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("nn_id"),
            sim.alias("cos_sim"),
        )
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("cos_sim"), (-F.col("nn_id")).alias("neg_id"))
            ).alias("m")
        )
        .select(
            "vec_id",
            (-F.col("m.neg_id")).alias("nn_id"),
            F.col("m.cos_sim").alias("cos_sim"),
        )
        .orderBy("vec_id")
    )
