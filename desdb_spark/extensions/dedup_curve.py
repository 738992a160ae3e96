"""Round-8: the dedup threshold-tuning curve — for a grid of Jaccard
thresholds, how many near-duplicate pairs fire and how many documents
survive. This is the calibration sweep a curation engineer runs before
committing a corpus-wide near-dedup pass (the dedup-tier analog of
corpus_length_retention_curve: one candidate-generation pass, the whole
grid answered from it).

One pass, grid unpivoted: candidates come from the lossless PPJoin
prefix filter at the LOWEST grid threshold (t = 1/2 — the filter lemma
guarantees no pair with Jaccard ≥ 0.5 is missed, hence no pair for ANY
grid point is missed); exact (intersection, union) sizes are computed
once per candidate, then a 5-element literal-array explode fans each
pair across the grid and an integer-rational comparison
(100·i ≥ pct·u — no float threshold, exact in both engines) selects
the qualifying rows. No join against the grid (a 5-row broadcast-
nested-loop is exactly what the plan audit bans) — the explode stays
inside whole-stage codegen.

Removal convention: for each qualifying pair the LARGER doc_id is the
removal victim (keep-first), so n_docs_removed = distinct id_b over
qualifying pairs and retention = total − removed.

Scale shape: candidate volume is the prefix filter's output at t=0.5
(heavier than t=0.9 by design — the price of sweeping low thresholds),
exact verification is candidate-bound, and the grid multiplies rows 5×
AFTER the pair set is materialized, before a tiny groupBy. The oracle
is the quadratic all-pairs sweep — tractable at driver scale, which is
the usual asymmetry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.extensions.dedup import prefix_filtered_pairs
from desdb_spark.registry import register
from desdb_spark.session import load_table, maybe_broadcast, values_frame

#: Jaccard grid in integer percent (lowest first = the candidate bound).
GRID_PCT = (50, 60, 70, 80, 90)


@register(
    "dedup_jaccard_retention_curve",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
                AS tok
            FROM documents
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
            FROM toks a JOIN toks b
              ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), pairs AS (
            SELECT id_a, id_b, i, sa.n + sb.n - i AS u
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
        ), fanned AS (
            SELECT g.pct, p.id_a, p.id_b
            FROM pairs p, (SELECT unnest([{", ".join(map(str, GRID_PCT))}])
                           AS pct) g
            WHERE 100 * p.i >= g.pct * p.u
        )
        SELECT CAST(pct AS BIGINT) AS pct,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT id_b) AS BIGINT) AS n_docs_removed,
               CAST((SELECT count(*) FROM documents)
                    - count(DISTINCT id_b) AS BIGINT) AS n_docs_kept
        FROM fanned GROUP BY pct ORDER BY pct
    """,
    group="dedup_curve",
)
def dedup_jaccard_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per grid threshold: qualifying pair count, documents removed
    (keep-first convention), documents kept — hashed against DuckDB's
    quadratic all-pairs sweep, so the prefix filter's losslessness at
    the 0.5 bound and the exact integer threshold arithmetic are both
    inside the gate at every grid point at once.
    """
    from desdb_spark.extensions.dedup import ensure_parallelism

    d = load_table(spark, sf_dir, "documents")
    # Identical-set collapse (exact-dedup-first, the standard pre-pass
    # of the set-similarity-join literature): docs with the
    # SAME distinct-token set have pairwise Jaccard 1 and identical
    # (i, s) against every other doc, so the whole sweep runs at
    # EQUIVALENCE-CLASS grain and expands back by class sizes in the
    # final aggregate — exact, and the pair space shrinks quadratically
    # in the dup rate (fixture: 5000 docs → 3935 classes, 12.5M → 7.7M
    # class pairs at sf0.1). Class identity
    # is xxhash64 over the SORTED token set — same 64-bit-collision
    # reasoning as line_dedup's keys (birthday-bounded noise at any
    # real scale, and the differential hash against the raw-text oracle
    # proves the keying changes nothing on the fixture). The class id
    # is the class's MIN doc id, which makes removal accounting exact:
    # a doc is removed at threshold t iff some SMALLER doc qualifies
    # against it — every non-min member of a class is removed by its
    # own min (within-class J=1 ≥ every grid t), and a class min m_X
    # survives iff no qualifying neighbor class has a smaller min. So
    #   n_docs_kept(t)   = #{classes X : min over qualifying neighbors
    #                       Y of id_Y > id_X}          (survivor minima)
    #   n_docs_removed(t) = total_docs − n_docs_kept(t)
    #   n_pairs(t)       = Σ_{X~Y qualifying, X<Y} c_X·c_Y
    #                      + Σ_X C(c_X, 2)            (within, every t)
    # The checkpoint also carries the per-class HASHED token set
    # (`toksh`): verification intersects 64-bit digests, which is about
    # 2.5× cheaper than intersecting the strings over the 6.6M candidate
    # pairs at sf0.1. Collisions: same birthday reasoning as the class-identity hash
    # above — a wrong intersection size needs two DISTINCT tokens of one
    # candidate pair's union to share an xxhash64, P ≈ |union|²/2⁶⁵ ≈
    # 10⁻¹⁴ per pair, and the differential hash against the raw-string
    # DuckDB oracle pins the fixture behavior.
    classes = (
        ensure_parallelism(d)
        .select(
            "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
        )
        .groupBy(F.xxhash64(F.sort_array("toks")).alias("h"))
        .agg(
            F.min("doc_id").alias("id"),
            F.count("*").cast("bigint").alias("c"),
            F.min_by("toks", "doc_id").alias("toks"),
        )
        .select(
            "id",
            "c",
            "toks",
            F.size("toks").alias("n"),
            F.expr("transform(toks, t -> xxhash64(t))").alias("toksh"),
        )
        .localCheckpoint()
    )
    # Three bounded driver scalars, with no action of their own: the
    # 1-row aggregate cross-joins onto the fin aggregate below, so the
    # whole op runs ONE materializing action after the checkpoint.
    tot = classes.agg(
        F.sum("c").alias("docs"),
        F.count("*").alias("ncls"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("bigint").alias("within"),
    )
    # Candidate generation over class representatives (one doc per
    # class). No widening wrapper: the kernel's explicit-width pair-dedup
    # exchange already leaves the stream at full width.
    cand = prefix_filtered_pairs(classes.select("id", "toks"), t_num=1, t_den=2)
    # Verify-side metadata ONLY (id, c, n, toksh — never the string
    # arrays): ~4k rows of longs at sf0.1, broadcast so the 6.6M-pair
    # candidate stream is never shuffled by id_a/id_b. toksh is 8 B per
    # distinct token per class, and sum(n) over the checkpointed classes
    # frame is the exact element count (one block-scan action), so the
    # hint goes through the session threshold: at corpus scale (millions
    # of classes × hundreds of tokens) the planner's shuffle join takes
    # over instead of a driver-heap broadcast.
    meta = classes.select("id", "c", "n", "toksh")
    n_digests = classes.agg(F.sum("n")).first()[0] or 0
    meta = maybe_broadcast(meta, n_digests * 8)
    sa = meta.alias("sa")
    sb = meta.alias("sb")
    # Single-eval integer grid test: (100+pct)·i ≥ pct·(nₐ+n_b). This op
    # keeps its own verify rather than ``verify_jaccard``: it grades every
    # candidate on five levels and carries class weights, it filters none.
    i = F.size(F.array_intersect("sa.toksh", "sb.toksh"))
    pairs = (
        cand.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            F.col("sa.c").alias("c_a"),
            F.col("sb.c").alias("c_b"),
            i.alias("i"),
            (F.col("sa.n") + F.col("sb.n")).alias("s"),
        )
    )
    # No grid fan, no checkpoint, one pass. The integer test
    # (100+pct)·i ≥ pct·s is monotone DECREASING in pct, so a pair's
    # qualifying grid points are a PREFIX of the ascending grid — fully
    # described by one small int `lvl` (5 codegen comparisons per pair).
    # One aggregation at class grain answers everything: explode each
    # pair into its two directed edges inline (codegen explode — no
    # union, so candidate gen + verify run exactly once) and groupBy the
    # edge source with 5 conditional mins (loser test per grid rank) + 5
    # conditional sums (cross-pair weight per lvl; each pair counted
    # twice, halved below). Partial aggregation reduces the 13.2M edges
    # at sf0.1 to ~#classes rows per task before the only shuffle, so
    # shuffle bytes are O(classes), not O(pairs).
    lvl = sum(
        ((100 + p) * F.col("i") >= p * F.col("s")).cast("int") for p in GRID_PCT
    )
    ranks = range(1, len(GRID_PCT) + 1)
    # NO `where(lvl > 0)` pre-filter. PushDownPredicate substitutes a
    # filter straight through projections with no expression-cost guard,
    # so the lvl>0 test would evaluate the array_intersect per row on the
    # filter side AND again in the surviving projection (verify+aggregate
    # 6.7 s with the filter vs 1.2 s without at sf0.1). The filter is
    # semantically redundant: every downstream aggregate is conditional on
    # lvl ≥ r (r ≥ 1), so lvl=0 edges contribute NULL to every min/sum and
    # the fitted scalars are identical.
    edges = (
        pairs.withColumn("lvl", lvl)
        .withColumn("w", (F.col("c_a") * F.col("c_b")).cast("bigint"))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("x"), F.col("id_b").alias("nb")
                    ),
                    F.struct(
                        F.col("id_b").alias("x"), F.col("id_a").alias("nb")
                    ),
                )
            ).alias("e"),
            "lvl",
            "w",
        )
        .select("e.x", "e.nb", "lvl", "w")
    )
    perx = edges.groupBy("x").agg(
        *[
            F.min(F.when(F.col("lvl") >= r, F.col("nb"))).alias(f"m{r}")
            for r in ranks
        ],
        *[
            F.sum(F.when(F.col("lvl") == r, F.col("w"))).alias(f"s{r}")
            for r in ranks
        ],
    )
    # One bounded driver row (the same fitted-scalar pattern as
    # total/ncls/within above): per rank, how many class minima lose to a
    # smaller qualifying neighbor, and twice the qualifying cross-pair
    # weight at exactly that lvl.
    fin = (
        perx.agg(
            *[
                F.sum((F.col(f"m{r}") < F.col("x")).cast("bigint")).alias(
                    f"lost{r}"
                )
                for r in ranks
            ],
            *[F.sum(f"s{r}").alias(f"g{r}") for r in ranks],
        )
        .crossJoin(tot)
        .first()
    )
    total, n_classes, within = int(fin.docs), int(fin.ncls), int(fin.within)
    lost = [int(fin[f"lost{r}"] or 0) for r in ranks]
    gsum = [int(fin[f"g{r}"] or 0) for r in ranks]
    rows = []
    for idx, p in enumerate(GRID_PCT):
        # Pairs qualifying at pct GRID_PCT[idx] are exactly lvl > idx:
        # suffix-sum the per-lvl weights (each pair appeared twice).
        cross = sum(gsum[idx:]) // 2
        rows.append(
            (
                p,
                within + cross,
                (total - n_classes) + lost[idx],
                n_classes - lost[idx],
            )
        )
    # Inline VALUES: createDataFrame's parallelize path costs seconds of
    # job overhead for these 5 rows (see values_frame).
    return values_frame(
        spark,
        rows,
        "pct bigint, n_pairs bigint, n_docs_removed bigint, n_docs_kept bigint",
    ).orderBy("pct")
