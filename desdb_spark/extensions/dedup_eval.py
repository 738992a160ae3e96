"""Round-8: approximate-dedup quality audit — the measurement a team
runs BEFORE trusting an LSH config on a real corpus: how much of the
exact-tier truth does the MinHash tier recover, and at what candidate
cost? (The ANN analogue is extensions/ann_eval.py; this is the same
telemetry for the dedup cascade.)

Truth = the PPJoin prefix-filtered exact tier at t = 0.8, prefixed over
the SHINGLE sets (r9, ADVICE r8: the verification metric is
shingle-Jaccard, and the prefix lemma is only lossless with respect to
the same set family it prefixes — the earlier token-set prefix could
drop a shingle-qualifying pair whose token-set sizes violate the length
filter, e.g. a short doc contained in a slightly longer one with a few
extra token types, silently understating n_truth). Approx = the banded
MinHash tier at the same threshold. Both sides Jaccard-verify their
candidates, so approx ⊆ truth and the audit reduces to exact set
arithmetic on (id_a, id_b) pair keys — recall, miss count, and
candidate efficiency (verified / generated, the shuffle-waste number).

Scale shape: both tiers are the already-audited candidate-bound paths
(no all-pairs anywhere); the comparison itself is one left_anti join on
the pair key plus three counts folded into a single-row report. At
100 TB you run this on a sampled stratum, not the full corpus — the op
takes the whole fixture because the fixture IS the sample.

Hash-checked since the r8c portable-family upgrade: MinHash signatures
are the md5-affine family of ``minhash_signature`` (dedup.py), which the
oracle recomputes end-to-end — LSH candidates, Jaccard-verified subset,
and the truth tier as the all-pairs-sharing-a-gram join filtered at the
threshold (every pair with shingle-Jaccard > 0 shares a gram, so that
join is trivially lossless; the Spark side's shingle-grain prefix
filter is lossless by the prefix lemma over the same family — the two
therefore define the same truth set on ANY corpus, not just the
closed-vocabulary fixture) — and folds into the same six counters. The threshold test is exact
integer arithmetic (den·i ≥ num·(|A|+|B|−i)), equivalent to the float
``jaccard ≥ 0.8`` for any set sizes below ~10¹² (the rational gap
around 4/5 at those denominators dwarfs a double ulp). The oracle skips
documents with <3 tokens (no shingles → empty-signature band collisions
in Spark); the fixture family guarantees ≥10 tokens per doc, and
tests/test_dedup_r8.py still pins the algorithmic invariants
(approx ⊆ truth, planted-exact-dup recall = 1, recall floor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.extensions.dedup import (
    MH_P,
    ensure_parallelism,
    minhash_candidate_pairs,
    prefix_filtered_pairs,
    shingles,
)
from desdb_spark.registry import register
from desdb_spark.session import load_table, thread_pool, values_frame

THRESHOLD_NUM, THRESHOLD_DEN = 4, 5  # t = 0.8, dedup_near_minhash's knob


@register(
    "dedup_minhash_eval",
    # r8c rows→hash upgrade: the portable md5-affine MinHash family makes
    # the whole audit recomputable — same signature/banding CTEs as the
    # dedup_near_minhash oracle, plus an all-pairs-on-shared-gram truth
    # tier (equivalent to the op's shingle-grain PPJoin truth — both are
    # lossless for shingle-Jaccard ≥ t; ADVICE r8) and exact integer
    # threshold tests in place of the float jaccard comparison.
    oracle=f"""
        WITH arrs AS (
            SELECT doc_id, string_split(text, ' ') AS l FROM documents
        ), idx AS (
            SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i
            FROM arrs WHERE len(l) >= 3
        ), grams AS (
            SELECT doc_id, l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS g
            FROM idx
        ), dg AS (
            SELECT DISTINCT doc_id, g FROM grams
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM dg GROUP BY doc_id
        ), gx AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % {MH_P}
                       AS x
            FROM grams
        ), seeds AS (
            SELECT i, (i * 1000003 + 17) % {MH_P} AS a,
                   (i * 998244353 + 101) % {MH_P} AS b
            FROM (SELECT unnest(generate_series(0, 31)) AS i)
        ), mins AS (
            SELECT doc_id, s.i, min((s.a * gx.x + s.b) % {MH_P}) AS mh
            FROM gx, seeds s GROUP BY doc_id, s.i
        ), bands AS (
            SELECT doc_id, i // 4 AS band,
                   string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
            FROM mins GROUP BY doc_id, i // 4
        ), cand AS (
            SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
            FROM bands x JOIN bands y
              ON x.band = y.band AND x.sig = y.sig
             AND x.doc_id < y.doc_id
        ), inter_c AS (
            SELECT c.id_a, c.id_b, count(*) AS i
            FROM cand c
            JOIN dg a ON a.doc_id = c.id_a
            JOIN dg b ON b.doc_id = c.id_b AND b.g = a.g
            GROUP BY c.id_a, c.id_b
        ), verified AS (
            SELECT x.id_a, x.id_b
            FROM inter_c x
            JOIN sizes sa ON sa.doc_id = x.id_a
            JOIN sizes sb ON sb.doc_id = x.id_b
            WHERE {THRESHOLD_DEN} * x.i
                  >= {THRESHOLD_NUM} * (sa.n + sb.n - x.i)
        ), inter_t AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
            FROM dg a JOIN dg b ON b.g = a.g AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), truth AS (
            SELECT x.id_a, x.id_b
            FROM inter_t x
            JOIN sizes sa ON sa.doc_id = x.id_a
            JOIN sizes sb ON sb.doc_id = x.id_b
            WHERE {THRESHOLD_DEN} * x.i
                  >= {THRESHOLD_NUM} * (sa.n + sb.n - x.i)
        ), counts AS (
            SELECT (SELECT count(*) FROM truth) AS nt,
                   (SELECT count(*) FROM cand) AS nc,
                   (SELECT count(*) FROM verified) AS nv,
                   (SELECT count(*) FROM truth t
                     WHERE NOT EXISTS (SELECT 1 FROM verified v
                                        WHERE v.id_a = t.id_a
                                          AND v.id_b = t.id_b)) AS nm
        )
        SELECT CAST(nt AS BIGINT) AS n_truth,
               CAST(nc AS BIGINT) AS n_lsh_candidates,
               CAST(nv AS BIGINT) AS n_lsh_verified,
               CAST(nm AS BIGINT) AS n_missed,
               CAST((1000000 * nv) // greatest(nt, 1) AS BIGINT)
                   AS recall_micros,
               CAST((1000000 * nv) // greatest(nc, 1) AS BIGINT)
                   AS candidate_efficiency_micros
        FROM counts
    """,
    group="dedup_eval",
)
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit of the MinHash tier against exact truth at t=0.8:
    (n_truth, n_lsh_candidates, n_lsh_verified, n_missed, recall_micros,
    candidate_efficiency_micros). recall_micros = 1e6·verified/truth —
    exact integer inputs, one deterministic division.
    """
    d = load_table(spark, sf_dir, "documents")
    t = float(THRESHOLD_NUM) / THRESHOLD_DEN

    # Truth candidates prefix over the SHINGLE sets — the family the
    # verification measures, so the filter is lossless for the metric.
    # One shingle-set frame, built at full width (shingling is CPU-bound
    # per row) and checkpointed, feeds the prefix kernel and both verify
    # sides, so the corpus is shingled once for both. The two tiers'
    # checkpoint materializations are independent job chains of small
    # stages, each leaving cores idle at stage boundaries; submitting
    # them from two driver threads lets the scheduler back-fill one
    # tier's stragglers with the other's tasks (wall ≈ max of the two
    # plus overlap slack, not their sum). Results are unaffected: each
    # thread only materializes its own eager checkpoints.
    def exact_tier():
        sets = (
            ensure_parallelism(d)
            .select(
                F.col("doc_id").alias("id"),
                F.array_distinct(shingles(F.col("text"), 3)).alias("toks"),
            )
            .localCheckpoint()
        )
        cand = prefix_filtered_pairs(
            sets, t_num=THRESHOLD_NUM, t_den=THRESHOLD_DEN
        ).localCheckpoint()
        return sets, cand

    with thread_pool(spark, 2) as pool:
        f_exact = pool.submit(exact_tier)
        f_lsh = pool.submit(lambda: minhash_candidate_pairs(d).localCheckpoint())
        sets, exact_cand = f_exact.result()
        lsh_cand = f_lsh.result()
    # ONE verify pass for both tiers: the two candidate sets union with
    # tier flags and dedup to distinct pairs (a pair can be in both
    # tiers), and one pair of set-frame joins computes the Jaccard every
    # counter reads. Unlike ``verify_jaccard`` this verify counts every
    # candidate, so it keeps the i/(s−i) ratio and grades it per tier.
    flags = (
        exact_cand.select(
            "id_a", "id_b", F.lit(1).alias("ex"), F.lit(0).alias("lsh")
        )
        .unionByName(
            lsh_cand.select(
                "id_a", "id_b", F.lit(0).alias("ex"), F.lit(1).alias("lsh")
            )
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("ex").alias("ex"), F.max("lsh").alias("lsh"))
    )
    sa = sets.alias("sa")
    sb = sets.alias("sb")
    ix = F.size(F.array_intersect("sa.toks", "sb.toks"))
    ver = (
        flags.join(sa, flags.id_a == F.col("sa.id"))
        .join(sb, flags.id_b == F.col("sb.id"))
        .select(
            "ex",
            "lsh",
            ix.alias("i"),
            (F.size("sa.toks") + F.size("sb.toks")).alias("s"),
        )
        .select(
            "ex",
            "lsh",
            (F.col("i") / (F.col("s") - F.col("i"))).alias("jaccard"),
        )
    )
    qual = F.when(F.col("jaccard") >= t, 1).otherwise(0)
    row = ver.agg(
        F.sum(F.col("ex") * qual).alias("nt"),
        F.sum(F.col("lsh") * qual).alias("nv"),
        # In truth but not verified: qualifying, exact-tier, NOT in the
        # LSH candidate set (an LSH candidate that qualifies IS verified).
        F.sum(F.col("ex") * (1 - F.col("lsh")) * qual).alias("nm"),
        F.sum("lsh").alias("nc"),
    ).first()
    n_truth, n_verified, n_missed, n_cand = (
        int(row.nt), int(row.nv), int(row.nm), int(row.nc),
    )
    recall_micros = (1_000_000 * n_verified) // max(n_truth, 1)
    eff_micros = (1_000_000 * n_verified) // max(n_cand, 1)
    # Inline VALUES emit: createDataFrame's parallelize path costs seconds
    # of job overhead for this single row (see values_frame).
    return values_frame(
        spark,
        [
            (
                n_truth,
                n_cand,
                n_verified,
                n_missed,
                recall_micros,
                eff_micros,
            )
        ],
        "n_truth bigint, n_lsh_candidates bigint, n_lsh_verified bigint, "
        "n_missed bigint, recall_micros bigint, candidate_efficiency_micros bigint",
    )
