"""Near-duplicate detection ops: MinHash+LSH and SimHash (SURVEY.md §2B
`dedup_near_minhash` / `dedup_simhash`).

The two registered ops live in their own module so the driver window can
hold them apart from the rest of the dedup tier. The shared kernels
(shingling, the portable md5-affine MinHash family, banding, SimHash bit
votes, candidate generation, Jaccard verification) stay in
extensions/dedup.py and are imported here.

`dedup_near_minhash` ``localCheckpoint()``s the candidate id-pairs before
verification. The verify stage references the pair set twice (the
candidate-doc semi-join that bounds the shingle frame, plus the verify
join), and the checkpoint makes the expensive signature/band plan execute
exactly once, with only the small (id_a, id_b) set materialized.
Production note: as with ``connected_components``, a multi-hour 100 TB
run should prefer reliable ``checkpoint()`` to object storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.extensions.dedup import (
    MH_P,
    minhash_candidate_pairs,
    shingles,
    simhash64,
    verify_jaccard,
)
from desdb_spark.registry import register
from desdb_spark.session import load_table


@register(
    "dedup_near_minhash",
    # r8c rows→hash upgrade: with the portable md5-affine hash family
    # (minhash_signature) the ENTIRE LSH pipeline — shingling, K=32
    # min-hashes, 8×4 banding, candidate equi-join, exact Jaccard
    # verification — is recomputed by DuckDB and the outputs hashed.
    # What the differential proves is cross-engine PARITY of the
    # algorithm (including its probabilistic recall decisions, which
    # are deterministic given the family); recall itself is pinned by
    # the planted-dup pytest and audited by dedup_minhash_eval.
    oracle=f"""
        WITH arrs AS (
            SELECT doc_id, string_split(text, ' ') AS l FROM documents
        ), idx AS (
            SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i
            FROM arrs WHERE len(l) >= 3
        ), grams AS (
            SELECT doc_id, l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS g
            FROM idx
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
        ), dg AS (
            SELECT DISTINCT doc_id, g FROM grams
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM dg GROUP BY doc_id
        ), inter AS (
            SELECT c.id_a, c.id_b, count(*) AS i
            FROM cand c
            JOIN dg a ON a.doc_id = c.id_a
            JOIN dg b ON b.doc_id = c.id_b AND b.g = a.g
            GROUP BY c.id_a, c.id_b
        )
        SELECT id_a, id_b,
               round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= CAST(0.8 AS DOUBLE)
    """,
    group="dedup_near",
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, Jaccard-verified above 0.8.

    Exact duplicates (planted in the fixture) are guaranteed candidates —
    identical signatures collide in every band — so recall on them is 1.0
    (asserted in tests/test_extensions.py).
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(d).localCheckpoint()
    # Shingle sets only for docs that appear in a candidate pair, so the
    # verify joins carry candidate-bound payloads, never the corpus's.
    # Checkpointed: both verify sides read it.
    ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sets = (
        d.join(ids, "doc_id", "left_semi")
        .select(
            F.col("doc_id").alias("id"),
            F.array_distinct(shingles(F.col("text"), 3)).alias("toks"),
        )
        .localCheckpoint()
    )
    # 9·i ≥ 4·(|A|+|B|) is the oracle's float i/(s−i) ≥ 0.8 for any set
    # size below ~10¹² (the rational gap around 4/5 at those denominators
    # dwarfs a double ulp).
    return (
        verify_jaccard(pairs, sets, 4, 5)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


@register(
    "dedup_simhash",
    # r8c rows→hash upgrade: with the portable md5-chunk bit family
    # (simhash64) DuckDB recomputes the full pipeline — per-token bit
    # votes, sign fingerprint, 16-bit banding, candidate equi-join,
    # Hamming verification. The oracle never assembles the signed
    # 64-bit fp; it compares per-bit signs directly, which is the same
    # quantity bit_count(a.fp XOR b.fp) counts.
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), chunks AS (
            SELECT doc_id, ks.k,
                   CAST(('0x' || substr(md5(tok), 1 + 4 * ks.k, 4)) AS BIGINT)
                       AS c
            FROM toks, (SELECT unnest(generate_series(0, 3)) AS k) ks
        ), bits AS (
            SELECT doc_id, 16 * k + js.j AS i,
                   CASE WHEN (c >> js.j) & 1 = 1 THEN 1 ELSE -1 END AS vote
            FROM chunks, (SELECT unnest(generate_series(0, 15)) AS j) js
        ), sgn AS (
            SELECT doc_id, i, CASE WHEN sum(vote) > 0 THEN 1 ELSE 0 END AS s
            FROM bits GROUP BY doc_id, i
        ), bands AS (
            SELECT doc_id, i // 16 AS band,
                   sum(s * (CAST(1 AS BIGINT) << (i % 16))) AS val
            FROM sgn GROUP BY doc_id, i // 16
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        )
        SELECT c.id_a, c.id_b,
               CAST(sum(CASE WHEN sa.s <> sb.s THEN 1 ELSE 0 END) AS BIGINT)
                   AS hamming
        FROM cand c
        JOIN sgn sa ON sa.doc_id = c.id_a
        JOIN sgn sb ON sb.doc_id = c.id_b AND sb.i = sa.i
        GROUP BY c.id_a, c.id_b
        HAVING sum(CASE WHEN sa.s <> sb.s THEN 1 ELSE 0 END) <= 3
        ORDER BY id_a, id_b
    """,
    group="dedup_near",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: identical 16-bit band → Hamming check.

    Bands (4×16 bits) turn Hamming-≤3 search into equi-joins; the final
    popcount filter verifies distance. Exact dups share all bands.
    """
    d = load_table(spark, sf_dir, "documents")
    fp = simhash64(d)
    banded = fp.select(
        "id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("fp"), 16 * b).bitwiseAND(F.lit(0xFFFF))
                    for b in range(4)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= 3)
        .orderBy("id_a", "id_b")
    )
