"""Random-hyperplane LSH ANN pairs (SURVEY.md §2B `ann_lsh_bucketed`).

r9 module move (VERDICT r8 item 1, same mechanism as the r8 moves): the
registered op split out of extensions/similarity.py so the r9 driver
window can hold exactly the driver-pending ops — its r8c rows→hash
oracle upgrade postdates its last (rows-only, r6) driver row. The
shared kernels (quantized planes, integer-micro sign signatures, the
exact cosine expression) stay in extensions/similarity.py unchanged and
are imported here; only the registration site moved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.extensions.similarity import (
    PLANE_SCALE,
    _banded_sigs,
    dot,
    l2_norm,
    quantized_planes,
)
from desdb_spark.registry import register
from desdb_spark.session import load_table


def _lsh_bucketed_oracle() -> str:
    """Generate the ann_lsh_bucketed differential SQL: the 8×4 quantized
    sign-bit bands as explicit integer dot expressions (bit-exact in any
    engine — see PLANE_SCALE), candidate equi-join, then the same rounded
    exact-cosine verification the hash-green dedup_embedding_cosine
    oracle uses. Plane constants are inlined as integer literals, so the
    whole LSH pipeline is recomputed from scratch by DuckDB."""
    planes = quantized_planes(64, 32)
    selects = []
    for b in range(8):
        bits_sql = " || ".join(
            "(CASE WHEN "
            + " + ".join(
                f"({w})*eq[{i + 1}]" for i, w in enumerate(planes[b * 4 + r])
            )
            + " >= 0 THEN '1' ELSE '0' END)"
            for r in range(4)
        )
        selects.append(f"SELECT vec_id, {b} AS band, {bits_sql} AS sig FROM base")
    sigs = "\nUNION ALL\n".join(selects)
    return f"""
        WITH base AS (
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(round(x * {PLANE_SCALE}) AS BIGINT))
                       AS eq
            FROM embeddings
        ), sigs AS (
            {sigs}
        ), cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM sigs a JOIN sigs b
              ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
        )
        SELECT c.vec_a, c.vec_b,
               round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                            CAST(eb.embedding AS DOUBLE[])), 6)
                   AS cos_sim
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.vec_a
        JOIN embeddings eb ON eb.vec_id = c.vec_b
        WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                           CAST(eb.embedding AS DOUBLE[])), 6)
              >= 0.45
        ORDER BY vec_a, vec_b
    """


@register(
    "ann_lsh_bucketed",
    # r8c rows→hash upgrade: bucket assignment is exact integer micro
    # arithmetic (PLANE_SCALE quantization of planes AND embeddings), so
    # the probabilistic candidate set is deterministic and recomputable;
    # verification reuses the rounded-cosine compare already hash-proven
    # by dedup_embedding_cosine. What the differential proves is
    # cross-engine PARITY of the full LSH pipeline; recall vs the exact
    # tier stays pinned in tests/test_extensions.py.
    oracle=_lsh_bucketed_oracle(),
    group="ann_lsh",
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN near-neighbor pairs via random-hyperplane LSH bands.

    8 bands × 4 sign bits: vectors agreeing on all bits of any band become
    candidates (equi-join on the band signature), then exact cosine filters
    at ≥ 0.45. Band geometry is tuned for the fixture's weak-similarity
    regime (p_agree ≈ 0.65 per bit at sim 0.45 → ~0.8 recall); with real
    near-dups (sim ≥ 0.95) fewer, wider bands prune far harder. Recall vs
    the exact op is asserted in tests/test_extensions.py.

    Shuffle discipline: the candidate self-join
    carries (id, band, sig) ONLY — no embedding payload rides the ×bands×2
    signature exchange. Candidate id-pairs are deduped across bands first;
    the two vectors re-attach afterwards via id equi-joins, so each
    embedding crosses an exchange at most once per join side instead of
    once per band per side (tests/test_plans.py asserts the signature
    exchange schema is array-free).
    """
    from desdb_spark.extensions.dedup import ensure_parallelism

    e = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    # Signature frame MATERIALIZED before the self-join: a self-join
    # executes its input plan on both sides, so without the checkpoint
    # the 32-plane dot-product pipeline runs twice. (id, band, sig) is
    # bands rows of three scalars per vector — small at any scale, and no
    # payload rides it. ensure_parallelism above spreads the dot-product
    # pipeline across cores on an under-split fixture.
    sigs = _banded_sigs(e, bands=8, bits=4).localCheckpoint()
    a = sigs.alias("a")
    b = sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("vec_a"), F.col("b.id").alias("vec_b"))
        .distinct()
    )
    # The L2 norm is a per-VECTOR quantity — computing it inside
    # cosine() per candidate pair walked each 64-dim array three times
    # (dot + both norms) in an interpreted HOF lambda, and the ~40%-of-
    # all-pairs candidate volume made that the op's wall. Precompute the
    # norm once per vector (n rows, not n·candidates) and divide the
    # per-pair dot by the product — the same doubles in the same
    # operation order as cosine(), so cos_sim is bit-identical.
    emb = F.col("embedding").cast("array<double>")
    vecs = e.select(
        F.col("vec_id").alias("id"),
        emb.alias("emb"),
        l2_norm(emb).alias("nrm"),
    )
    ea = vecs.alias("ea")
    eb = vecs.alias("eb")
    return (
        cand.join(ea, F.col("vec_a") == F.col("ea.id"))
        .join(eb, F.col("vec_b") == F.col("eb.id"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot(F.col("ea.emb"), F.col("eb.emb"))
                / (F.col("ea.nrm") * F.col("eb.nrm")),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.45)
        .orderBy("vec_a", "vec_b")
    )
