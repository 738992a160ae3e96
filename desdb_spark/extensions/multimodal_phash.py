"""Round-8: perceptual-hash image dedup — the multimodal tier's missing
DEDUP stage (public technique: average hash / aHash, the simplest of
the pHash family used by every image-dedup pipeline): downsample the
decoded grayscale image to 8×8 integer box means, threshold each cell
against the global mean, pack the 64 bits, and group identical hashes.
aHash is invariant to uniform brightness shifts (adding c to every
pixel moves every cell AND the mean by c — bits unchanged) and flips
under inversion — both properties planted in the fixture below.

The container has no codecs, so the "decoded" grayscale buffer is
synthesized deterministically per image doc (the established
multimodal_resample_pixels discipline): base gradient per planted
group ``doc_id % {N_GROUPS}`` with a per-doc brightness offset
``doc_id % 4`` (a true near-duplicate: different bytes, same aHash),
and docs with ``doc_id % {CORRUPT_STRIDE} == 0`` inverted (their
hashes split into their own clusters). The REAL work — raw-buffer
bytes → box-mean → threshold → bit packing — runs in an Arrow-batched
``mapInPandas`` kernel over the binary payload, exactly where a codec
decode would sit.

Scale shape: the kernel is one Arrow pass emitting 16 bytes per image;
the dedup is a hash-key groupBy whose shuffle carries (hash, doc_id)
only — never pixels. Near-dup at Hamming ≤ T generalizes by banding
the 64-bit hash into equi-join bands (ann_lsh_bucketed discipline);
exact-bucket grouping is the production first pass.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table

#: Synthetic decoded-image geometry: SIDE×SIDE grayscale, 8×8 aHash
#: cells; planted duplicate-group and inversion strides.
SIDE = 32
CELL = SIDE // 8
N_GROUPS = 40
CORRUPT_STRIDE = 14

_HASH_SCHEMA = "doc_id bigint, hash_lo bigint, hash_hi bigint"


def make_gray_buffer(doc_id: int) -> bytes:
    """Deterministic decoded-grayscale stand-in: group gradient + per-doc
    brightness, inverted for corrupt-stride docs. Max base 239 + offset
    3 = 242, so uint8 never wraps and inversion stays non-negative."""
    import numpy as np

    g = doc_id % N_GROUPS
    y, x = np.mgrid[0:SIDE, 0:SIDE]
    px = (5 * x * (1 + g % 3) + 3 * y * (1 + g % 5) + 17 * g) % 240 + doc_id % 4
    if doc_id % CORRUPT_STRIDE == 0:
        px = 255 - px
    return px.astype(np.uint8).tobytes()


def ahash_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow kernel: raw grayscale bytes → 8×8 box means (integer floor)
    → global-mean threshold → 64 bits packed into two 32-bit words
    (row-major cell index cy*8+cx)."""
    import numpy as np

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            arr = (
                np.frombuffer(bytes(payload), dtype=np.uint8)
                .reshape(SIDE, SIDE)
                .astype(np.int64)
            )
            cells = (
                arr.reshape(8, CELL, 8, CELL)
                .swapaxes(1, 2)
                .reshape(8, 8, CELL * CELL)
                .sum(axis=2)
                // (CELL * CELL)
            )
            mean = cells.sum() // 64
            bits = (cells > mean).ravel()
            words = [
                int(np.sum(bits[k * 32 : (k + 1) * 32].astype(np.int64) << np.arange(32)))
                for k in range(2)
            ]
            out.append(
                {"doc_id": doc_id, "hash_lo": words[0], "hash_hi": words[1]}
            )
        yield pd.DataFrame(out, columns=["doc_id", "hash_lo", "hash_hi"])


def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` kernel: (doc_id) → (doc_id, payload), each doc's
    synthetic grayscale image buffer."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": [make_gray_buffer(int(i)) for i in pdf["doc_id"]],
            }
        )


def image_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hash_lo, hash_hi) for every image doc, via the real
    binary → Arrow-kernel path."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 0)
    payloads = d.select("doc_id").mapInPandas(
        synth, "doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(ahash_kernel, _HASH_SCHEMA)


AHASH_DEDUP_ORACLE = f"""
        WITH img AS (
            SELECT doc_id, doc_id % {N_GROUPS} AS g
            FROM documents WHERE doc_id % 2 = 0
        ), px AS (
            SELECT doc_id, y // {CELL} AS cy, x // {CELL} AS cx,
                   CASE WHEN doc_id % {CORRUPT_STRIDE} = 0
                        THEN 255 - ((5*x*(1 + g%3) + 3*y*(1 + g%5) + 17*g)
                                    % 240 + doc_id % 4)
                        ELSE (5*x*(1 + g%3) + 3*y*(1 + g%5) + 17*g)
                             % 240 + doc_id % 4
                   END AS p
            FROM img,
                 unnest(range(0, {SIDE})) AS ry(y),
                 unnest(range(0, {SIDE})) AS rx(x)
        ), cells AS (
            SELECT doc_id, cy, cx, sum(p) // {CELL * CELL} AS cell
            FROM px GROUP BY doc_id, cy, cx
        ), withmean AS (
            SELECT doc_id, cy * 8 + cx AS idx, cell,
                   sum(cell) OVER (PARTITION BY doc_id) // 64 AS m
            FROM cells
        ), hashes AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN cell > m AND idx < 32
                            THEN (1::BIGINT << idx) ELSE 0 END)
                        AS BIGINT) AS hash_lo,
                   CAST(sum(CASE WHEN cell > m AND idx >= 32
                            THEN (1::BIGINT << (idx - 32)) ELSE 0 END)
                        AS BIGINT) AS hash_hi
            FROM withmean GROUP BY doc_id
        )
        SELECT hash_lo, hash_hi,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(min(doc_id) AS BIGINT) AS keep_doc,
               string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY doc_id) AS member_ids
        FROM hashes
        GROUP BY hash_lo, hash_hi
        HAVING count(*) >= 2
        ORDER BY hash_lo, hash_hi
    """


@register(
    "multimodal_image_ahash_dedup",
    # The synthesized pixel, the box mean, the global mean, and the bit
    # packing are all closed-form integer arithmetic, so the oracle
    # regenerates every hash from scratch — the kernel's byte path is
    # additionally pinned against an independent NumPy reference in
    # tests/test_multimodal_phash.py.
    oracle=AHASH_DEDUP_ORACLE,
    group="multimodal_phash",
)
def multimodal_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-image groups by exact aHash: one row per 64-bit hash
    with ≥ 2 members — group size, the kept (lowest) doc, and the
    member list (comma-joined, numeric order). Brightness-shifted
    near-duplicates collapse; inverted corruptions split out."""
    hashes = image_hashes(spark, sf_dir)
    return (
        hashes.groupBy("hash_lo", "hash_hi")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.min("doc_id").cast("bigint").alias("keep_doc"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("member_ids"),
        )
        .where(F.col("n_members") >= 2)
        .orderBy("hash_lo", "hash_hi")
    )
