"""Round-8c: per-file BLOOM-FILTER index for point lookups — the data-
skipping lever zone maps cannot provide. Zone maps (time_travel /
lake_zorder) prune RANGE predicates on the clustering column(s); a
point lookup on any OTHER high-cardinality column sees per-file
[min, max] spans that cover everything and prunes nothing. Delta's
bloom-filter index and Iceberg/Parquet bloom metadata exist for exactly
this case: a KB-scale bitset per (file, column) answers "might this
file contain key x?" with no false negatives, so a lookup reads only
the files whose bloom fires.

Here the table is clustered by CUSTKEY (so orderkey zone maps are
useless by construction — the pytest proves zone-map pruning would keep
every file) and the bloom is built over ORDERKEY: m bits sized at ~16×
the per-file key count (k=3 hashes → ~1% false-positive rate), bit
positions from seeded xxhash64 — all JVM-side expressions.

Scale shape: the index BUILD is one scan — bit positions are computed
per row in codegen, and each file's bitset is packed to bytes inside
one Arrow-batched ``applyInPandas`` per file (numpy bit-or; only the
packed KB-scale bitsets ever reach the driver/manifest, never
positions). LOOKUP cost is manifest-only: probe-key positions are K×
|probes| integers, membership is driver-side bit tests against the
manifest's base64 bitsets, and the exact IN-filter runs only over the
surviving files. False positives cost one extra file read; false
negatives are impossible — which is the property the differential hash
proves, since the oracle filters the source table directly.
"""

from __future__ import annotations

import base64
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, read_parquet, values_frame
from desdb_spark.sources.lake_dml import read_or_empty
from desdb_spark.sources.sinks import _stage_dir
from desdb_spark.sources.time_travel import commit_manifest, read_manifest

#: Number of seeded hash functions (k) and bits-per-key sizing factor.
N_HASHES = 3
BITS_PER_KEY = 16
#: Files in the staged table; probe = every orderkey ≡ 1 (mod 1000).
N_FILES = 8
PROBE_MOD = 1000
PROBE_RES = 1


def _positions(col, m: int):
    """The K seeded-xxhash64 bit positions of ``col`` as an array column."""
    return F.array(
        *[F.pmod(F.xxhash64(F.lit(i), col), F.lit(m)) for i in range(N_HASHES)]
    )


def build_bloom_table(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Stage orders clustered by custkey into N_FILES files and commit a
    manifest whose entries carry a base64 bloom bitset over orderkey.
    Returns (root, m_bits)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.col("o_custkey").cast("bigint").alias("ck"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    n_rows = o.count()
    m = 1 << max(10, math.ceil(math.log2(BITS_PER_KEY * n_rows / N_FILES + 1)))
    root = _stage_dir(spark, "bloom_orders")
    o.repartitionByRange(N_FILES, "ck").write.mode("overwrite").parquet(
        f"{root}/data_v1"
    )
    staged = read_parquet(spark, f"{root}/data_v1").select(
        F.input_file_name().alias("path"), F.explode(_positions(F.col("k"), m)).alias("pos")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m, dtype=bool)
        bits[pdf["pos"].to_numpy()] = True
        packed = np.packbits(bits)
        return pd.DataFrame(
            {
                "path": [pdf["path"].iloc[0]],
                "bloom": [base64.b64encode(packed.tobytes()).decode()],
            }
        )

    blooms = (
        staged.groupBy("path")
        .applyInPandas(pack, "path string, bloom string")
        .collect()
    )
    entries = [
        {"path": r.path.removeprefix("file://"), "bloom": r.bloom}
        for r in sorted(blooms, key=lambda r: r.path)
    ]
    commit_manifest(root, 1, entries)
    return root, m


def read_bloom_pruned(
    spark: SparkSession, root: str, m: int, probe_keys: list[int]
):
    """Read only the files whose bloom fires for ≥1 probe key, then
    filter exactly. Returns (DataFrame, n_total, n_scanned)."""
    key_pos = (
        values_frame(spark, [(k,) for k in probe_keys], "k bigint")
        .select(_positions(F.col("k"), m).alias("ps"))
        .collect()
    )
    entries = read_manifest(root, 1)
    keep = []
    for e in entries:
        bits = np.unpackbits(
            np.frombuffer(base64.b64decode(e["bloom"]), dtype=np.uint8)
        )
        if any(all(bits[p] for p in r.ps) for r in key_pos):
            keep.append(e["path"])
    df = read_or_empty(
        spark, keep, schema="k bigint, ck bigint, cents bigint"
    ).where(F.col("k").isin(probe_keys))
    return df, len(entries), len(keep)


@register(
    "source_bloom_pruned_read",
    oracle=f"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key
        FROM orders
        WHERE o_orderkey % {PROBE_MOD} = {PROBE_RES}
    """,
    group="lake_bloom",
)
def source_bloom_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-index point lookup end to end: stage orders clustered by
    custkey, commit per-file orderkey blooms in the manifest, look up
    every key ≡ 1 (mod 1000) reading only bloom-firing files, and
    aggregate — hashed against DuckDB filtering the source directly, so
    the no-false-negative property is what the hash proves. (The probe
    keys arrive as a concrete list, as they would from a caller; here
    the list is derived by one column-pruned scan of the source.)
    """
    root, m = build_bloom_table(spark, sf_dir)
    keys = [
        r.k
        for r in load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").cast("bigint").alias("k"))
        .where(F.col("k") % PROBE_MOD == PROBE_RES)
        .collect()
    ]
    df, _, _ = read_bloom_pruned(spark, root, m, keys)
    return df.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.min("k").cast("bigint").alias("min_key"),
        F.max("k").cast("bigint").alias("max_key"),
    )
