"""Round-8: streaming perceptual-hash image dedup — the multimodal
Arrow kernel INSIDE a real Structured Streaming pipeline: image rows
arrive through a file stream source, the aHash kernel
(extensions/multimodal_phash.py — synth-decode → box means → 64-bit
sign pack) runs per micro-batch via ``mapInPandas`` ON THE STREAM, and
a streaming groupBy over the packed hash accumulates each hash's
member set. The final state must be BIT-IDENTICAL to the batch
operator — the registered oracle IS the batch op's closed-form SQL:
streaming ingestion of a media corpus dedups to exactly the batch
answer.

Scale shape: per micro-batch the kernel emits 16 bytes per image; the
only stateful operator is the hash-keyed aggregate whose per-key state
is (count, min, id-list) — at production scale the id-list becomes
keep-min + count (bounded state) and member enumeration moves to a
batch join; the fixture keeps the list so the streaming result hashes
against the batch oracle verbatim. ``collect_list`` order inside a
streaming aggregate is micro-batch-arrival-dependent, so the member
list is sorted on the BATCH side after the sink read — never trust
stream-arrival order in hashed output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.extensions.multimodal_phash import (
    AHASH_DEDUP_ORACLE,
    _HASH_SCHEMA,
    ahash_kernel,
    synth,
)
from desdb_spark.registry import register


@register(
    "stream_image_ahash_dedup",
    oracle=AHASH_DEDUP_ORACLE,
    group="media_dedup",
)
def stream_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming replica of ``multimodal_image_ahash_dedup``: file
    stream → per-micro-batch Arrow aHash kernel → stateful hash-keyed
    aggregate (complete mode, availableNow) → batch-side member-list
    sort. Output schema and values equal the batch operator's."""
    from desdb_spark.session import parquet_schema, pin_session_confs
    from desdb_spark.streaming.runner import run_available_now, stage_file_source

    pin_session_confs(spark)
    stage = stage_file_source(f"{sf_dir}/documents.parquet", "desdb_media_src_")
    batch_schema = parquet_schema(spark, f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(batch_schema)
        .parquet(stage)
        .where(F.col("doc_id") % 2 == 0)
        .select("doc_id")
    )

    hashes = stream.mapInPandas(
        synth, "doc_id bigint, payload binary"
    ).mapInPandas(ahash_kernel, _HASH_SCHEMA)
    agg = hashes.groupBy("hash_lo", "hash_hi").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.min("doc_id").cast("bigint").alias("keep_doc"),
        F.collect_list("doc_id").alias("members_unordered"),
    )
    sink = run_available_now(
        spark, agg, "media_ahash_dedup", "complete", stage_dir=stage,
        state_partitions=8,
    )
    return (
        sink.where(F.col("n_members") >= 2)
        .select(
            "hash_lo",
            "hash_hi",
            "n_members",
            "keep_doc",
            F.array_join(
                F.transform(
                    F.sort_array(F.col("members_unordered")),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("member_ids"),
        )
        .orderBy("hash_lo", "hash_hi")
    )
