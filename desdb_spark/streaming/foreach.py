"""Registered foreachBatch sink operator (round 5).

Promotes the library-tier ``run_foreach_batch_upsert`` (streaming/
runner.py) to a registered, driver-checkable operator — the one
Structured Streaming *sink* surface the registry didn't exercise yet:
arbitrary batch code per micro-batch with deterministic batch-id replay,
the production shape for exactly-once keyed delivery into a table that
has no native streaming sink.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register

_FB_ORACLE = """
    SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
    FROM events GROUP BY event_type
"""


@register("stream_foreachbatch_upsert", oracle=_FB_ORACLE, group="streaming")
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events file stream → ``foreachBatch`` keyed upsert (key=event_id)
    into a parquet target → final aggregate of the TARGET table.

    Hash-checkable despite being a real streaming run: the upsert is
    idempotent per event_id, so however availableNow splits the input
    into micro-batches (and however checkpoint replay re-delivers them),
    the target converges to exactly one row per event and the aggregate
    equals the batch oracle.

    Scale shape: the merge in run_foreach_batch_upsert is
    read-anti-join-union-rewrite because plain parquet has no row-level
    merge; on Delta/Iceberg the same foreachBatch body becomes MERGE INTO
    and the rewrite cost drops to the touched files. State on the stream
    side is zero — all keyed state lives in the target table itself.
    """
    from desdb_spark.session import (
        normalize_events_ts,
        parquet_schema,
        pin_session_confs,
        read_parquet,
    )
    from desdb_spark.streaming.runner import (
        run_foreach_batch_upsert,
        stage_file_source,
    )

    from desdb_spark.sources.sinks import _stage_dir

    pin_session_confs(spark)
    stage = stage_file_source(f"{sf_dir}/events.parquet", "desdb_fb_src_")
    schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    stream = normalize_events_ts(
        spark.readStream.schema(schema).parquet(stage)
    ).select("event_id", "event_type", "value")
    # Target: deterministic per-session path (sinks.py convention) so the
    # returned DataFrame stays lazily readable for the session's lifetime;
    # re-invocation converges to the same rows (upsert is idempotent by
    # event_id). Checkpoint: fresh per run — it pins the staged source
    # path, which is unique per invocation.
    target = _stage_dir(spark, "fb_upsert")
    ckpt = tempfile.mkdtemp(prefix="desdb_fb_ckpt_")
    try:
        run_foreach_batch_upsert(
            spark, stream, target_path=target, keys=["event_id"], checkpoint=ckpt
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
    return read_parquet(spark, target).groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
