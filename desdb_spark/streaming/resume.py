"""Round-6 batch-4 checkpointed-resume streaming (exactly-once restart).

Every prior streaming op runs ONE availableNow query end to end. What
none of them demonstrated is the property production pipelines actually
rely on: a query that STOPS, is restarted against the SAME checkpoint
after more data lands, and processes ONLY the new data — Structured
Streaming's offset-log/commit-log contract, the thing that turns "a
batch job in a loop" into an incremental pipeline.

The registered op stages the events fixture as two files (an initial
load and a later delta, split deterministically by event_id parity),
runs a file-source → parquet-sink query with a checkpoint, restarts the
same query after the delta file lands, and returns the aggregate of the
SINK. That aggregate is hash-checked against DuckDB aggregating the
whole events table: if the restart re-processed file 1 the counts
double; if it missed file 2 they fall short — either corruption flips
the hash. The per-run input row counts (run 2 must see only the delta)
are additionally pinned in tests/test_streaming_resume.py.

Scale shape: the file source lists and checkpoints file names — state
is O(files), not O(rows); the parquet sink commits atomically per
micro-batch via the offset/commit log pair, which is exactly how a
100 TB ingest survives restarts without dedup passes. The sink
aggregate is the same map-side-combinable count/sum as any batch
rollup.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register

_RESUME_ORACLE = """
    SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY event_type
"""


def _stage_batch(df: DataFrame, base: str, src_dir: str, tag: str) -> None:
    """Land ``df`` in the watched source directory as flat uniquely-named
    parquet files (the file stream source lists files, not nested
    directory trees, so each arriving batch's part-files are moved up
    with a per-batch prefix)."""
    staging = os.path.join(base, f"_write_{tag}")
    df.write.parquet(staging)
    for fn in os.listdir(staging):
        if fn.endswith(".parquet"):
            os.rename(
                os.path.join(staging, fn), os.path.join(src_dir, f"{tag}_{fn}")
            )
    shutil.rmtree(staging, ignore_errors=True)


def run_resumable_ingest(
    spark: SparkSession, src_dir: str, sink_dir: str, ckpt_dir: str
) -> int:
    """One availableNow pass of the file-source ingest against a shared
    checkpoint; returns rows processed this run (0 when the checkpoint
    says everything in ``src_dir`` is already committed)."""
    from desdb_spark.session import normalize_events_ts, parquet_schema

    # The source schema must be stable across runs — derive it from the
    # staged files batch-side (file streams require an explicit schema).
    schema = parquet_schema(spark, src_dir)
    stream = normalize_events_ts(spark.readStream.schema(schema).parquet(src_dir))
    query = (
        stream.select("event_id", "event_type", "value")
        .writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not query.awaitTermination(300):
            raise TimeoutError("resumable ingest run did not finish in 300s")
    finally:
        query.stop()
    progress = query.recentProgress
    return int(sum(p["numInputRows"] for p in progress))


@register(
    "stream_resume_exactly_once",
    oracle=_RESUME_ORACLE,
    group="streaming",
)
def stream_resume_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-run checkpointed ingest: run 1 sees the even-event_id half of
    events, run 2 restarts on the same checkpoint after the odd half
    lands and must process only it. Returns count/sum per event_type
    aggregated from the parquet SINK — equal to the batch aggregate of
    the full table iff the restart was exactly-once (no replay of the
    first file, no loss of the second).

    The sink aggregate is computed eagerly and returned as a local
    3-row DataFrame so the staged source/sink/checkpoint tempdirs can
    be cleaned before return (the driver collects after this function
    exits). The collect is 3 rows — the report, not the data path.
    """
    from desdb_spark.session import pin_session_confs, read_parquet

    pin_session_confs(spark)
    base = tempfile.mkdtemp(prefix="desdb_resume_")
    src = os.path.join(base, "src")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)
    try:
        ev = read_parquet(spark, f"{sf_dir}/events.parquet")
        even = ev.where(F.col("event_id") % 2 == 0)
        odd = ev.where(F.col("event_id") % 2 == 1)
        _stage_batch(even, base, src, "batch0")
        run_resumable_ingest(spark, src, sink, ckpt)
        _stage_batch(odd, base, src, "batch1")
        run_resumable_ingest(spark, src, sink, ckpt)
        result = (
            read_parquet(spark, sink)
            .groupBy("event_type")
            .agg(
                F.count("*").cast("bigint").alias("cnt"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)
