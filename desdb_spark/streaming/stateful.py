"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md north-star: "applyInPandasWithState for custom stateful
operators").

The operator: a per-user running profile (event count, value sum, last
event time) maintained in explicit group state across micro-batches —
the building block for online feature stores / per-entity counters that
windowed aggregation can't express (state survives indefinitely, emits
every batch, evicts via processing-time timeout).

Scale notes: state lives in the state store keyed by user_id — shuffled
once per batch on the grouping key, RocksDB-backed in production
(``spark.sql.streaming.stateStore.providerClass``), bounded by the
timeout eviction (here GroupStateTimeout.NoTimeout for the demo; real
deployments set ProcessingTimeTimeout and drop idle entities).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from desdb_spark.registry import register

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double, last_ts timestamp"
#: `s` is the running value sum in FIXED-POINT 1e-4 units (ADVICE r6):
#: a float accumulator compared against the oracle's own float summation
#: order can legitimately straddle a 4-dp rounding boundary at ~100k-row
#: sums (the cent-boundary class). Quantizing each value to an integer
#: once — in Spark, before the fold — makes the state fold exact integer
#: arithmetic and the hashed output bit-identical across engines.
STATE_SCHEMA = "n bigint, s bigint, last long"

#: 1e-4 fixed-point scale for the value sum.
_FP = 10_000


def _update_user_profile(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Fold this batch's events into the user's running (n, sum, last_ts)."""
    n, s, last = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        n += len(pdf)
        s += int(pdf["value_q"].sum())
        # Pin the epoch unit explicitly: Arrow may deliver ts at ns or us
        # resolution depending on the batch path, and a bare astype(int64)
        # would silently change unit — `last` is always epoch-MICROseconds.
        last = max(last, int(pdf["ts"].astype("datetime64[us]").astype("int64").max()))
    state.update((n, s, last))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value": [s / _FP],
            "last_ts": [pd.Timestamp(last, unit="us")],
        }
    )


def stateful_user_profile(events_stream: DataFrame) -> DataFrame:
    """Apply the stateful per-user fold to a *streaming* events DataFrame
    with columns (user_id, ts, value).

    The value is quantized to integer 1e-4 units JVM-side (Spark round =
    HALF_UP, matching DuckDB's round — the repo-wide cents discipline)
    so the Python fold is exact integer arithmetic; the emitted
    ``sum_value`` is the one deterministic division s / 1e4.
    """
    quantized = events_stream.select(
        "user_id",
        "ts",
        F.round(F.col("value") * _FP, 0).cast("long").alias("value_q"),
    )
    return quantized.groupBy("user_id").applyInPandasWithState(
        _update_user_profile,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: Spark's bundled RocksDB provider — THE production state store once
#: per-key state outgrows executor heap (SURVEY.md §7.3): state lives
#: off-heap/on-disk in RocksDB with changelog checkpointing instead of
#: full-snapshot HDFS files.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


@register(
    "stream_stateful_profile",
    # Upgraded from rows-only in r6: the staged source is ONE file → one
    # micro-batch, so every user's single update-mode emission IS the
    # final state, and the final state of the fold is exactly the batch
    # aggregate (the §5.2 batch-equivalence argument the stream-stream
    # join uses). The value sum is fixed-point 1e-4 units on both sides
    # (ADVICE r6: round(sum(float)) straddles rounding boundaries across
    # summation orders; integer quantization is exact); last_ts is the
    # µs-precision max event time.
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS DOUBLE)
                   / CAST(10000 AS DOUBLE) AS sum_value,
               max(ts) AS last_ts
        FROM events GROUP BY user_id
    """,
    group="streaming",
)
def stream_stateful_profile(
    spark: SparkSession,
    sf_dir: str,
    state_store: str | None = None,
    progress_sink: list | None = None,
) -> DataFrame:
    """End-to-end run: events file stream → applyInPandasWithState →
    memory sink (availableNow). With one batch over a complete input the
    final state equals the batch groupBy — asserted in
    tests/test_streaming_stateful.py. Idempotent: unique sink name +
    staged-source cleanup per call (streaming/runner.py).

    ``state_store="rocksdb"`` runs the SAME query on the RocksDB state
    store (VERDICT r5 item 5) — the provider conf is pinned for this
    query and restored after, and the engagement is observable through
    ``progress_sink``: the final progress's stateOperators carry
    rocksdb* customMetrics (asserted in tests/test_streaming_stateful.py
    ::test_stateful_profile_rocksdb_provider_engaged). The registered
    driver row keeps the default provider; the RocksDB arm is the §7.3
    scale recipe, exercised by pytest.
    """
    from desdb_spark.session import (
        normalize_events_ts,
        parquet_schema,
        pin_session_confs,
    )
    from desdb_spark.streaming.runner import run_available_now, stage_file_source

    pin_session_confs(spark)  # direct read below; driver session may be vanilla
    prior = spark.conf.get(_PROVIDER_KEY, None)
    if state_store == "rocksdb":
        spark.conf.set(_PROVIDER_KEY, ROCKSDB_PROVIDER)
    elif state_store is not None:
        raise ValueError(f"unknown state_store: {state_store!r}")
    try:
        stage = stage_file_source(f"{sf_dir}/events.parquet", "desdb_stateful_src_")
        schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
        stream = normalize_events_ts(
            spark.readStream.schema(schema).parquet(stage)
        ).select("user_id", "ts", "value")
        # The provider conf is read at query START, and run_available_now
        # blocks until termination — so restoring in finally is safe here
        # (unlike analysis-time confs on lazy results).
        return run_available_now(
            spark,
            stateful_user_profile(stream),
            "stateful_profile_demo",
            "update",
            stage_dir=stage,
            progress_sink=progress_sink,
            state_partitions=8,
        )
    finally:
        if state_store == "rocksdb":
            if prior is None:
                spark.conf.unset(_PROVIDER_KEY)
            else:
                spark.conf.set(_PROVIDER_KEY, prior)
