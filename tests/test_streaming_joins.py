"""Registered stream-stream enrich join: real streaming run vs batch oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from desdb_spark.session import load_table
from desdb_spark.streaming.joins import stream_stream_enrich_join
from tests.conftest import SF_DIR


def test_stream_enrich_matches_batch_interval_join(spark):
    got = stream_stream_enrich_join(spark, SF_DIR)
    n_stream = got.count()

    e = load_table(spark, SF_DIR, "events")
    v = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts")
    )
    batch = v.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts") - F.expr("INTERVAL 30 minutes"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 minutes")),
    )
    assert n_stream == batch.count()
    assert n_stream > 0
    assert got.columns == ["user_id", "view_ts", "purchase_ts"]


def test_stream_static_enrich_broadcasts_the_dimension(spark, monkeypatch):
    """The customer dimension carries no hint: the planner broadcasts it
    inside each micro-batch from its own size check. Pin that on the last
    micro-batch's executed plan (``run_available_now`` stops the query,
    so capture it at ``start``)."""
    from pyspark.sql.streaming import DataStreamWriter

    from desdb_spark.registry import all_operators

    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        query = start(self, *args, **kwargs)
        started.append(query)
        return query

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    rows = all_operators()["stream_static_enrich"].fn(spark, SF_DIR).collect()
    assert rows
    assert len(started) == 1
    plan = (
        started[0]._jsq.streamingQuery().lastExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
