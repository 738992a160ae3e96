"""Broadcast-gate helpers: ``table_bytes``/``dir_bytes`` are free
driver-side scale statistics, and ``maybe_broadcast`` keeps the hint only
while the estimated build side is within the session's
``spark.sql.autoBroadcastJoinThreshold`` — beyond it (or when the size is
unknowable, or the threshold is ``-1``) the planner chooses the join,
which degrades to a shuffle join instead of an 8 GB-relation-cap error /
driver OOM at corpus scale. The gate is a pure planner directive; these
tests pin the helper semantics and result identity across strategies.
"""

from __future__ import annotations

import os

from desdb_spark.operators.joins_ext2 import _scoped_confs
from desdb_spark.session import dir_bytes, load_table, maybe_broadcast, table_bytes
from tests.conftest import SF_DIR

_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def test_table_bytes_measures_fixture_tables():
    n = table_bytes(SF_DIR, "customer")
    assert isinstance(n, int) and n > 0
    # Matches a direct stat of the parquet path (file or directory).
    root = os.path.join(SF_DIR, "customer.parquet")
    assert n == dir_bytes(root)


def test_table_bytes_unknown_is_none():
    assert table_bytes(SF_DIR, "no_such_table") is None
    assert dir_bytes("/no/such/path") is None


def _hinted(df) -> bool:
    return "UnresolvedHint" in df._jdf.queryExecution().logical().toString()


def test_maybe_broadcast_follows_the_session_threshold(spark):
    df = load_table(spark, SF_DIR, "nation")
    # get_spark leaves Spark's default (10 MiB) in place.
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    assert threshold == 10 * 1024 * 1024
    hinted = maybe_broadcast(df, 1024)
    assert hinted is not df and _hinted(hinted)
    # Past the threshold the planner chooses: the same frame, no hint.
    assert maybe_broadcast(df, threshold + 1) is df
    with _scoped_confs(spark, {_THRESHOLD: "20MB"}):
        assert _hinted(maybe_broadcast(df, 15 * 1024 * 1024))
    with _scoped_confs(spark, {_THRESHOLD: "-1"}):
        assert maybe_broadcast(df, 0) is df
    # An unknowable size never hints, whatever the threshold.
    assert maybe_broadcast(df, None) is df


def test_gated_join_results_are_strategy_independent(spark):
    """The at-scale fallback (hint dropped, no auto-broadcast) returns
    the same rows as the hinted fixture-scale plan — on a real join from
    a gated op's shape (orders x customer keys)."""
    from pyspark.sql import functions as F

    o = load_table(spark, SF_DIR, "orders").select("o_custkey")
    c = load_table(spark, SF_DIR, "customer").select("c_custkey")
    hinted = (
        o.join(maybe_broadcast(c, 1), o.o_custkey == c.c_custkey, "left")
        .agg(F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("dangling"))
        .collect()
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        unhinted_df = o.join(
            maybe_broadcast(c, None), o.o_custkey == c.c_custkey, "left"
        ).agg(F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("dangling"))
        assert (
            "BroadcastHashJoin"
            not in unhinted_df._jdf.queryExecution().executedPlan().toString()
        )
        assert unhinted_df.collect() == hinted
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
