"""r17 broadcast-gate helpers (the ADVICE r16 forced-broadcast class):
``table_bytes``/``dir_bytes`` are free driver-side scale statistics and
``maybe_broadcast`` keeps the hint only while the measured build side is
provably small — beyond the cap (or when the size is unknowable) the
planner chooses the join, which degrades to a shuffle join instead of an
8 GB-relation-cap error / driver OOM at corpus scale. The gate is a pure
planner directive: plans/r17/bcast_gate_probe_*.log pins result
identity across cap settings for the 13 gated ops; these tests pin the
helper semantics themselves.
"""

from __future__ import annotations

import os

from desdb_spark.session import (
    MAX_BROADCAST_EST_BYTES,
    dir_bytes,
    load_table,
    maybe_broadcast,
    table_bytes,
)
from tests.conftest import SF_DIR


def test_table_bytes_measures_fixture_tables():
    n = table_bytes(SF_DIR, "customer")
    assert isinstance(n, int) and n > 0
    # Matches a direct stat of the parquet path (file or directory).
    root = os.path.join(SF_DIR, "customer.parquet")
    assert n == dir_bytes(root)


def test_table_bytes_unknown_is_none():
    assert table_bytes(SF_DIR, "no_such_table") is None
    assert dir_bytes("/no/such/path") is None


def test_maybe_broadcast_hints_only_under_cap(spark):
    df = load_table(spark, SF_DIR, "nation")
    hinted = maybe_broadcast(df, 1024)
    assert hinted is not df  # hint applied -> new plan node
    assert "UnresolvedHint" in hinted._jdf.queryExecution().logical().toString()
    # Over-cap and unknown sizes both fall back to the planner's choice
    # (the same frame, no hint node).
    assert maybe_broadcast(df, MAX_BROADCAST_EST_BYTES + 1) is df
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


def test_malformed_cap_env_falls_back_to_default(monkeypatch, caplog):
    """A non-integer DESDB_MAX_BROADCAST_BYTES must not break importing
    the session module: the cap falls back to the default and warns."""
    import importlib
    import logging

    import desdb_spark.session as session

    monkeypatch.setenv("DESDB_MAX_BROADCAST_BYTES", "256MiB")
    try:
        with caplog.at_level(logging.WARNING, logger="desdb_spark.session"):
            importlib.reload(session)
        assert session.MAX_BROADCAST_EST_BYTES == session.DEFAULT_MAX_BROADCAST_BYTES
        assert "DESDB_MAX_BROADCAST_BYTES" in caplog.text
        monkeypatch.setenv("DESDB_MAX_BROADCAST_BYTES", "1024")
        importlib.reload(session)
        assert session.MAX_BROADCAST_EST_BYTES == 1024
    finally:
        monkeypatch.undo()
        importlib.reload(session)
    assert session.MAX_BROADCAST_EST_BYTES == MAX_BROADCAST_EST_BYTES
