"""Point-in-time join: the asof-carry formulation must equal the
explicit between-join against materialized SCD2 spans, including the
boundary tie (version start == fact ts) and the no-version-yet case."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from desdb_spark.operators import temporal_ext
from tests.conftest import SF_DIR


def _t(m):
    return dt.datetime(2024, 1, 1, 0, m)


def test_pit_carry_equals_span_between_join(spark):
    # user 1: states a@0, b@10; purchases at 0 (tie→a), 5 (a), 10
    # (tie→b), 20 (b). user 2: purchase at 3 before any state (__none__),
    # state c@4, purchase at 4 (tie→c).
    rows = [
        (1, 1, _t(0), "view", 0.0),      # state a := view
        (2, 1, _t(0), "purchase", 1.0),
        (3, 1, _t(5), "purchase", 2.0),
        (4, 1, _t(10), "click", 0.0),    # state b := click
        (5, 1, _t(10), "purchase", 4.0),
        (6, 1, _t(20), "purchase", 8.0),
        (7, 2, _t(3), "purchase", 16.0),
        (8, 2, _t(4), "signup", 0.0),    # state c := signup
        (9, 2, _t(4), "purchase", 32.0),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value"]
    )
    orig = temporal_ext.load_table
    try:
        temporal_ext.load_table = lambda spark, sf_dir, name: df
        got = {
            r.state: (r.n_purchases, r.total_value)
            for r in temporal_ext.join_pit_versioned(spark, SF_DIR).collect()
        }
    finally:
        temporal_ext.load_table = orig
    # Span-model expectation: view valid [0,10), click [10,∞);
    # signup valid [4,∞) for user 2.
    assert got == {
        "view": (2, 3.0),        # purchases at 0 (tie) and 5
        "click": (2, 12.0),      # purchases at 10 (tie) and 20
        "__none__": (1, 16.0),   # purchase before any state
        "signup": (1, 32.0),     # tie at version start
    }, got


def test_pit_fixture_totals_conserve_purchases(spark):
    from desdb_spark.session import load_table, normalize_events_ts

    out = temporal_ext.join_pit_versioned(spark, SF_DIR).collect()
    ev = normalize_events_ts(load_table(spark, SF_DIR, "events"))
    purchases = ev.where(F.col("event_type") == "purchase")
    assert sum(r.n_purchases for r in out) == purchases.count()
    want_total = purchases.agg(F.round(F.sum("value"), 2)).first()[0]
    got_total = round(sum(r.total_value for r in out), 2)
    assert abs(got_total - want_total) < 0.05
