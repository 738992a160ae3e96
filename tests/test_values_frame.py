"""values_frame (r17): the inline-VALUES fitted-scalar emitter must be a
drop-in replacement for spark.createDataFrame(list, ddl) — same schema,
same rows — because hot ops (retention curve, minhash eval) now emit
their bounded result grids through it."""

from __future__ import annotations

import pytest

from desdb_spark.session import get_spark, values_frame


@pytest.fixture(scope="module")
def spark():
    return get_spark("test-values-frame", shuffle_partitions=4)


DDL = "pct bigint, n_pairs bigint, n_docs_removed bigint, n_docs_kept bigint"
ROWS = [(50, 11, 2, 3), (60, 4, 5, 6), (90, 7, 0, 9)]


def test_matches_createdataframe(spark):
    via_values = values_frame(spark, ROWS, DDL).orderBy("pct").collect()
    via_create = spark.createDataFrame(ROWS, DDL).orderBy("pct").collect()
    assert via_values == via_create


def test_schema_exact(spark):
    df = values_frame(spark, ROWS, DDL)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("pct", "bigint"),
        ("n_pairs", "bigint"),
        ("n_docs_removed", "bigint"),
        ("n_docs_kept", "bigint"),
    ]


def test_mixed_types_and_null(spark):
    ddl = "k bigint, name string, ok boolean"
    rows = [(1, "it's", True), (2, None, False), (None, "x", None)]
    got = values_frame(spark, rows, ddl).collect()
    want = spark.createDataFrame(rows, ddl).collect()
    assert got == want


def test_empty_rows(spark):
    df = values_frame(spark, [], DDL)
    assert df.count() == 0
    assert len(df.schema.fields) == 4


def test_doubles_bit_exact(spark):
    ddl = "k bigint, x double"
    vals = [0.1, 2.0 / 3.0, 1e-300, -4.9e-324, 123456.789, float("nan")]
    rows = [(i, v) for i, v in enumerate(vals)]
    got = values_frame(spark, rows, ddl).orderBy("k").collect()
    want = spark.createDataFrame(rows, ddl).orderBy("k").collect()
    import math
    import struct

    for g, w in zip(got, want):
        if math.isnan(w.x):
            assert math.isnan(g.x)
        else:
            assert struct.pack("d", g.x) == struct.pack("d", w.x), (g.x, w.x)


def test_unsupported_type_rejected(spark):
    with pytest.raises(TypeError):
        values_frame(spark, [(object(), 2, 3, 4)], DDL).collect()


def test_no_jobs_in_plan(spark):
    """The whole point: a LocalRelation plan, not a parallelize scan."""
    df = values_frame(spark, ROWS, DDL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan


def test_parameterized_decimal_field(spark):
    """A comma inside a type (decimal(10,2)) must not split the field
    list: the DDL goes through Spark's own parser."""
    from decimal import Decimal

    ddl = "a int, b decimal(10,2), c string"
    rows = [(1, 12.5, "x"), (2, None, None), (3, -7, "y")]
    df = values_frame(spark, rows, ddl)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("a", "int"),
        ("b", "decimal(10,2)"),
        ("c", "string"),
    ]
    want = [(1, Decimal("12.50"), "x"), (2, None, None), (3, Decimal("-7.00"), "y")]
    assert df.orderBy("a").collect() == spark.createDataFrame(want, ddl).orderBy("a").collect()


@pytest.mark.parametrize(
    "ddl", ["a int, b array<int>", "a int, b map<string,int>", "a int, b struct<x:int>"]
)
def test_non_scalar_field_rejected(spark, ddl):
    with pytest.raises(ValueError, match="non-scalar"):
        values_frame(spark, [(1, None)], ddl)
