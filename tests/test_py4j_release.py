"""A DataFrame the caller drops releases its JVM Dataset as soon as Python
collects the handle (see ``session.get_spark``), so the JVM's next GC can
free the finished plan and the context cleaner its broadcasts and
checkpoint blocks — not one to three GCs later, depending on when a
polling release thread last woke."""

from __future__ import annotations

import gc

import pytest
from py4j.java_gateway import JavaObject
from py4j.protocol import Py4JError


def test_dropped_dataframe_is_released_at_collection(spark):
    df = spark.range(10).selectExpr("id * 2 AS x")
    # A method call through _jdf caches a JavaMember that points back at
    # the handle: from here on only a cyclic collection frees it.
    assert df.count() == 10
    target_id = df._jdf._target_id
    client = df._jdf._gateway_client
    del df
    gc.collect()
    with pytest.raises(Py4JError):
        JavaObject(target_id, client).toString()
