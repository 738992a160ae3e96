"""``$SPARK_GRAFT_CPUS`` goes through one parser: a positive integer sizes
the local session, anything else means all cores with a warning, so a bad
value neither crashes ``get_spark`` (``local[abc]``, ``local[0]``) nor
names a bench detail file after a core count the session never ran at."""

from __future__ import annotations

import logging

import pytest

import bench
from desdb_spark.session import spark_cpus


@pytest.mark.parametrize("raw,want", [(" 4", 4), ("4", 4), ("32", 32)])
def test_positive_integer_is_the_core_count(monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    assert spark_cpus() == want
    assert bench.bench_cpus() == want


@pytest.mark.parametrize("raw", ["abc", "0", "-2", "", "4.5"])
def test_bad_value_means_all_cores_with_a_warning(monkeypatch, caplog, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with caplog.at_level(logging.WARNING, logger="desdb_spark.session"):
        assert spark_cpus() is None
    assert "SPARK_GRAFT_CPUS" in caplog.text
    monkeypatch.setattr(bench.os, "cpu_count", lambda: 6)
    assert bench.bench_cpus() == 6
    assert bench.detail_path().endswith("BENCH_DETAIL_c6.json")


def test_unset_means_all_cores_silently(monkeypatch, caplog):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    with caplog.at_level(logging.WARNING, logger="desdb_spark.session"):
        assert spark_cpus() is None
    assert caplog.text == ""
