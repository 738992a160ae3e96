"""Pin bench.py's suite runner with stub operators — no Spark.

Every timed suite goes through ``bench.run_suite`` and its one timer,
``bench._time_runs``. A fake clock advances only inside the stubs'
``toPandas()``, so each test knows exactly which calls were timed.
"""

from __future__ import annotations

import itertools
from types import SimpleNamespace

import pytest

import bench

#: Result keys each suite writes to the detail JSON.
_RESULT_KEYS = {
    "queries": {"queries", "headline_dispersion"},
    "llm_queries": {"llm_queries", "llm_dispersion", "llm_total_sec"},
    "llm_queries_sf1": {"llm_queries_sf1", "llm_sf1_dispersion", "llm_sf1_total_sec"},
    "lake_queries": {"lake_queries", "lake_dispersion", "lake_total_sec"},
}

#: A warm run's duration: far above every timed one, so a cell that
#: included it would show.
_WARM_SEC = 1000.0
_TIMED_SEC = [3.0, 1.0, 2.0, 5.0, 4.0]


class _Clock:
    def __init__(self):
        self.now = 0.0

    def perf_counter(self) -> float:
        return self.now


class _Frame:
    """Stand-in for a DataFrame: ``toPandas`` takes the next duration."""

    def __init__(self, clock: _Clock, durations):
        self.clock, self.durations, self.collects = clock, durations, 0

    def toPandas(self):
        self.collects += 1
        self.clock.now += next(self.durations)


class _Op:
    """Stand-in for a registry Operator whose ``fn`` counts its calls."""

    def __init__(self, clock: _Clock, durations, fail: bool = False):
        self.clock, self.durations, self.fail = clock, durations, fail
        self.calls, self.sf_dirs = 0, []

    def fn(self, spark, sf_dir):
        self.calls += 1
        self.sf_dirs.append(sf_dir)
        if self.fail:
            raise RuntimeError("planted")
        return _Frame(self.clock, self.durations)


class _Conf:
    def __init__(self):
        self.sets = []

    def set(self, key, value):
        self.sets.append((key, value))


def _durations(suite):
    return iter([_WARM_SEC] * suite.warm + _TIMED_SEC[: suite.runs])


@pytest.fixture
def clock(monkeypatch):
    c = _Clock()
    monkeypatch.setattr(
        bench, "time", SimpleNamespace(perf_counter=c.perf_counter, sleep=lambda s: None)
    )
    return c


@pytest.mark.parametrize("suite", bench.SUITES, ids=lambda s: s.key)
def test_suite_cells_follow_their_row(clock, suite):
    spark = SimpleNamespace(conf=_Conf())
    ops = {n: _Op(clock, _durations(suite)) for n in suite.names}
    dfs = None
    if not suite.rebuild:
        dfs = {n: _Frame(clock, _durations(suite)) for n in suite.names}

    out = bench.run_suite(spark, suite, ops, "/data/sf0.1", dfs=dfs)

    assert set(out) == _RESULT_KEYS[suite.key]
    timed = _TIMED_SEC[: suite.runs]
    cells, dispersion = out[suite.key], out[suite.dispersion]
    assert set(cells) == set(dispersion) == set(suite.names)
    for name in suite.names:
        assert cells[name] == round(suite.pick(timed), 4)
        assert cells[name] < _WARM_SEC  # warm runs never reach the cell
        assert dispersion[name] == {"min": min(timed), "max": max(timed)}
        if suite.rebuild:
            assert ops[name].calls == suite.warm + suite.runs
            assert set(ops[name].sf_dirs) == {suite.sf_dir or "/data/sf0.1"}
        else:
            assert ops[name].calls == 0
            assert dfs[name].collects == suite.warm + suite.runs
    if suite.total:
        assert out[suite.total] == bench._fsum(cells)
    # The row's shuffle width holds for the suite, then the session's returns.
    assert spark.conf.sets == [
        ("spark.sql.shuffle.partitions", str(suite.width)),
        ("spark.sql.shuffle.partitions", str(bench.SHUFFLE_PARTITIONS)),
    ]


def test_suite_protocols():
    """Runs, cell statistic, rebuild, warm runs and width of each suite."""
    protocol = {
        s.key: (s.runs, s.pick, s.rebuild, s.warm, s.width) for s in bench.SUITES
    }
    assert protocol == {
        "queries": (5, bench.median, False, 0, 4),
        "llm_queries": (2, min, True, 1, 32),
        "llm_queries_sf1": (5, bench.median, True, 2, 32),
        "lake_queries": (5, bench.median, True, 0, 4),
    }
    assert [s.sf_dir for s in bench.SUITES] == [None, None, bench.DERIVED, None]


@pytest.mark.parametrize("suite", bench.SUITES, ids=lambda s: s.key)
def test_raising_op_records_error_and_the_rest_still_run(clock, suite):
    spark = SimpleNamespace(conf=_Conf())
    bad, *rest = suite.names
    ops = {n: _Op(clock, _durations(suite), fail=(n == bad)) for n in suite.names}
    dfs = None
    if not suite.rebuild:

        class _Broken:
            def toPandas(self):
                raise RuntimeError("planted")

        dfs = {n: _Frame(clock, _durations(suite)) for n in rest}
        dfs[bad] = _Broken()

    out = bench.run_suite(spark, suite, ops, "/data/sf0.1", dfs=dfs)

    cells = out[suite.key]
    assert cells[f"{bad}_error"] == "RuntimeError: planted"
    assert bad not in out[suite.dispersion]
    assert set(bench._floats(cells)) == set(rest)
    assert spark.conf.sets[-1][1] == str(bench.SHUFFLE_PARTITIONS)


def test_headline_skips_ops_without_a_built_plan(clock):
    headline = bench.SUITES[0]
    spark = SimpleNamespace(conf=_Conf())
    cells = {f"{headline.names[0]}_error": "ValueError: build failed"}
    dfs = {n: _Frame(clock, _durations(headline)) for n in headline.names[1:]}

    out = bench.run_suite(spark, headline, {}, "/data/sf0.1", dfs=dfs, cells=cells)

    assert out["queries"] is cells  # pre-pass errors stay in the cells
    assert headline.names[0] not in cells
    assert set(bench._floats(cells)) == set(headline.names[1:])


def test_time_runs_times_only_the_runs(clock):
    steps = itertools.chain([_WARM_SEC, _WARM_SEC], [0.5, 0.25])
    frame = _Frame(clock, steps)
    assert bench._time_runs(frame.toPandas, 2, warm=2) == [0.5, 0.25]
    assert frame.collects == 4


@pytest.mark.parametrize(
    "sf_dir, sf",
    [
        ("/data/testdata/sf0.1", 0.1),
        ("/data/testdata/sf0.1/", 0.1),
        ("/data/testdata/sf0.01", 0.01),
        ("/tmp/desdb_scale/sf1.0", 1.0),
        ("/data/sfx/t", -1.0),
        ("/data/testdata/sf0.1_copy", -1.0),
        ("/data/fixtures", -1.0),
    ],
)
def test_parse_sf_reads_only_a_trailing_sf_component(sf_dir, sf):
    assert bench.parse_sf(sf_dir) == sf
