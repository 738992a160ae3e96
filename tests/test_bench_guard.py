"""bench.py crash containment (VERDICT r10 item 5): one broken operator
must record an in-band error entry, never unwind the run — in r10 the
bm25 crash zeroed the entire round's perf evidence (BENCH_r10.json was a
stack trace). These pin the guard/flush/total helpers; the end-to-end
proof is the committed per-round BENCH JSON with `parsed != null`."""

from __future__ import annotations

import json
import os


def test_guard_contains_op_failure_and_fsum_skips_it():
    import bench

    t: dict = {}
    bench._guard(t, "good", lambda: t.__setitem__("good", 1.5))

    def _boom():
        raise ValueError("planted")

    bench._guard(t, "bad", _boom)
    assert t["good"] == 1.5
    assert t["bad_error"].startswith("ValueError: planted")
    assert bench._fsum(t) == 1.5  # string error entries never poison totals


def test_flush_writes_partial_json(tmp_path, monkeypatch):
    import bench

    p = tmp_path / "BENCH_partial.json"
    monkeypatch.setattr(bench, "PARTIAL_PATH", str(p))
    bench._flush({"queries": {"a": 0.1}})
    assert json.loads(p.read_text()) == {"queries": {"a": 0.1}}
    assert os.path.exists(p)


def test_perf_counter_only_inside_time_runs():
    """bench.py has one timer: ``_time_runs``. A ``time.perf_counter``
    anywhere else is a hand-rolled timing loop; route it through
    ``_time_runs`` (and a new suite through ``SUITES``) instead."""
    import ast

    import bench

    with open(bench.__file__) as fh:
        tree = ast.parse(fh.read())
    offenders = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        name = getattr(node, "attr", None) or getattr(node, "id", None)
        if isinstance(node, ast.alias):
            name = node.name  # from time import perf_counter
        if name == "perf_counter" and func != "_time_runs":
            offenders.append(f"bench.py:{getattr(node, 'lineno', '?')} in {func}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    assert not offenders, offenders
    assert "_time_runs" in {
        n.name for n in tree.body if isinstance(n, ast.FunctionDef)
    }
