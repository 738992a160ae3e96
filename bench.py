"""Bench harness (SURVEY.md §7.1 M7): the timed suites at $SPARK_GRAFT_SF_DIR.

Warm-session per-query wall time in one shared SparkSession: DuckDB's
baseline times are 10-200 ms, so Spark's seconds of first-action overhead
must be amortized, not billed to the first query. ``SUITES`` says what is
timed and how; ``_time_runs`` is the only timer. ``floor_sec`` is the cost
of a no-work action, the floor every cell rides; the ``*_floor_adj``
fields subtract its excess over ``HISTORICAL_FLOOR_SEC`` so a loaded
machine stays attributable. ``duckdb_sameday`` re-times the oracles next
to the Spark cells: the 2x gate stays on the FROZEN BASELINE.md cells.

The driver keeps the LAST ~2000 chars of stdout and parses the FINAL line
as JSON: the full detail goes to ``BENCH_DETAIL.json`` and a penultimate
line, and the final line is ``compact_line()``, capped at
``COMPACT_LINE_CAP`` (tests/test_bench_emit.py pins it).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from desdb_spark.registry import all_operators
from desdb_spark.session import get_spark, load_tables, spark_cpus
from tools.scale_spotcheck import DERIVED

#: BASELINE.md's measured DuckDB 1.0.0 headline medians at sf0.1 (seconds);
#: its keys are the headline suite. Source of truth stays BASELINE.md:
#: tests/test_bench_emit.py cross-checks this dict against that table.
BASELINE_HEADLINE_SEC = {
    "agg_hash_groupby_q1": 0.0602,
    "join_multiway_star": 0.0878,
    "join_sort_merge_large": 0.1234,
    "join_anti": 0.0088,
    "window_frame_rows": 0.0590,
    "topk_limit": 0.0100,
    "agg_rollup": 0.0497,
    "scalar_json_events": 0.0268,
    "stream_session_window": 0.1961,
    "knn_cosine_topk": 0.1564,
    "dedup_exact_docs": 0.0085,
}
HEADLINE = list(BASELINE_HEADLINE_SEC)

#: LLM-pipeline suite: the data-curation tier, reported under separate
#: keys so the headline total stays comparable. dedup_near_minhash and
#: dedup_jaccard_retention_curve are approximate/prefix-filtered tiers;
#: their DuckDB baselines run the exact quadratic all-pairs semantics they
#: replace, which is the point.
LLM_SUITE = [
    "text_bm25_search",
    "docs_eval_substring_contamination",
    "dedup_near_minhash",
    "docs_dedup_lines_global",
    "dedup_exact_substring_spans",
    "docs_dsir_importance_weights",
    "dedup_jaccard_retention_curve",
]

#: BASELINE.md's FROZEN DuckDB sf1 medians (seconds, measured 2026-08-13/15);
#: its keys are the sf1 arm: the LLM cells re-run on the 10x corpus derived
#: by tools/scale_spotcheck (same per-replica distribution, disjoint token
#: sets), where stage floors amortize and the ratio reads signal.
#: dedup_near_minhash's frozen cell is its OWN LSH oracle: the exact
#: all-pairs semantics of its sf0.1 baseline would take hours at sf1.
BASELINE_LLM_SF1_SEC = {
    "text_bm25_search": 0.4457,
    "docs_eval_substring_contamination": 7.7250,
    "docs_dedup_lines_global": 1.0296,
    "dedup_exact_substring_spans": 2.2695,
    "docs_dsir_importance_weights": 1.6431,
    "dedup_near_minhash": 8.3400,
}
LLM_SF1_SUITE = list(BASELINE_LLM_SF1_SEC)

#: Lake-DML suite: each op writes v1, merges/deletes and reads back, so a
#: cell is the whole write-commit-read cycle. DuckDB's baseline runs only
#: the end-state aggregate; the delta IS the cost of the DML machinery.
LAKE_SUITE = [
    "source_merge_upsert",
    "source_delete_vectors_read",
    "stream_merge_manifest_table",
]

#: Session confs of every bench run, shared with tools/dump_plans.py and
#: tools/dump_round_plans.py so dumped plans match the timed ones. sf0.1
#: shuffles are ~600k rows: 4 partitions keep task scheduling below the
#: work per task. 4 MiB splits spread the ~10 MB fixture scans across
#: cores. The sf1 arm's 10x shuffles thrash local mode's 1 GB driver heap.
SHUFFLE_PARTITIONS = 4
SESSION_CONF = {"spark.sql.files.maxPartitionBytes": "4194304", "spark.driver.memory": "16g"}

#: Action floor on the reference hardware (0.10-0.15 s when quiet). A
#: measured floor far above it means ambient load inflates EVERY number:
#: the run re-measures until it settles and otherwise says so in the JSON.
HISTORICAL_FLOOR_SEC = 0.11
FLOOR_TOLERANCE = 1.5

#: Hard cap for the final stdout line — comfortably inside the driver's
#: ~2000-char tail window even after rc/terminator framing.
COMPACT_LINE_CAP = 1800

#: BENCH_DETAIL.json holds the 32-core reference run; other core counts
#: write BENCH_DETAIL_c{N}.json, and every detail dict carries ``cpus``.
REFERENCE_CPUS = 32


def median(xs: list[float]) -> float:
    return sorted(xs)[len(xs) // 2]


@dataclass(frozen=True)
class Suite:
    """One timed suite: its ops, how each cell is timed, where it lands."""

    key: str  # result key of the per-op cells
    dispersion: str  # result key of the per-op {"min", "max"}
    total: str | None  # result key of the suite total (headline: "value")
    names: list[str]
    runs: int  # timed runs per cell
    pick: Callable[[list[float]], float]  # the cell: median or min of runs
    rebuild: bool  # time fn() + toPandas() per run, not one prebuilt plan
    warm: int  # untimed runs before the timed ones
    width: int  # spark.sql.shuffle.partitions while the suite runs
    sf_dir: str | None = None  # None: the run's $SPARK_GRAFT_SF_DIR


#: Every timed suite, in run order. Headline: re-execution of plans main()
#: built once, like DuckDB re-running a prepared query; a median of 5
#: outvotes a GC outlier. llm: shuffle-heavy cells, where re-running one
#: DataFrame would ride Spark's map-output reuse and time the floor, so
#: each run rebuilds the plan, and the timer wraps fn() because several ops
#: localCheckpoint inside it; min of 2 bounds bench time (near-minhash runs
#: ~15 s); width 4 taxes these multi-M-row shuffles ~3x. sf1: the judged
#: arm, a median of 5 with dispersion so noise reads as noise, and two warm
#: runs for JIT tier-up on the new dataset's codegen. Lake: every run builds
#: its own table, and the suites before it already paid JVM warmup.
SUITES = (
    Suite("queries", "headline_dispersion", None, HEADLINE,
          runs=5, pick=median, rebuild=False, warm=0, width=SHUFFLE_PARTITIONS),
    Suite("llm_queries", "llm_dispersion", "llm_total_sec", LLM_SUITE,
          runs=2, pick=min, rebuild=True, warm=1, width=32),
    Suite("llm_queries_sf1", "llm_sf1_dispersion", "llm_sf1_total_sec",
          LLM_SF1_SUITE, runs=5, pick=median, rebuild=True, warm=2, width=32,
          sf_dir=DERIVED),
    Suite("lake_queries", "lake_dispersion", "lake_total_sec", LAKE_SUITE,
          runs=5, pick=median, rebuild=True, warm=0, width=SHUFFLE_PARTITIONS),
)


def bench_session(app_name: str):
    """The SparkSession every bench-shaped run uses."""
    spark = get_spark(app_name, shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=SESSION_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def parse_sf(sf_dir: str) -> float:
    """Scale factor of a trailing ``sf<number>`` path component, else -1.0."""
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else -1.0


def bench_cpus() -> int:
    """Core count this run measures under: ``session.spark_cpus``, the
    parser ``get_spark`` sizes the session with, else all cores."""
    return spark_cpus() or os.cpu_count() or REFERENCE_CPUS


def detail_path() -> str:
    n = bench_cpus()
    name = "BENCH_DETAIL.json" if n == REFERENCE_CPUS else f"BENCH_DETAIL_c{n}.json"
    return os.path.join(_HERE, name)


DETAIL_PATH = detail_path()


def git_sha() -> str:
    """Short HEAD sha of this checkout, ``+dirty`` when the tree differs
    from HEAD; ``unknown`` rather than failing the run."""
    import subprocess

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", "-C", _HERE, *args], capture_output=True, text=True, timeout=10
        ).stdout.strip()

    try:
        sha, dirty = git("rev-parse", "--short", "HEAD"), git("status", "--porcelain")
        return (sha or "unknown") + ("+dirty" if dirty else "")
    except Exception:  # noqa: BLE001 — provenance must never kill the run
        return "unknown"


def jvm_flags(spark) -> list[str]:
    """The session JVM's ``-XX:`` launch arguments: the JIT policy a run
    measured under. Empty rather than failing the run."""
    try:
        mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return [a for a in mx.getRuntimeMXBean().getInputArguments() if a.startswith("-XX:")]
    except Exception:  # noqa: BLE001 — provenance must never kill the run
        return []


def _floats(cells: dict) -> dict:
    """The timed cells of a suite dict, without its error strings."""
    return {k: v for k, v in cells.items() if isinstance(v, float)}


#: compact_line's scalar fields, in line order.
_COMPACT_SCALARS = (
    "floor_sec", "floor_after_sec", "cold_first_action_sec", "value_floor_adj",
    "ratio_floor_adj", "ratio_sameday", "baseline_total_sec",
    "baseline_sameday_total_sec", "llm_total_sec", "llm_sf1_total_sec",
    "lake_total_sec",
)
#: Shed order past the cap, in units so a kept field never references shed
#: context: the same-day ratio goes with its denominator, the floor-adjusted
#: ratio with its value, the error count with its samples.
_SHED_UNITS = (
    ("queries_floor_adj",), ("ratio_sameday", "baseline_sameday_total_sec"),
    ("cold_first_action_sec",), ("baseline_total_sec",), ("llm_total_sec",),
    ("llm_sf1_total_sec",), ("lake_total_sec",),
    ("value_floor_adj", "ratio_floor_adj"), ("llm_sf1",),
    ("op_errors", "op_error_count"),
)


def compact_line(result: dict) -> dict:
    """The driver-parseable final line: contract keys, provenance stamp
    (never shed), floor fields, totals and the sf1 cells as [median_sec,
    ratio_frozen, ratio_sameday]. Past COMPACT_LINE_CAP it sheds
    ``_SHED_UNITS`` in order, then truncates (never drops) 'queries'."""
    rf = result.get("llm_sf1_ratio_frozen", {})
    rs = result.get("llm_sf1_ratio_sameday", {})
    compact: dict = {k: result[k] for k in ("metric", "value", "unit", "sf")}
    compact.update((k, result.get(k)) for k in ("sha", "load_note", "cpus"))
    compact["queries"] = _floats(result.get("queries", {}))
    # Raw and floor-adjusted cells side by side: a machine band shift moves
    # only the raw ones, a plan change moves both.
    compact["queries_floor_adj"] = _floats(result.get("queries_floor_adj", {}))
    compact.update((k, result.get(k)) for k in _COMPACT_SCALARS)
    compact["llm_sf1"] = {
        k: [v, rf.get(k), rs.get(k)]
        for k, v in _floats(result.get("llm_queries_sf1", {})).items()
    }
    compact["detail"] = "BENCH_DETAIL.json"
    if result.get("ambient_load_warning"):
        compact["ambient_load_warning"] = True
        compact["floor_ratio_vs_historical"] = result.get("floor_ratio_vs_historical")
    errors = result.get("op_errors", [])
    if errors:
        compact["op_error_count"] = len(errors)
        compact["op_errors"] = errors[:5]
    for unit in _SHED_UNITS:
        if len(json.dumps(compact)) <= COMPACT_LINE_CAP:
            break
        for victim in unit:
            compact.pop(victim, None)
    while len(json.dumps(compact)) > COMPACT_LINE_CAP and compact["queries"]:
        compact["queries"].pop(next(reversed(compact["queries"])))
    return compact


def _time_runs(thunk, runs: int, warm: int = 0) -> list[float]:
    """Wall seconds of ``runs`` timed calls of ``thunk``, after ``warm``
    untimed ones."""
    for _ in range(warm):
        thunk()
    out = []
    for _ in range(runs):
        t0 = time.perf_counter()
        thunk()
        out.append(time.perf_counter() - t0)
    return out


def duckdb_sameday(sf_dir: str, names: list[str], ops, sf: float = 1.0) -> dict:
    """Median of 3 timed ``.df()`` runs (after 1 warm) of each op's OWN
    oracle SQL over the same parquet dir — BASELINE.md's protocol. Ops
    without an oracle, or capped below ``sf``, are skipped, so callers
    taking a suite-total ratio must check key parity with their cells; a
    failing oracle records an in-band error string."""
    import duckdb

    from desdb_spark.session import TABLES

    out: dict = {}
    con = duckdb.connect()
    try:
        # Its progress bar writes to stdout, which the driver's tail window
        # must keep for bench's own lines.
        con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name in names:
            op = ops[name]
            if op.oracle is None or (
                op.oracle_max_sf is not None and op.oracle_max_sf < sf
            ):
                continue
            try:
                runs = _time_runs(lambda q=op.oracle: con.execute(q).df(), 3, warm=1)
                out[name] = round(median(runs), 4)
            except Exception as exc:  # noqa: BLE001 — in-band, like _guard
                out[f"{name}_error"] = f"{type(exc).__name__}: {exc}"[:200]
    finally:
        con.close()
    return out


#: Crash containment: every per-op measurement runs inside _guard() (an
#: error becomes an "<op>_error" string entry, never an exception), and
#: _flush() writes the accumulating result here after every suite, so even
#: a hard crash (OOM, SIGKILL) leaves the completed suites on disk.
PARTIAL_PATH = os.path.join(_HERE, "BENCH_partial.json")


def _guard(timings: dict, name: str, thunk) -> None:
    """Run one op's measurement; on failure record the error in-band."""
    try:
        thunk()
    except Exception as exc:  # noqa: BLE001 — one op must never kill the run
        timings[f"{name}_error"] = f"{type(exc).__name__}: {exc}"[:300]


def _flush(result: dict) -> None:
    try:
        with open(PARTIAL_PATH, "w") as fh:
            json.dump(result, fh)
    except OSError:
        pass  # a read-only disk must not kill the measurement run


def _fsum(timings: dict) -> float:
    return round(sum(_floats(timings).values()), 4)


def measure_floor(spark, attempts: int = 4, settle_sec: float = 2.0) -> float:
    """Median wall time of a no-work action, re-measured until it drops
    under FLOOR_TOLERANCE × historical or attempts run out (best kept)."""
    best = float("inf")
    for attempt in range(attempts):
        best = min(best, median(_time_runs(lambda: spark.range(1).count(), 5)))
        if best <= FLOOR_TOLERANCE * HISTORICAL_FLOOR_SEC:
            break
        if attempt < attempts - 1:
            time.sleep(settle_sec)  # transient load: let it pass
    return round(best, 4)


def run_suite(spark, suite: Suite, ops, sf_dir: str, dfs=None, cells=None) -> dict:
    """Time ``suite`` into ``cells``; return its cells, dispersion and
    total keys. Non-rebuild rows time ``dfs[name]`` and skip ops missing
    there. ``toPandas`` is Arrow-batched, like DuckDB's ``.df()``."""
    sf_dir = suite.sf_dir or sf_dir
    cells = {} if cells is None else cells
    dispersion: dict[str, dict] = {}
    spark.conf.set("spark.sql.shuffle.partitions", str(suite.width))
    try:
        for name in suite.names:
            if not suite.rebuild and name not in dfs:
                continue
            thunk = (
                (lambda n=name: ops[n].fn(spark, sf_dir).toPandas())
                if suite.rebuild
                else dfs[name].toPandas
            )
            def _cell(name=name, thunk=thunk):
                runs = _time_runs(thunk, suite.runs, suite.warm)
                cells[name] = round(suite.pick(runs), 4)
                dispersion[name] = {"min": round(min(runs), 4), "max": round(max(runs), 4)}
            _guard(cells, name, _cell)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
    out = {suite.key: cells, suite.dispersion: dispersion}
    if suite.total:
        out[suite.total] = _fsum(cells)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = parse_sf(sf_dir)
    spark = bench_session("bench")
    load_tables(spark, sf_dir)
    ops = all_operators()
    headline, llm, sf1, lake = SUITES

    # Build each headline plan once, outside the timer; this also warms JVM
    # code paths, parquet footers and the knn broadcast index. A broken op
    # records an error entry and drops out of the suite.
    timings: dict[str, float] = {}
    dfs = {}
    for name in HEADLINE:
        _guard(timings, name, lambda n=name: dfs.__setitem__(n, ops[n].fn(spark, sf_dir)))
    # Cold first action: the first execution on a fresh session pays JVM /
    # codegen warmup, footer reads and scheduler spin-up; next to the warm
    # medians it separates machine noise from plan changes. It can fail like
    # any execution: guarded, -1.0, and the op drops out.
    cold_first_action = -1.0
    if HEADLINE[0] in dfs:
        def _cold():
            nonlocal cold_first_action
            cold_first_action = round(_time_runs(dfs[HEADLINE[0]].count, 1)[0], 4)
        _guard(timings, f"{HEADLINE[0]}_cold", _cold)
        if f"{HEADLINE[0]}_cold_error" in timings:
            del dfs[HEADLINE[0]]
    for name, df in list(dfs.items()):
        def _warm(df=df):
            df.count()
            df.toPandas()  # warm the Arrow collect path too, not just execution
        _guard(timings, name, _warm)
        if f"{name}_error" in timings:
            del dfs[name]

    floor = measure_floor(spark)
    cells = run_suite(spark, headline, ops, sf_dir, dfs=dfs, cells=timings)
    # The floor's excess over HISTORICAL_FLOOR_SEC is load common to every
    # one-action headline cell; subtracting it (clamped at 1 ms) normalizes.
    floor_excess = max(floor - HISTORICAL_FLOOR_SEC, 0.0)
    floor_adj = {
        k: round(max(v - floor_excess, 0.001), 4) for k, v in _floats(timings).items()
    }
    result: dict = {
        "metric": "headline_suite_warm_median_total",
        "value": _fsum(timings),
        "unit": "sec",
        **cells,
        "queries_floor_adj": floor_adj,
        "value_floor_adj": round(sum(floor_adj.values()), 4),
        "sf": sf,
        "floor_sec": floor,
        "cold_first_action_sec": cold_first_action,
    }
    baseline_total = round(sum(BASELINE_HEADLINE_SEC.get(k, 0.0) for k in floor_adj), 4)
    # The ratio is only meaningful against BASELINE.md's sf0.1 table.
    if abs(sf - 0.1) < 1e-9 and baseline_total > 0:
        result["baseline_total_sec"] = baseline_total
        result["ratio_floor_adj"] = round(result["value_floor_adj"] / baseline_total, 3)
        # A DuckDB import/connect failure must not kill the run unflushed.
        try:
            headline_sameday = duckdb_sameday(sf_dir, list(floor_adj), ops, sf=sf)
        except Exception as exc:  # noqa: BLE001
            headline_sameday = {"error": f"{type(exc).__name__}: {exc}"[:200]}
        result["headline_duckdb_sameday"] = headline_sameday
        sameday_total = _fsum(headline_sameday)
        # Honest only when EVERY timed cell has a same-day twin: a skipped
        # op would stay in the numerator and vanish from the denominator.
        if sameday_total > 0 and set(headline_sameday) == set(floor_adj):
            result["baseline_sameday_total_sec"] = sameday_total
            result["ratio_sameday"] = round(result["value_floor_adj"] / sameday_total, 3)
    _flush(result)

    # After the headline, so its heavy shuffles never pollute those medians.
    result.update(run_suite(spark, llm, ops, sf_dir))
    _flush(result)

    sf1_out: dict = {sf1.key: {}, sf1.dispersion: {}}
    if sf_dir.rstrip("/").endswith("sf0.1"):
        try:
            from tools.scale_spotcheck import build_derived

            build_derived()
            # The llm suite just churned the JVM; without a full GC the arm's
            # first timed cells pay that debt purely from run position.
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:  # noqa: BLE001 — hygiene must never kill the run
                pass
            # Arm-local floor, one attempt: load swings on minute timescales,
            # so the start-of-run floor can misattribute this arm.
            result["llm_sf1_floor_sec"] = measure_floor(spark, attempts=1)
            _flush(result)
            sf1_out = run_suite(spark, sf1, ops, sf_dir)
            sf1_cells = _floats(sf1_out[sf1.key])
            # DuckDB runs after the Spark cells so it never perturbs them.
            sameday = duckdb_sameday(sf1.sf_dir, sf1.names, ops, sf=1.0)
            result["llm_sf1_duckdb_sameday"] = sameday
            result["llm_sf1_ratio_frozen"] = {
                k: round(v / BASELINE_LLM_SF1_SEC[k], 3) for k, v in sf1_cells.items()
            }
            result["llm_sf1_ratio_sameday"] = {
                k: round(v / sameday[k], 3)
                for k, v in sf1_cells.items()
                if isinstance(sameday.get(k), float) and sameday[k] > 0
            }
        except Exception as exc:  # never fail the whole bench on the arm
            sf1_out[sf1.key]["error"] = str(exc)[:200]
    result.update(sf1_out)
    result[sf1.total] = _fsum(sf1_out[sf1.key])
    _flush(result)

    result.update(run_suite(spark, lake, ops, sf_dir))

    # Post-run floor: catches load that arrived DURING the timing loops.
    floor_after = measure_floor(spark, attempts=1)
    floor_ratio = round(max(floor, floor_after) / HISTORICAL_FLOOR_SEC, 2)
    result["floor_after_sec"] = floor_after
    result["sha"] = git_sha()
    result["cpus"] = bench_cpus()
    result["jvm_flags"] = jvm_flags(spark)
    band = "loaded" if floor_ratio > FLOOR_TOLERANCE else "idle"
    result["load_note"] = f"{band}@{floor_ratio}x_floor"
    errors = sorted(k for s in SUITES for k in result[s.key] if k not in _floats(result[s.key]))
    if errors:
        result["op_errors"] = errors
    if floor_ratio > FLOOR_TOLERANCE:
        # Recorded, but flagged: compare floor_sec before comparing cells.
        result["ambient_load_warning"] = True
        result["floor_ratio_vs_historical"] = floor_ratio
    _flush(result)
    try:
        with open(DETAIL_PATH, "w") as fh:
            json.dump(result, fh, indent=1)
    except OSError:
        pass
    print("DETAIL " + json.dumps(result))
    sys.stdout.flush()
    print(json.dumps(compact_line(result)))


if __name__ == "__main__":
    main()
