"""desdb_spark benchmark: one closed-loop client against the engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload {interactive,curation} --seed N \
        --seconds S --trace {0,1}

Set-up generates every input from the seed under ``.perfbench_work/``, builds
the engine session three times (the first pays the JVM launch; ``setup_s`` is
the median of their CPU seconds) and records expected results. ``S`` sizes
the request stream: ``S`` x 2 interactive requests, or one curation batch per
25 s of ``S`` (at least one). The last stdout line is one JSON object: the end-to-end metrics when ``--trace 0``, the per-layer metrics from
spans and Spark's status store when ``--trace 1``. The trace itself is
written to ``.perfbench_work/trace-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("interactive", "curation")
SETUPS = 3

#: End-to-end metrics. Set-up and request cost are CPU seconds (of the
#: client, the driver JVM and its Python workers): on a shared host, steal
#: moved wall times by up to half between runs and CPU times by under a
#: fifth. Wall-clock latency and set-up time are reported per layer.
E2E = {
    "setup_s": "s",
    "request_cpu_s": "s",
    "retained_heap_mb": "MB",
}


def _layer_units() -> dict[str, str]:
    from perfbench.workloads import CURATION_OPS

    units = {
        "request_p50_s": "s",
        "request_p90_s": "s",
        "work_per_s": "1/s",
        "peak_rss_mb": "MB",
        "session.setup_wall_s": "s",
        "session.cold_setup_s": "s",
        "session.get_spark_s": "s",
        "session.load_tables_s": "s",
        "session.registry_import_s": "s",
        "session.first_action_s": "s",
        "registry.plan_build_s": "s",
        "registry.plan_build_share": "ratio",
        "api.quick_s": "s",
        "jobs.count": "count",
        "jobs.stages": "count",
        "jobs.skipped_stages": "count",
        "jobs.tasks": "count",
        "jobs.wall_s": "s",
        "jobs.executor_run_s": "s",
        "jobs.executor_cpu_s": "s",
        "jobs.input_mb": "MB",
        "jobs.shuffle_read_mb": "MB",
        "jobs.shuffle_write_mb": "MB",
        "jobs.spill_mb": "MB",
        "jobs.failed_tasks": "count",
        "driver.gap_s": "s",
        "trace.request_wall_s": "s",
        "trace.overhead_s": "s",
        "floor.action_s": "s",
    }
    for op in CURATION_OPS:
        units[f"extensions.{op}_s"] = "s"
    units.update({
        "streaming.stream_session_window_s": "s",
        "sources.merge_into_s": "s",
        "sources.read_as_of_s": "s",
        "sources.files_touched_frac": "ratio",
        "sources.bytes_written_mb": "MB",
        "sources.live_files": "count",
        "lake.commit_p50_s": "s",
        "lake.read_p50_s": "s",
        "lake.request_p90_s": "s",
        "lake.write_amp": "ratio",
        "lake.space_amp": "ratio",
        "curation.batch_p50_s": "s",
        "jvm.heap_used_mb": "MB",
        "jvm.storage_mem_mb": "MB",
        "failed_frac": "ratio",
    })
    return units


def _pct(xs: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(xs, q)) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def e2e_metrics(records, setups: list[dict], retained_mb: float) -> dict:
    return {
        "setup_s": statistics.median(s["cpu"] for s in setups),
        "request_cpu_s": _mean([r.cpu for r in records]),
        "retained_heap_mb": retained_mb,
    }


def layer_metrics(workload: str, records, stats: dict, setups: list[dict],
                  floors: list[float], trace_overhead_s: float, rss_mb: float) -> dict:
    from perfbench.workloads import CURATION_OPS

    n = len(records)
    bds = [r.breakdown for r in records]
    walls = [r.wall for r in records]
    jobs = [a for bd in bds for a in bd["job_attrs"]]

    def per_req(key):
        return sum(a[key] for a in jobs) / n

    def p50_of(pred, value=lambda r: r.wall):
        return _pct([value(r) for r in records if pred(r)], 50)

    def setup_med(k):
        return statistics.median(s[k] for s in setups)

    commits = [r for r in records if r.kind == "commit"]
    reads = [r for r in records if r.kind == "read"]
    n_commits = len(commits)
    if workload == "curation":
        work = sum(b["docs"] for b in stats["batches"]) / sum(walls)
    else:
        work = n / sum(walls)
    m = {
        "request_p50_s": _pct(walls, 50),
        "request_p90_s": _pct(walls, 90),
        "work_per_s": work,
        "peak_rss_mb": rss_mb,
        "session.setup_wall_s": setup_med("total"),
        "session.cold_setup_s": setups[0]["total"],
        "session.get_spark_s": setup_med("get_spark"),
        "session.load_tables_s": setup_med("load_tables"),
        "session.registry_import_s": setup_med("registry_import"),
        "session.first_action_s": setup_med("first_action"),
        "registry.plan_build_s": _mean([bd["plan_build"] for bd in bds]),
        "registry.plan_build_share": sum(bd["plan_build"] for bd in bds) / sum(walls),
        "api.quick_s": p50_of(lambda r: r.kind == "sql"),
        "jobs.count": len(jobs) / n,
        "jobs.stages": per_req("stages"),
        "jobs.skipped_stages": per_req("skipped_stages"),
        "jobs.tasks": per_req("tasks"),
        "jobs.wall_s": _mean([bd["jobs"] for bd in bds]),
        "jobs.executor_run_s": per_req("executor_run_s"),
        "jobs.executor_cpu_s": per_req("executor_cpu_s"),
        "jobs.input_mb": per_req("input_mb"),
        "jobs.shuffle_read_mb": per_req("shuffle_read_mb"),
        "jobs.shuffle_write_mb": per_req("shuffle_write_mb"),
        "jobs.spill_mb": per_req("spill_mb"),
        "jobs.failed_tasks": per_req("failed_tasks"),
        "driver.gap_s": _mean([bd["gap"] for bd in bds]),
        "trace.request_wall_s": _mean([bd["wall"] for bd in bds]),
        "trace.overhead_s": trace_overhead_s / n,
        "floor.action_s": statistics.median(floors),
    }
    for op in CURATION_OPS:
        m[f"extensions.{op}_s"] = _pct(
            [r.extra["op_walls"][op] for r in records if op in r.extra.get("op_walls", {})], 50)
    lake = stats.get("lake", {})
    m.update({
        "streaming.stream_session_window_s": p50_of(lambda r: r.name == "stream_session_window"),
        "sources.merge_into_s": p50_of(
            lambda r: r.kind == "commit", lambda r: r.breakdown["self"].get("sources", 0.0)),
        "sources.read_as_of_s": p50_of(
            lambda r: r.kind == "read", lambda r: r.breakdown["self"].get("sources", 0.0)),
        "sources.files_touched_frac": (
            lake["touched"] / lake["files"] if lake.get("files") else 0.0),
        "sources.bytes_written_mb": (
            lake["written"] / n_commits / 2**20 if n_commits else 0.0),
        "sources.live_files": lake.get("live_files", 0),
        "lake.commit_p50_s": _pct([r.wall for r in commits], 50),
        "lake.read_p50_s": _pct([r.wall for r in reads], 50),
        "lake.request_p90_s": _pct([r.wall for r in commits + reads], 90),
        "lake.write_amp": lake["written"] / lake["submitted"] if lake.get("submitted") else 0.0,
        "lake.space_amp": (
            lake["stored_bytes"] / lake["live_bytes"] if lake.get("live_bytes") else 0.0),
        "curation.batch_p50_s": _pct([b["wall"] for b in stats.get("batches", [])], 50),
        "jvm.heap_used_mb": stats.get("heap_mb", 0.0),
        "jvm.storage_mem_mb": stats.get("storage_mb", 0.0),
        "failed_frac": sum(not r.ok for r in records) / n,
    })
    return m


def source_sha() -> str:
    """HEAD of the checkout when it is a git repository, else a hash of the
    engine's sources."""
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        path = os.path.join(ROOT, ".git", ref[5:])
        if os.path.isfile(path):
            with open(path) as fh:
                return fh.read().strip()
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, "desdb_spark"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:12]


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr)


def _isolate(work: str) -> None:
    """Point every scratch path the engine, Spark and Python workers use at
    the run directory, and let workers import the engine from any cwd."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("DESDB_MAX_BROADCAST_BYTES", None)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    # The script's own directory would shadow top-level modules; import the
    # benchmark as the ``perfbench`` package from the checkout root instead.
    sys.path[:] = [ROOT] + [p for p in sys.path if p not in (ROOT, os.path.dirname(__file__))]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "desdb_spark", "session.py")):
        print(f"no engine sources under {ROOT}/desdb_spark", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)

    from perfbench import engine, gen, workloads
    from perfbench.spans import NullTracer, Tracer

    sf_dir = os.path.join(work, "sf0.1")
    spark = None
    try:
        steal0 = engine.steal_ticks()
        gen.write_fixtures(args.seed, sf_dir)
        _log("inputs generated")
        conf = engine.session_conf(work)
        setups = []
        for i in range(SETUPS):
            if i:
                spark.stop()
                engine.purge_engine_modules()
            eng = engine.set_up(sf_dir, conf)
            spark = eng.spark
            setups.append(eng.timings)
            _log(f"set-up {i + 1}: " + json.dumps({k: round(v, 3) for k, v in eng.timings.items()}))
        tracer = Tracer(spark) if args.trace else NullTracer()
        floors = engine.floor_s(spark)
        run = getattr(workloads, args.workload)
        records, stats = run(eng, tracer, args.seed, args.seconds, sf_dir, work)
        floors += engine.floor_s(spark)
        _log("workload done")
        rss_py, rss_jvm = (engine.peak_rss_mb([p]) for p in (os.getpid(), engine.jvm_pid()))
        rss = rss_py + rss_jvm
        steal_s = (engine.steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
        retained = engine.retained_heap_mb(spark)
        if args.trace:
            metrics = layer_metrics(args.workload, records, stats, setups, floors,
                                    tracer.overhead_s, rss)
            units = _layer_units()
            tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = e2e_metrics(records, setups, retained)
            units = E2E
    finally:
        engine.stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not r.ok for r in records)
    print(
        f"perfbench workload={args.workload} seed={args.seed} nproc="
        f"{os.environ['SPARK_GRAFT_CPUS']} sha={source_sha()} "
        f"floor_s={statistics.median(floors):.4f} conf={json.dumps(engine.SESSION_CONF)} "
        f"requests={len(records)} steal_cpu_s={steal_s:.1f} "
        f"peak_rss_mb_python={rss_py:.0f} peak_rss_mb_jvm={rss_jvm:.0f} "
        f"p50_s={statistics.median(r.wall for r in records):.3f} retained_heap_mb={retained:.0f}"
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    code = main()
    _log("exit")
    sys.exit(code)
