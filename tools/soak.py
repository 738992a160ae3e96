"""Soak: N passes over one op list in one bench session, cost per pass.

Every pass runs each op fresh (``fn()`` + ``toPandas()``) in the same
``bench.bench_session``, so later passes show what a long-lived session
pays once JIT, codegen caches and checkpoint debt have settled. Per pass it
prints one JSON line: wall seconds, CPU seconds of the JVM process tree
(the JVM and its Python workers) and the JVM's thread CPU by bucket (C1,
C2, GC, executor tasks, other), read from ``/proc/<jvm>/task/*/{comm,stat}``
(Linux only). A thread that exits mid-pass takes its CPU since the last
sample with it, so the buckets are lower bounds; HotSpot retires idle
compiler threads. Usage::

    python tools/soak.py --suite llm_queries --passes 5
    python tools/soak.py --ops join_anti,topk_limit --sf <fixture dir>

``--suite`` takes a ``bench.SUITES`` key and runs its ops at its shuffle
width and data directory; ``--ops`` runs a comma list at the bench default.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

#: Thread-name prefixes (``comm`` holds the first 15 bytes) per bucket;
#: any other thread counts as ``other``.
BUCKETS = (
    ("C2", ("C2 CompilerThre",)),
    ("C1", ("C1 CompilerThre",)),
    ("GC", ("GC Thread", "G1 ")),
    ("task", ("Executor task l",)),
)


def bucket(comm: str) -> str:
    """The bucket of one JVM thread name."""
    for name, prefixes in BUCKETS:
        if comm.startswith(prefixes):
            return name
    return "other"


def stat_cpu_ticks(stat: str) -> int:
    """utime + stime of one ``/proc/.../stat`` line. The name field is
    parenthesized and may hold spaces and parentheses, so fields are
    counted after the last ``)``."""
    fields = stat.rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def thread_ticks(pid: int) -> dict[int, tuple[str, int]]:
    """tid -> (bucket, CPU ticks) for every live thread of ``pid``."""
    out = {}
    root = f"/proc/{pid}/task"
    for tid in os.listdir(root):
        try:
            with open(f"{root}/{tid}/comm") as fh:
                comm = fh.read().rstrip("\n")
            with open(f"{root}/{tid}/stat") as fh:
                ticks = stat_cpu_ticks(fh.read())
        except OSError:  # the thread exited between listdir and open
            continue
        out[int(tid)] = (bucket(comm), ticks)
    return out


def bucket_deltas(before: dict, after: dict, hz: float) -> dict[str, float]:
    """CPU seconds per bucket between two ``thread_ticks`` samples; a
    thread first seen in ``after`` counts from zero."""
    out = {name: 0.0 for name, _ in BUCKETS}
    out["other"] = 0.0
    for tid, (name, ticks) in after.items():
        out[name] += (ticks - before.get(tid, (name, 0))[1]) / hz
    return {k: round(v, 2) for k, v in out.items()}


def main(argv: list[str] | None = None) -> int:
    import bench
    from desdb_spark.registry import all_operators
    from desdb_spark.session import DEFAULT_SF_DIR, load_tables
    from perfbench.engine import cpu_s, descendants, jvm_pid

    suites = {s.key: s for s in bench.SUITES}
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    group = ap.add_mutually_exclusive_group(required=True)
    group.add_argument("--suite", choices=sorted(suites))
    group.add_argument("--ops", help="comma-separated registry op names")
    ap.add_argument("--passes", type=int, default=5)
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    args = ap.parse_args(argv)

    ops = all_operators()
    suite = suites.get(args.suite)
    names = suite.names if suite else [n for n in args.ops.split(",") if n]
    unknown = [n for n in names if n not in ops]
    if unknown:
        print(f"unknown ops: {', '.join(unknown)}", file=sys.stderr)
        return 2
    sf_dir = (suite.sf_dir if suite else None) or args.sf

    spark = bench.bench_session("soak")
    load_tables(spark, sf_dir)
    if suite:
        spark.conf.set("spark.sql.shuffle.partitions", str(suite.width))
    jvm = jvm_pid()
    hz = os.sysconf("SC_CLK_TCK")
    print(json.dumps({"ops": names, "sf_dir": sf_dir, "jvm_flags": bench.jvm_flags(spark)}))
    try:
        for n in range(1, args.passes + 1):
            threads0, cpu0 = thread_ticks(jvm), cpu_s([jvm] + descendants(jvm))
            t0 = time.perf_counter()
            for name in names:
                ops[name].fn(spark, sf_dir).toPandas()
            wall = time.perf_counter() - t0
            cpu = cpu_s([jvm] + descendants(jvm)) - cpu0
            print(json.dumps({
                "pass": n,
                "wall_s": round(wall, 2),
                "jvm_tree_cpu_s": round(cpu, 2),
                "thread_cpu_s": bucket_deltas(threads0, thread_ticks(jvm), hz),
            }), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
