"""Dump `.explain("formatted")` for every benched query to plans/r<N>/.

One `<query>_<tag>.txt` per benched op (headline + LLM + lake suites),
captured under bench.py's session confs and each suite's shuffle width,
so plan claims in OPTIMIZATION_r<N>.md are checkable without running
Spark.

Usage: python tools/dump_round_plans.py --tag before [--round 16] [ops...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

from bench import HEADLINE, LAKE_SUITE, LLM_SUITE, SUITES, bench_session  # noqa: E402
from desdb_spark.registry import all_operators  # noqa: E402
from desdb_spark.session import load_tables  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"

#: Ops whose fn() runs eager jobs (DML table builds, streaming runs)
#: before returning the final read/agg frame — the dumped plan is that
#: final frame's plan; the mutation pipeline is profiled separately.
EAGER_NOTE = {
    "source_merge_upsert",
    "source_delete_vectors_read",
    "stream_merge_manifest_table",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", required=True)
    ap.add_argument("--round", type=int, default=16)
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args()

    spark = bench_session("plan-dump-round")
    load_tables(spark, SF_DIR)
    ops = all_operators()
    names = args.ops or list(dict.fromkeys(HEADLINE + LLM_SUITE + LAKE_SUITE))
    width = {name: suite.width for suite in SUITES for name in suite.names}
    out_dir = os.path.join(_REPO_ROOT, "plans", f"r{args.round}")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        # Dump each op's plan under the shuffle width its bench cell uses.
        spark.conf.set("spark.sql.shuffle.partitions", str(width.get(name, 32)))
        df = ops[name].fn(spark, SF_DIR)
        # The public explain() output, not the private PythonSQLUtils /
        # _jdf hop: that is unavailable under Spark Connect and fragile
        # across versions, and explain() prints the same string.
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        header = f"# {name} @ sf0.1 — explain('formatted'), tag={args.tag}\n"
        if name in EAGER_NOTE:
            header += (
                "# NOTE: fn() runs eager build/mutation jobs first; this is the\n"
                "# plan of the returned final read+aggregate frame.\n"
            )
        with open(os.path.join(out_dir, f"{name}_{args.tag}.txt"), "w") as fh:
            fh.write(header + "\n" + plan)
        print(f"wrote {name}_{args.tag}.txt")


if __name__ == "__main__":
    main()
