"""Dump formatted physical plans of the headline queries to docs/PLANS.md.

Evidence artifact: shows pushdown/pruning/broadcast/TakeOrdered choices
per query so plan quality is reviewable without running Spark.
Regenerate after operator changes: python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

from bench import HEADLINE, bench_session  # noqa: E402
from desdb_spark.registry import all_operators  # noqa: E402
from desdb_spark.session import load_tables  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    spark = bench_session("plan-dump")
    load_tables(spark, SF_DIR)
    ops = all_operators()
    out = [
        "# Physical plans — headline queries at sf0.1\n",
        "Generated by `python tools/dump_plans.py` (bench session confs:",
        "AQE on, shuffle_partitions=4, 4MB split size). What to look for:",
        "pruned `ReadSchema`, `PushedFilters` at the scans, `BroadcastHashJoin`",
        "for dims, a single `Exchange` per aggregation, `TakeOrderedAndProject`",
        "for top-k, no `CartesianProduct`/`BroadcastNestedLoopJoin`",
        "(`tests/test_plan_audit.py` enforces the last point fleet-wide).\n",
    ]
    for name in HEADLINE:
        df = ops[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"## {name}\n\n```\n{plan}\n```\n")
    os.makedirs(os.path.join(_REPO_ROOT, "docs"), exist_ok=True)
    with open(os.path.join(_REPO_ROOT, "docs", "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(HEADLINE)} plans)")


if __name__ == "__main__":
    main()
