"""``get_spark`` launches the engine JVM under one JIT policy
(``session.JIT_POLICY``) through ``spark.driver.defaultJavaOptions``, so a
caller's ``spark.driver.extraJavaOptions`` adds to it instead of dropping
it, and bench records the policy it ran under."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import bench
from desdb_spark.session import JIT_POLICY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
POLICY = JIT_POLICY.split()


def _input_args(spark) -> list[str]:
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return list(mx.getRuntimeMXBean().getInputArguments())


def test_session_jvm_runs_the_policy(spark):
    args = _input_args(spark)
    assert [f for f in POLICY if f not in args] == []


def test_bench_records_policy_in_detail_only(spark):
    flags = bench.jvm_flags(spark)
    assert set(POLICY) <= set(flags)
    assert all(f.startswith("-XX:") for f in flags)
    result = {"metric": "m", "value": 1.0, "unit": "sec", "sf": 0.1, "jvm_flags": flags}
    assert "jvm_flags" not in bench.compact_line(result)


_CHILD = """
import json, sys
sys.path.insert(0, {repo!r})
from desdb_spark.session import get_spark
spark = get_spark("jvm-policy-child", extra_conf={{
    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir={tmp}",
    "spark.driver.memory": "512m",
}})
jvm = spark.sparkContext._jvm
print(json.dumps({{
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "tmpdir": jvm.java.lang.System.getProperty("java.io.tmpdir"),
}}))
spark.stop()
"""


def test_caller_extra_java_options_keep_the_policy(tmp_path):
    """perfbench's shape: its tmpdir rides extraJavaOptions, and the JVM
    gets both that and the policy."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY_")}
    out = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO, tmp=tmp_path)],
        capture_output=True, text=True, timeout=300, env=env, check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert [f for f in POLICY if f not in got["args"]] == []
    assert f"-Djava.io.tmpdir={tmp_path}" in got["args"]
    assert got["tmpdir"] == str(tmp_path)
