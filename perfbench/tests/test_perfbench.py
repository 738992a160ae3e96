"""Tests of the benchmark itself: input determinism, the metric contract and
trace accounting. Run from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.workloads import CURATION_OPS, Client, Record  # noqa: E402


def _tree(path: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), path) for d, _, fs in os.walk(path) for f in fs
    )


def _write_all(seed: int, out: str) -> None:
    sf = os.path.join(out, "sf")
    gen.write_fixtures(seed, sf)
    docs = pq.read_table(os.path.join(sf, "documents.parquet"))
    embs = pq.read_table(os.path.join(sf, "embeddings.parquet"))
    gen.write_curation_batch(seed, 1, docs, embs, 300, 100, os.path.join(out, "batch"))
    gen.write_table(gen.lake_batch(seed, 0, 150_000, 150_000, 500), os.path.join(out, "lake.parquet"))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    _write_all(5, a)
    _write_all(5, b)
    _write_all(6, c)
    files = _tree(a)
    assert files == _tree(b) and len(files) == 13
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert "sf/orders.parquet" in differ and "lake.parquet" in differ


def test_lake_updates_stay_in_live_key_range():
    for i in range(20):
        k = gen.lake_batch(3, i, 150_000, 150_000 + 1_000 * i, 3_000).column("k").to_numpy()
        upd, ins = k[k < 150_000], k[k >= 150_000]
        assert len(upd) >= 2 * len(ins) > 0
        assert len(set(k.tolist())) == len(k)


def _records():
    bd = {"wall": 1.0, "plan_build": 0.2, "jobs": 0.5, "gap": 0.3,
          "self": {"sources": 0.1},
          "job_attrs": [{"stages": 2, "skipped_stages": 1, "tasks": 4, "failed_tasks": 0,
                         "executor_run_s": 0.4, "executor_cpu_s": 0.3, "input_mb": 1.0,
                         "shuffle_read_mb": 0.5, "shuffle_write_mb": 0.5, "spill_mb": 0.0}]}
    recs = [Record("registry", "stream_session_window", 1.0, 2.0, True, 0, bd),
            Record("commit", "merge_into", 1.5, 3.0, True, 0, bd),
            Record("read", "agg_latest", 0.3, 0.5, True, 0, bd),
            Record("batch", "batch_1", 9.0, 20.0, True, 1, bd,
                   {"op_walls": {op: 2.0 for op in CURATION_OPS}})]
    stats = {"batches": [{"wall": 9.0, "docs": 1000}], "heap_mb": 900.0, "storage_mb": 3.0,
             "lake": {"touched": 2, "files": 8, "written": 3000, "submitted": 1000,
                      "live_files": 9, "live_bytes": 9000, "stored_bytes": 12000}}
    setups = [{"total": 9.0, "cpu": 12.0, "get_spark": 5.0, "load_tables": 3.0, "registry_import": 0.5,
               "first_action": 0.5}] * 3
    return recs, stats, setups


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared_e2e == run.E2E
    assert declared_layer == run._layer_units()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)

    recs, stats, setups = _records()
    e2e = run.e2e_metrics(recs, setups, 512.0)
    assert set(e2e) == set(declared_e2e)
    assert all(v > 0 for v in e2e.values())
    for workload in run.WORKLOADS:
        layer = run.layer_metrics(workload, recs, stats, setups, [0.1, 0.2], 0.01, 2048.0)
        assert set(layer) == set(declared_layer)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    local = str(tmp_path_factory.mktemp("spark-local"))
    s = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.ui.enabled", "false").config("spark.local.dir", local)
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


#: A traced request's layer self times may differ from its wall by this
#: share (job times come from the JVM clock at millisecond resolution).
SELF_TIME_TOLERANCE = 0.05


def test_traced_request_self_times_add_up_to_wall(spark):
    from perfbench.spans import Tracer, self_times

    tracer = Tracer(spark)
    client = Client(tracer, time.thread_time)

    def thunk():
        with tracer.span("plan", "registry"):
            df = spark.range(200_000).selectExpr("id % 97 AS k", "id").groupBy("k").count()
        with tracer.span("collect", "collect"):
            return df.toPandas()

    rec = client.request("registry", "probe", 0, thunk, lambda df: len(df) == 97)
    assert rec.ok
    bd = rec.breakdown
    assert bd["job_attrs"] and bd["jobs"] > 0
    assert bd["plan_build"] + bd["jobs"] + bd["gap"] == pytest.approx(rec.wall, abs=0.02)
    root = max(i for i, s in enumerate(tracer.spans) if s.layer == "request")
    idxs = [i for i, s in enumerate(tracer.spans) if s.request == tracer.spans[root].request]
    total = sum(self_times(tracer.spans, idxs).values())
    span_wall = tracer.spans[root].end - tracer.spans[root].start
    assert abs(total - span_wall) <= SELF_TIME_TOLERANCE * span_wall + 0.002
    assert abs(span_wall - rec.wall) <= 0.01


def test_component_labels_match_the_operators_duckdb_oracle(tmp_path):
    import duckdb

    from desdb_spark.extensions.dedup_components import CLOSURE_CTES
    from perfbench.engine import canonical
    from perfbench.workloads import component_labels

    t = gen.documents_table(np.random.default_rng(1), 80)
    path = str(tmp_path / "documents.parquet")
    gen.write_table(t, path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    want = con.execute(
        CLOSURE_CTES + " SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id "
        "FROM reach GROUP BY id"
    ).df()
    lab = component_labels(path)
    got = pd.DataFrame({"doc_id": list(lab), "cluster_id": list(lab.values())})
    assert len(want) > 0 and canonical(got) == canonical(want)


def test_expected_tolerates_summation_order_but_not_wrong_values():
    from perfbench.engine import Expected

    want = pd.DataFrame({"n_name": ["A", "B"], "revenue": [7336624.84, 5.5], "n": [3, 4]})
    exp = Expected(want)
    assert exp.matches(want.iloc[::-1].reset_index(drop=True))
    assert exp.matches(want.assign(revenue=[7336624.84 + 1e-9, 5.5]))  # last bits
    assert exp.matches(want.assign(revenue=[7336624.85, 5.5]))  # a half-cent tie
    assert not exp.matches(want.assign(revenue=[7336624.86, 5.5]))
    assert not exp.matches(want.assign(revenue=[7336624.84, 5.51 + 1e-4]))
    assert not exp.matches(want.assign(n=[3, 5]))
    assert not exp.matches(want.iloc[:1])
