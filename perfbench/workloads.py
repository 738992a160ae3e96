"""The two closed-loop workloads.

One client sends each request only after the previous reply, and checks
every reply against an expected result that DuckDB computed from the same
generated inputs. Verification and tracing bookkeeping run outside the
request timer.

Each run sends a fixed number of requests, sized from ``--seconds`` at a
nominal rate, in a fixed order; the seed draws the parameters and the data.
Every run therefore has the same request mix, including which requests meet
the session's cold start, and percentiles compare like with like.

* ``interactive`` — a desdb-style analysis session over a lake that is being
  written to: the registry's headline operators, SQL passthrough through
  ``api.Connection.quick_numpy`` with seeded parameters, and reads and
  upsert commits on one growing manifest table (``sources.time_travel`` /
  ``sources.lake_dml``). Every request builds a fresh plan; executor work is
  small and the fixture tables sit in the session's table memo, so plan
  build, Catalyst/AQE, the action floor and Arrow collect dominate.
* ``curation`` — crawl batches through the dedup and ANN operators. Every
  batch is a new seeded corpus (new files, new token sets), so the
  fingerprint-keyed memos miss as they would on a new crawl batch, and the
  cost is the operators' multi-stage plans: code generation, many small
  shuffle and checkpoint jobs, and the ANN plan build.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.engine import Expected, cpu_clock, jvm_memory_mb
from perfbench.spans import request_breakdown

#: The registry's 11 headline operators (the project's BASELINE set).
HEADLINE_OPS = [
    "agg_hash_groupby_q1",
    "join_multiway_star",
    "join_sort_merge_large",
    "join_anti",
    "window_frame_rows",
    "topk_limit",
    "agg_rollup",
    "scalar_json_events",
    "stream_session_window",
    "knn_cosine_topk",
    "dedup_exact_docs",
]
#: SQL passthrough requests per template per pass.
SQL_PER_TEMPLATE = 5
#: Interactive requests per second of ``--seconds`` (the cold first pass of
#: a session runs at about this rate on 4 cores).
INTERACTIVE_RATE = 2.0
#: Lake reads per pass; each pass also commits one upsert batch.
LAKE_READS = ["agg_latest", "point_latest", "agg_as_of"]
#: Time-travel reads go back this many versions.
AS_OF_LAG = 3
LAKE_V1_FILES = 8
LAKE_BATCH_MAX_ROWS = 3_000

#: Curation operators, in pipeline order.
CURATION_OPS = [
    "docs_dedup_lines_global",
    "dedup_cluster_components",
    "ann_lsh_bucketed",
]
CURATION_DOCS = 1_000
CURATION_VECS = 400
#: Seconds of ``--seconds`` per curation batch (on 4 cores a session's first
#: batch takes about 20 s, later ones about 13 s).
CURATION_BATCH_S = 25.0
#: Jaccard threshold of the dedup_cluster_components edge definition.
COMPONENT_T = 0.8

SQL_TEMPLATES = {
    "order_by_key": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderpriority "
        "FROM orders WHERE o_orderkey = {k}"
    ),
    "customer_by_key": (
        "SELECT c_custkey, c_name, c_nationkey, "
        "CAST(round(c_acctbal * 100) AS BIGINT) AS acct_cents, c_mktsegment "
        "FROM customer WHERE c_custkey = {k}"
    ),
    "shipdate_range": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty, "
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents "
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '{d0}' "
        "AND l_shipdate < TIMESTAMP '{d1}' GROUP BY l_returnflag, l_linestatus"
    ),
    "segment_by_nation": (
        "SELECT n.n_name, count(*) AS n_cust, "
        "CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents "
        "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE c.c_mktsegment = '{seg}' GROUP BY n.n_name"
    ),
}


@dataclass
class Record:
    kind: str  # registry | sql | commit | read | batch
    name: str
    wall: float
    cpu: float  # CPU seconds of the client thread, the JVM and its workers
    ok: bool
    group: int  # pass (interactive) or batch (curation) number
    breakdown: dict | None = None
    extra: dict = field(default_factory=dict)


class Client:
    """Closed-loop client: times each request, then checks it untimed."""

    def __init__(self, tracer, cpu_clock) -> None:
        self.tracer = tracer
        self.cpu_clock = cpu_clock
        self.records: list[Record] = []

    def request(self, kind, name, group, thunk, check) -> Record:
        rid = self.tracer.begin_request(name)
        c0 = self.cpu_clock()
        t0 = time.perf_counter()
        try:
            result, ok = thunk(), True
        except Exception:  # noqa: BLE001 — a failed request is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            result, ok = None, False
        wall = time.perf_counter() - t0
        cpu = self.cpu_clock() - c0
        self.tracer.end_request(rid)
        if ok:
            try:
                ok = bool(check(result))
            except Exception:  # noqa: BLE001
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                print(f"mismatch: {kind} {name}", file=sys.stderr)
        bd = request_breakdown(self.tracer.spans, rid) if self.tracer.enabled else None
        rec = Record(kind, name, wall, cpu, ok, group, bd)
        self.records.append(rec)
        _log(f"request {group} {kind} {name} {wall:.3f}s ok={ok} cpu={cpu:.3f}s")
        return rec


def _log(msg: str) -> None:
    print(f"{time.strftime('%H:%M:%S')} {msg}", file=sys.stderr)


def op_layer(op) -> str:
    """Engine layer of a registered operator: its package under desdb_spark."""
    parts = op.fn.__module__.split(".")
    return parts[1] if len(parts) > 2 else parts[-1]


def run_op(engine, tracer, name: str, sf_dir: str):
    """One registry request: plan build (``fn``) then Arrow collect."""
    op = engine.ops[name]
    with tracer.span(name, op_layer(op)):
        with tracer.span(f"{name}.fn", "registry"):
            df = op.fn(engine.spark, sf_dir)
        with tracer.span("toPandas", "collect"):
            return df.toPandas()


def duck(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


# -- interactive -------------------------------------------------------------


def _interleave(*queues: list) -> list:
    """Merge queues so each one's items are spread evenly through the result."""
    keyed = [((i + 0.5) / len(q), qi, x) for qi, q in enumerate(queues) for i, x in enumerate(q)]
    return [x for _, _, x in sorted(keyed, key=lambda t: t[:2])]


def plan_interactive(seed: int, n: int) -> list[tuple]:
    """The first ``n`` requests of a stream of passes. Every pass holds each
    headline operator, ``SQL_PER_TEMPLATE`` requests per SQL template, one
    lake commit and the lake reads, in a fixed order; the seed draws the SQL
    parameters and the looked-up keys. Items are (pass, kind, ...)."""
    plan: list[tuple] = []
    p = 0
    while len(plan) < n:
        rng = np.random.default_rng([seed, 3, p])
        sql = []
        for _ in range(SQL_PER_TEMPLATE):
            d0 = int(rng.integers(0, 2400))
            start = np.datetime64("1995-01-01") + np.timedelta64(d0, "D")
            params = {
                "order_by_key": {"k": int(rng.integers(0, gen.ROWS["orders"]))},
                "customer_by_key": {"k": int(rng.integers(0, gen.ROWS["customer"]))},
                "shipdate_range": {
                    "d0": str(start),
                    "d1": str(start + np.timedelta64(30, "D")),
                },
                "segment_by_nation": {"seg": gen.SEGMENTS[int(rng.integers(0, 5))]},
            }
            sql += [(p, "sql", t, SQL_TEMPLATES[t].format(**prm)) for t, prm in params.items()]
        lake = [(p, "commit")] + [
            (p, "read", r, int(rng.integers(0, gen.ROWS["orders"]))) for r in LAKE_READS
        ]
        plan += _interleave([(p, "registry", op) for op in HEADLINE_OPS], sql, lake)
        p += 1
    return plan[:n]


def lake_states(con, orders_path: str, batches: list[str], lookups: dict) -> dict:
    """Expected lake table state after v1 and after each batch, computed by
    DuckDB alone: ``{version: (count, sum_cents, {key: cents})}``."""
    con.execute(
        "CREATE TABLE s AS SELECT o_orderkey AS k, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents "
        f"FROM read_parquet('{orders_path}')"
    )
    out = {}
    for v in range(1, len(batches) + 2):
        if v > 1:
            b = batches[v - 2]
            con.execute(f"DELETE FROM s WHERE k IN (SELECT k FROM read_parquet('{b}'))")
            con.execute(f"INSERT INTO s SELECT k, cents FROM read_parquet('{b}')")
        n, total = con.execute("SELECT count(*), CAST(sum(cents) AS BIGINT) FROM s").fetchone()
        keys = sorted(lookups.get(v, ()))
        found = {}
        if keys:
            found = dict(
                con.execute(
                    f"SELECT k, cents FROM s WHERE k IN ({','.join(map(str, keys))})"
                ).fetchall()
            )
        out[v] = (int(n), int(total), {k: found.get(k) for k in keys})
    return out


def interactive(engine, tracer, seed: int, seconds: float, sf_dir: str, work: str):
    from desdb_spark.sources import lake_dml, time_travel

    spark = engine.spark
    plan = plan_interactive(seed, max(1, round(seconds * INTERACTIVE_RATE)))
    commits = sum(r[1] == "commit" for r in plan)

    # Set-up, untimed: lake v1, pre-generated upsert batches, expected results.
    root = os.path.join(work, "lake")
    orders = os.path.join(sf_dir, "orders.parquet")
    v1 = spark.read.parquet(orders).selectExpr(
        "CAST(o_orderkey AS BIGINT) AS k",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
    )
    time_travel.write_version(
        v1.repartitionByRange(LAKE_V1_FILES, "k").sortWithinPartitions("k"),
        root, 1, stats_col="k",
    )
    _log("lake v1 written")
    batches, next_key = [], gen.ROWS["orders"]
    for i in range(commits):
        path = os.path.join(work, f"lake_batch_{i}.parquet")
        t = gen.lake_batch(seed, i, gen.ROWS["orders"], next_key, LAKE_BATCH_MAX_ROWS)
        next_key = max(next_key, int(t.column("k").to_numpy().max()) + 1)
        gen.write_table(t, path)
        batches.append(path)

    # The version each read sees follows from the plan order.
    lookups: dict[int, set] = {}
    v = 1
    for r in plan:
        if r[1] == "commit":
            v += 1
        elif r[1] == "read" and r[2] == "point_latest":
            lookups.setdefault(v, set()).add(r[3])
    con = duck(sf_dir, gen.ROWS.keys() | {"region", "nation"})
    states = lake_states(con, orders, batches, lookups)
    _log("lake states computed")
    oracle = {}
    for name in HEADLINE_OPS:
        op = engine.ops[name]
        oracle[name] = Expected(con.execute(op.oracle).df()) if op.oracle else None
    sql_expected = {
        r[3]: Expected(con.execute(r[3]).df()) for r in plan if r[1] == "sql"
    }
    con.close()
    _log("expected results computed")

    client = Client(tracer, cpu_clock())
    lake = {"version": 1, "written": 0, "submitted": 0, "touched": 0, "files": 0}
    stats = {"lake": lake}

    def commit(path):
        v0 = lake["version"]
        with tracer.span("merge_into", "sources"):
            total, touched = lake_dml.merge_into(
                spark, root, v0, v0 + 1, spark.read.parquet(path)
            )
        lake["files"] += total
        lake["touched"] += touched

    def lake_read(kind, key):
        ver = lake["version"]
        if kind == "agg_as_of":
            ver = max(1, ver - AS_OF_LAG)
        with tracer.span("read_as_of", "sources"):
            df = time_travel.read_as_of(spark, root, ver)
        with tracer.span("collect", "collect"):
            if kind == "point_latest":
                rows = df.where(df.k == key).select("cents").collect()
                return ver, [r[0] for r in rows]
            r = df.selectExpr("count(*)", "CAST(sum(cents) AS BIGINT)").collect()[0]
            return ver, (r[0], r[1])

    def check_read(kind, key, out):
        ver, got = out
        n, total, found = states[ver]
        if kind == "point_latest":
            want = found[key]
            return got == ([] if want is None else [want])
        return tuple(got) == (n, total)

    last_pass = 0
    for r in plan:
        p, kind = r[0], r[1]
        if p != last_pass:
            _jvm_sample(engine, stats)
            last_pass = p
        if kind == "registry":
            name = r[2]
            client.request(
                kind, name, p,
                lambda name=name: run_op(engine, tracer, name, sf_dir),
                lambda df, name=name: oracle[name] is None or oracle[name].matches(df),
            )
        elif kind == "sql":
            sql = r[3]

            def quick(sql=sql):
                with tracer.span("quick_numpy", "api"):
                    return engine.conn.quick_numpy(sql)

            client.request(
                kind, r[2], p, quick,
                lambda arr, sql=sql: sql_expected[sql].matches(arr),
            )
        elif kind == "commit":
            path = batches[lake["version"] - 1]
            before = set(_live(time_travel, root, lake["version"]))
            rec = client.request(
                kind, "merge_into", p, lambda path=path: commit(path), lambda _: True
            )
            if rec.ok:
                lake["version"] += 1
                new = [f for f in _live(time_travel, root, lake["version"]) if f not in before]
                lake["written"] += sum(os.path.getsize(f) for f in new)
                lake["submitted"] += os.path.getsize(path)
                # Untimed check: the committed table matches DuckDB's state.
                n, total, _ = states[lake["version"]]
                got = time_travel.read_as_of(spark, root, lake["version"]).selectExpr(
                    "count(*)", "CAST(sum(cents) AS BIGINT)"
                ).collect()[0]
                if (got[0], got[1]) != (n, total):
                    print(f"mismatch: lake v{lake['version']} {tuple(got)} != {(n, total)}",
                          file=sys.stderr)
                    rec.ok = False
        else:
            kind_r, key = r[2], r[3]
            client.request(
                kind, kind_r, p,
                lambda kind_r=kind_r, key=key: lake_read(kind_r, key),
                lambda out, kind_r=kind_r, key=key: check_read(kind_r, key, out),
            )
    _jvm_sample(engine, stats)

    live = _live(time_travel, root, lake["version"])
    stored = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root) if os.path.basename(d).startswith("data_v")
        for f in fs if f.endswith(".parquet")
    )
    lake.update(
        live_files=len(live),
        live_bytes=sum(os.path.getsize(f) for f in live),
        stored_bytes=stored,
    )
    return client.records, stats


def _live(time_travel, root: str, version: int) -> list[str]:
    return [e["path"] if isinstance(e, dict) else e for e in time_travel.read_manifest(root, version)]


def _jvm_sample(engine, stats: dict) -> None:
    heap, storage = jvm_memory_mb(engine.spark)
    stats["heap_mb"] = max(stats.get("heap_mb", 0.0), heap)
    stats["storage_mb"] = max(stats.get("storage_mb", 0.0), storage)


# -- curation ----------------------------------------------------------------


def component_labels(docs_path: str) -> dict[int, int]:
    """dedup_cluster_components' expected assignment, computed without
    Spark: exact-digest stars plus token-set Jaccard >= COMPONENT_T between
    digest representatives (the edge set the op's DuckDB oracle defines),
    then union-find with the minimum doc id as the label. Only docs with at
    least one edge get a row."""
    t = pq.read_table(docs_path, columns=["doc_id", "text"])
    ids = t.column("doc_id").to_numpy()
    texts = t.column("text").to_pylist()
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        for x in (a, b):
            parent.setdefault(x, x)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    rep: dict[str, int] = {}
    for i, txt in sorted(zip(ids.tolist(), texts)):
        h = hashlib.md5(txt.encode()).hexdigest()
        if h in rep:
            union(rep[h], i)
        else:
            rep[h] = i
    reps = sorted(rep.values())
    text_of = dict(zip(ids.tolist(), texts))
    vocab: dict[str, int] = {}
    sets = [{vocab.setdefault(w, len(vocab)) for w in text_of[i].split(" ")} for i in reps]
    m = np.zeros((len(reps), len(vocab)), dtype=np.float32)
    for r, s in enumerate(sets):
        m[r, list(s)] = 1.0
    inter = m @ m.T
    size = m.sum(axis=1)
    union_sz = size[:, None] + size[None, :] - inter
    a_idx, b_idx = np.nonzero(np.triu(inter.astype(np.float64) / union_sz >= COMPONENT_T, k=1))
    for a, b in zip(a_idx.tolist(), b_idx.tolist()):
        union(reps[a], reps[b])
    return {x: find(x) for x in parent}


def curation_expected(batch_dir: str, ops: dict) -> dict:
    con = duck(batch_dir, ["documents", "embeddings"])
    out = {}
    for name in CURATION_OPS:
        if name == "dedup_cluster_components":
            lab = component_labels(os.path.join(batch_dir, "documents.parquet"))
            out[name] = Expected(
                pd.DataFrame({"doc_id": list(lab), "cluster_id": list(lab.values())})
            )
        else:
            out[name] = Expected(con.execute(ops[name].oracle).df())
    con.close()
    return out


def curation(engine, tracer, seed: int, seconds: float, sf_dir: str, work: str):
    """``seconds / CURATION_BATCH_S`` batches; one batch is one request."""
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    embs = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    client = Client(tracer, cpu_clock())
    stats: dict = {"batches": []}
    for b in range(1, max(1, round(seconds / CURATION_BATCH_S)) + 1):
        bdir = os.path.join(work, f"batch_{b}")
        # Per-batch set-up, untimed: the batch's files and expected results.
        gen.write_curation_batch(seed, b, docs, embs, CURATION_DOCS, CURATION_VECS, bdir)
        expected = curation_expected(bdir, engine.ops)
        op_walls: dict[str, float] = {}

        def batch(bdir=bdir, op_walls=op_walls):
            out = {}
            for name in CURATION_OPS:
                t0 = time.perf_counter()
                out[name] = run_op(engine, tracer, name, bdir)
                op_walls[name] = time.perf_counter() - t0
            return out

        def check(out, expected=expected):
            bad = [n for n in CURATION_OPS if not expected[n].matches(out[n])]
            for n in bad:
                print(f"mismatch: curation {n}", file=sys.stderr)
            return not bad

        rec = client.request("batch", f"batch_{b}", b, batch, check)
        rec.extra["op_walls"] = op_walls
        _log("ops " + " ".join(f"{k}={v:.2f}" for k, v in op_walls.items()))
        stats["batches"].append({"wall": rec.wall, "docs": CURATION_DOCS})
        _jvm_sample(engine, stats)
    return client.records, stats
