"""Output identity and plan-shape pins for the curation operators' plan
rewrites: the one-SQL-expression LSH signature, the window-min star
rounds, and the digest-free duplicate edge set.

Each rewrite must leave outputs unchanged, so the identity tests compare
against an independent form (the Column-tree signature built here, a
Python union-find over the full duplicate definition); the plan pins
hold the driver and stage savings in place."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from desdb_spark.extensions import ann_lsh, dedup, similarity
from desdb_spark.extensions.dedup_components import dup_edges
from desdb_spark.plans.audit import count_py4j_calls
from desdb_spark.session import DEFAULT_SF_DIR as SF01
from desdb_spark.session import load_table


# ------------------------------------------------------------ LSH signature


def _column_form_signature(eq, planes):
    """The Column-tree signature the SQL form replaced: one literal per
    plane weight, one ``zip_with``/``aggregate`` per plane."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(eq, F.array(*[F.lit(int(w)) for w in p]), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda s, v: s + v,
            )
            >= 0,
            "1",
        ).otherwise("0")
        for p in planes
    ]
    return F.concat(*bits)


def test_lsh_signature_sql_matches_column_form(spark):
    bands, bits = 8, 4
    planes = similarity.quantized_planes(64, bands * bits)
    eq = load_table(spark, SF01, "embeddings").select(
        F.col("vec_id").alias("id"),
        similarity.quantize_embedding(F.col("embedding").cast("array<double>")).alias("eq"),
    )

    def banded(sig):
        return eq.select(
            "id",
            F.posexplode(
                F.array(*[sig(planes[b * bits : (b + 1) * bits]) for b in range(bands)])
            ).alias("band", "sig"),
        )

    old = banded(lambda p: _column_form_signature(F.col("eq"), p))
    new = banded(lambda p: similarity.lsh_signature("eq", p))
    assert new.schema == old.schema
    n = old.count()
    assert n == new.count() == 8 * eq.count() > 0
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_ann_lsh_plan_build_py4j_calls(spark):
    """fn() of ann_lsh_bucketed builds its plan in well under 2 000 py4j
    calls; the per-literal Column form took ~15.7k."""
    ann_lsh.ann_lsh_bucketed(spark, SF01)  # warm the table/plan caches
    with count_py4j_calls(spark) as n:
        ann_lsh.ann_lsh_bucketed(spark, SF01)
    assert 0 < n.calls < 2_000, n.calls


def test_count_py4j_calls_restores_client(spark):
    client = spark.sparkContext._gateway._gateway_client
    with count_py4j_calls(spark) as outer:
        with count_py4j_calls(spark) as inner:
            spark.range(1).columns
        assert inner.calls > 0
        spark.range(1).columns
    assert outer.calls > inner.calls
    assert "send_command" not in vars(client)


# --------------------------------------------------------------- star rounds


def _shuffle_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan()
    if "AdaptiveSparkPlan" in plan.nodeName():
        plan = plan.initialPlan()
    n = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Exchange":
            n += 1
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return n


def test_star_round_initial_plan_exchanges(spark):
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 5)], "src bigint, dst bigint"
    ).localCheckpoint()
    round_ = dedup._small_star(dedup._large_star(e))
    assert _shuffle_exchanges(round_) <= 3


def test_star_round_matches_groupby_form(spark):
    """One alternating round equals the groupBy + join-back definition of
    large-star then small-star, as a set, on a graph with hubs, chains and
    both orientations of an edge."""
    rows = [(1, 5), (5, 1), (5, 9), (9, 2), (2, 7), (7, 3), (3, 8), (8, 6),
            (10, 11), (11, 12), (12, 10), (20, 30), (30, 40), (40, 25)]
    e = spark.createDataFrame(rows, "src bigint, dst bigint")

    def large(edges):
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        return {(v, min(nb | {u})) for u, nb in adj.items() for v in nb if v > u}

    def small(edges):
        adj = {}
        for a, b in edges:
            if a != b:
                hi, lo = max(a, b), min(a, b)
                adj.setdefault(hi, set()).add(lo)
        out = set()
        for u, nb in adj.items():
            m = min(nb)
            out |= {(v, m) for v in nb} | {(u, m)}
        return {(a, b) for a, b in out if a != b}

    want = small(large(set(rows)))
    got = dedup._small_star(dedup._large_star(e)).collect()
    assert len(got) == len(want)
    assert {(r.src, r.dst) for r in got} == want


# ------------------------------------------------------------ dup components


def _planted_corpus():
    """Exact copies, token-reordered copies, near-dups exactly at J = 0.8
    and just below it, a long chain (consecutive J = 9/11, two apart
    J = 8/12), repeated tokens, empty and double-space texts, NULL text,
    and singletons."""
    rows = []
    nid = iter(range(1000, 100000, 7))

    def add(text):
        rows.append((next(nid), text))

    base = [f"t{i}" for i in range(12)]
    for _ in range(3):
        add(" ".join(base))  # exact copies
    add(" ".join(reversed(base)))  # reordered: same token set
    add(" ".join(base + base[:3]))  # repeated tokens: same token set
    core = [f"c{i}" for i in range(8)]
    add(" ".join(core + ["ua"]))
    add(" ".join(core + ["ub"]))  # J = 8/10 = 0.8 with the previous doc
    add(" ".join(core + ["ub"]))  # exact copy of a near-dup member
    low = [f"l{i}" for i in range(7)]
    add(" ".join(low + ["va"]))
    add(" ".join(low + ["vb"]))  # J = 7/9 < 0.8: no edge
    vocab = [f"s{i}" for i in range(60)]
    for k in range(40):
        add(" ".join(vocab[k : k + 10]))  # chain
    add(" ".join(reversed(vocab[20:30])))  # reordered chain member
    add("")
    add("")
    add("x  y")
    add("y x ")  # same token set as "x  y": {x, y, ""}
    add(None)
    add(None)
    for k in range(5):
        add(f"lone{k} alone{k}")
    return rows


def _union_find_labels(rows):
    """Digest stars + identical-token-set stars + every verified
    token-Jaccard >= 0.8 pair between digest representatives, labelled
    by the component's minimum id; only ids with an edge get a label."""
    parent = {}

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

    digest_min = {}
    for i, text in sorted(r for r in rows if r[1] is not None):
        h = hashlib.md5(text.encode()).hexdigest()
        if h in digest_min:
            union(digest_min[h], i)
        else:
            digest_min[h] = i
    reps = sorted(digest_min.values())
    text_of = dict(rows)
    sets = {i: frozenset(text_of[i].split(" ")) for i in reps}
    class_min = {}
    for i in reps:
        if sets[i] in class_min:
            union(class_min[sets[i]], i)
        else:
            class_min[sets[i]] = i
    for x, a in enumerate(reps):
        for b in reps[x + 1 :]:
            inter = len(sets[a] & sets[b])
            if 5 * inter >= 4 * (len(sets[a]) + len(sets[b]) - inter):
                union(a, b)
    return {x: find(x) for x in parent}


def test_dup_edges_components_match_union_find(spark):
    rows = _planted_corpus()
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.id: r.comp for r in dedup.connected_components(dup_edges(d)).collect()
    }
    want = _union_find_labels(rows)
    assert got == want
    # The planted structure is really there: one chain component of 41,
    # the J = 0.8 pair joined, the J = 7/9 pair and NULL texts apart.
    sizes = sorted({c: list(want.values()).count(c) for c in want.values()}.values())
    assert sizes[-1] == 41
    null_ids = {i for i, t in rows if t is None}
    assert not null_ids & set(got)
