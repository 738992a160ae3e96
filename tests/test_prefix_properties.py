"""Property test (hypothesis) for the PPJoin-style prefix filter: the
losslessness lemma `prefix_filtered_pairs` relies on (extensions/dedup.py)
must hold on arbitrary corpora, not just the fixture — every pair with
set Jaccard ≥ t MUST appear among the candidates, for each set family the
callers pass (token sets and 3-shingle sets). (The filter may emit extra
candidates; it must never miss one — the verification stage removes false
positives, but a false negative is silent data loss.)
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from desdb_spark.extensions.dedup import prefix_filtered_pairs, shingles

#: Small token alphabet forces collisions/overlap so qualifying pairs
#: actually occur; varied doc lengths exercise the ⌈t·n⌉ integer edge
#: cases (exact multiples like 0.9·10 are the classic float-rounding bug).
TOKENS = ["a", "b", "c", "d", "e", "f"]

docs_strategy = st.lists(
    st.lists(st.sampled_from(TOKENS), min_size=1, max_size=10),
    min_size=2,
    max_size=7,
)

thresholds = st.sampled_from([(1, 2), (2, 3), (4, 5), (9, 10)])


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=docs_strategy, t=thresholds)
def test_prefix_filter_never_misses_a_qualifying_pair(spark, docs, t):
    t_num, t_den = t
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # Each family: the set frame the kernel's callers build, and the
    # brute-force sets with the SAME tokenization (split on ' ').
    families = {
        "tokens": (
            F.array_distinct(F.split("text", " ")),
            {i: set(text.split(" ")) for i, text in rows},
        ),
        "3-shingles": (
            F.array_distinct(shingles(F.col("text"), 3)),
            {
                i: {" ".join(toks[k : k + 3]) for k in range(len(toks) - 2)}
                for i, toks in enumerate(docs)
            },
        ),
    }
    for family, (elems, sets) in families.items():
        frame = df.select(F.col("doc_id").alias("id"), elems.alias("toks"))
        cands = {
            (r.id_a, r.id_b)
            for r in prefix_filtered_pairs(frame, t_num=t_num, t_den=t_den).collect()
        }
        for a in range(len(docs)):
            for b in range(a + 1, len(docs)):
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if union and inter * t_den >= t_num * union:
                    assert (a, b) in cands, (
                        f"qualifying {family} pair {(a, b)} (jaccard "
                        f"{inter}/{union}, t={t_num}/{t_den}) missed by the "
                        "prefix filter"
                    )


def _union_find_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=15),
            st.integers(min_value=1, max_value=15),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """The large-star/small-star rewrite must agree with a reference
    union-find on arbitrary graphs (self-loops, duplicates, multi-
    component, cycles - whatever hypothesis throws)."""
    from desdb_spark.extensions.dedup import connected_components

    real_edges = [(a, b) for a, b in edges if a != b]
    if not real_edges:
        return
    nodes = sorted({x for e in real_edges for x in e})
    df = spark.createDataFrame(real_edges, "id_a bigint, id_b bigint")
    got = {r.id: r.comp for r in connected_components(df).collect()}
    want = _union_find_components(real_edges, nodes)
    assert got == want
