"""North-star extension semantics: planted-duplicate recall, LSH/exact
agreement, multimodal plumbing (SURVEY.md §5.2.3, §7.3.4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from desdb_spark.extensions import (
    ann_lsh,
    dedup,
    dedup_components,
    dedup_near,
    multimodal,
    multimodal_decode,
    similarity,
)
from tests.conftest import SF_DIR


SF_DIR_DOCS = "/root/testdata/sf0.1"  # planted exact dups exist only at sf0.1


def _planted_dup_pairs(docs):
    """Exact-duplicate doc pairs from the fixture (ground truth)."""
    d = docs
    groups = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.collect_list("doc_id").alias("ids"))
        .where(F.size("ids") > 1)
        .collect()
    )
    pairs = set()
    for g in groups:
        ids = sorted(g.ids)
        pairs.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1 :])
    return pairs


def _docs_with_dups(spark):
    from desdb_spark.session import load_table

    return load_table(spark, SF_DIR_DOCS, "documents")


def test_minhash_recall_on_planted_dups(spark):
    d = _docs_with_dups(spark)
    truth = _planted_dup_pairs(d)
    assert truth, "fixture should contain planted duplicates"
    found = {(r.id_a, r.id_b) for r in dedup.minhash_candidate_pairs(d).collect()}
    # Identical docs have identical signatures -> collide in every band.
    assert truth <= found


def test_minhash_verified_pairs_have_high_jaccard(spark):
    d = _docs_with_dups(spark)
    pairs = dedup.minhash_candidate_pairs(d)
    sets = d.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(dedup.shingles(F.col("text"), 3)).alias("toks"),
    )
    verified = dedup.verify_jaccard(pairs, sets, 4, 5)
    truth = _planted_dup_pairs(d)
    got = {(r.id_a, r.id_b) for r in verified.collect()}
    assert truth <= got


def test_simhash_exact_dups_distance_zero(spark):
    d = _docs_with_dups(spark)
    truth = _planted_dup_pairs(d)
    fp = dedup.simhash64(d)
    fps = {r.id: r.fp for r in fp.collect()}
    for a, b in truth:
        assert fps[a] == fps[b]


def test_ann_lsh_recall_vs_exact(spark):
    """Every ANN hit must be a true ≥-threshold pair; recall ≥ 0.5 on the
    fixture's weak-similarity regime (seeded, deterministic)."""
    exact = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in similarity.dedup_embedding_cosine(spark, SF_DIR).collect()
    }
    approx = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in ann_lsh.ann_lsh_bucketed(spark, SF_DIR).collect()
    }
    assert set(approx) <= set(exact)
    if exact:
        assert len(approx) / len(exact) >= 0.5


def test_knn_topk_matches_bruteforce_pairs(spark):
    """Block-matmul top-k ≡ expression-based pairwise top-k."""
    e = similarity.load_table(spark, SF_DIR, "embeddings")
    brute = (
        similarity._pairs(e)
        .orderBy(F.col("cos_sim").desc(), "vec_a", "vec_b")
        .limit(50)
        .collect()
    )
    fast = similarity.knn_cosine_topk(spark, SF_DIR).collect()
    assert [(r.vec_a, r.vec_b) for r in fast] == [(r.vec_a, r.vec_b) for r in brute]
    for f, b in zip(fast, brute):
        assert abs(f.cos_sim - b.cos_sim) < 1e-6


def test_knn_fallback_bucketed_matches_exact(spark, monkeypatch):
    """Past the driver-collect cap, knn_cosine_topk switches to the
    LSH-bucketed exact-within-bucket kernel; on the fixture (seeded
    hyperplanes, deterministic) the fallback recovers the exact top-50."""
    exact = similarity.knn_cosine_topk(spark, SF_DIR).collect()
    monkeypatch.setattr(similarity, "MAX_EXACT_INDEX_ROWS", 1)
    fallback = similarity.knn_cosine_topk(spark, SF_DIR).collect()
    assert [(r.vec_a, r.vec_b) for r in fallback] == [(r.vec_a, r.vec_b) for r in exact]
    for f, b in zip(fallback, exact):
        assert abs(f.cos_sim - b.cos_sim) < 1e-9


def test_dedup_embedding_fallback_recall(spark, monkeypatch):
    """Past the cap, dedup_embedding_cosine runs LSH-gated exact
    verification: every hit is a true pair with the exact sim, and recall
    vs the exact tier stays high at the fallback band geometry."""
    exact = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in similarity.dedup_embedding_cosine(spark, SF_DIR).collect()
    }
    monkeypatch.setattr(similarity, "MAX_EXACT_INDEX_ROWS", 1)
    gated = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in similarity.dedup_embedding_cosine(spark, SF_DIR).collect()
    }
    assert set(gated) <= set(exact)
    for pair, sim in gated.items():
        assert abs(sim - exact[pair]) < 1e-9
    if exact:
        assert len(gated) / len(exact) >= 0.9


def test_multimodal_decode_batches(spark):
    out = multimodal_decode.multimodal_decode_features(spark, SF_DIR).collect()
    assert len(out) == 500
    for r in out[:20]:
        assert r.n_bytes > 0
        assert 16 <= r.width < 80 and 16 <= r.height < 80


def test_multimodal_unknown_type_raises(spark):
    m = multimodal.media_table(spark, SF_DIR).withColumn(
        "media_type", F.lit("video")
    )
    with pytest.raises(Exception, match="no decoder for media_type"):
        m.select("doc_id", "media_type", "payload").mapInPandas(
            multimodal.fake_decode_media, schema=multimodal.DECODE_SCHEMA
        ).collect()


def test_ann_ivf_kmeans_nn_sanity(spark):
    """IVF nn output: no self-matches; sims are valid cosines; and the
    in-cell nearest neighbor is never better than the global exact one."""
    out = similarity.ann_ivf_kmeans(spark, SF_DIR).collect()
    assert out, "IVF should produce neighbors"
    assert all(r.vec_id != r.nn_id for r in out)
    assert all(-1.000001 <= r.cos_sim <= 1.000001 for r in out)
    # Global exact best-sim per vector (from the pairwise helper) bounds
    # the in-cell result from above.
    from pyspark.sql import functions as F
    e = similarity.load_table(spark, SF_DIR, "embeddings")
    pairs = similarity._pairs(e)
    sym = pairs.unionByName(
        pairs.select(
            F.col("vec_b").alias("vec_a"), F.col("vec_a").alias("vec_b"), "cos_sim"
        )
    )
    best = {
        r.vec_a: r.m
        for r in sym.groupBy("vec_a").agg(F.max("cos_sim").alias("m")).collect()
    }
    for r in out:
        assert r.cos_sim <= best[r.vec_id] + 1e-6


def test_connected_components_chain_and_clique(spark):
    """Min-label propagation: a chain merges transitively (A~B, B~C => one
    cluster) and disjoint cliques stay separate."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a bigint, id_b bigint",
    )
    comp = {r.id: r.comp for r in dedup.connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_cluster_components_cover_planted_dups(spark):
    """Every planted exact-dup pair lands in the same cluster, and each
    cluster is labeled by its minimum doc_id."""
    d = _docs_with_dups(spark)
    truth = _planted_dup_pairs(d)
    assert truth
    clusters = {
        r.doc_id: r.cluster_id
        for r in dedup_components.dedup_cluster_components(spark, SF_DIR_DOCS).collect()
    }
    for a, b in truth:
        assert clusters.get(a) == clusters.get(b), (a, b)
    for doc_id, cid in clusters.items():
        assert cid <= doc_id


def test_pipeline_quality_filter_semantics(spark):
    """Survivors respect thresholds and contain no duplicate texts; the
    kept doc of each dup group is the minimum doc_id."""
    from desdb_spark.extensions.text import pipeline_quality_filter
    from desdb_spark.session import load_table

    out = pipeline_quality_filter(spark, SF_DIR_DOCS).collect()
    assert out
    assert all(r.n_chars >= 100 and r.word_density >= 0.05 for r in out)
    kept = {r.doc_id for r in out}
    d = load_table(spark, SF_DIR_DOCS, "documents")
    md5_of = {
        r.doc_id: r.h for r in d.select("doc_id", F.md5("text").alias("h")).collect()
    }
    seen_hashes = [md5_of[i] for i in kept]
    assert len(seen_hashes) == len(set(seen_hashes))  # exact-deduped
    # planted dup pairs: at most one survivor per pair, and it's the min id
    for a, b in _planted_dup_pairs(d):
        assert not (a in kept and b in kept)


def test_ensure_parallelism_conditional(spark, tmp_path):
    """Few-file scans repartition up to defaultParallelism; a scan whose
    file count already covers the cores passes through untouched (the
    100 TB no-op path). Split detection reads inputFiles(), not .rdd."""
    target = spark.sparkContext.defaultParallelism
    single = str(tmp_path / "single")
    spark.range(100).coalesce(1).write.parquet(single)
    boosted = dedup.ensure_parallelism(spark.read.parquet(single))
    # Observe the partitioning without .rdd: count rows per partition id.
    n_parts = (
        boosted.select(F.spark_partition_id().alias("p")).distinct().count()
    )
    assert n_parts > 1  # was 1 scan split; must have been spread
    many = str(tmp_path / "many")
    spark.range(1000).repartition(target + 4).write.parquet(many)
    wide = spark.read.parquet(many)
    assert dedup.ensure_parallelism(wide) is wide
    # In-memory frames expose no files; ensure_parallelism must still
    # return a usable (repartitioned) frame rather than guessing.
    mem = dedup.ensure_parallelism(spark.range(100).coalesce(1))
    assert mem.count() == 100


def test_approx_percentile_within_error_of_exact(spark):
    """The sketch's p50/p90/p99 must land within the accuracy bound of the
    exact percentiles (1/accuracy relative rank error; generous absolute
    tolerance here since groups are small at sf0.001)."""
    from desdb_spark.operators.relational_ext10 import agg_approx_percentile
    from desdb_spark.session import load_table
    from tests.conftest import SF_DIR

    o = load_table(spark, SF_DIR, "orders")
    exact = {
        r.o_orderstatus: r
        for r in o.groupBy("o_orderstatus")
        .agg(
            F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
            F.percentile("o_totalprice", F.lit(0.9)).alias("p90"),
            F.percentile("o_totalprice", F.lit(0.99)).alias("p99"),
        )
        .collect()
    }
    approx = {r.o_orderstatus: r for r in agg_approx_percentile(spark, SF_DIR).collect()}
    assert set(approx) == set(exact)
    for status, a in approx.items():
        e = exact[status]
        for p in ("p50", "p90", "p99"):
            # sketch picks a real sample near the rank: 5% relative slack
            assert abs(getattr(a, p) - getattr(e, p)) <= 0.05 * max(abs(getattr(e, p)), 1)


def test_connected_components_long_chain_converges(spark):
    """Adversarial diameter: a 200-link path collapses to one component in
    the O(log d) alternating rounds, and non-convergence raises instead of
    silently emitting split clusters."""
    import pytest as _pytest

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a bigint, id_b bigint"
    )
    comp = {r.id: r.comp for r in dedup.connected_components(edges).collect()}
    assert len(comp) == n and set(comp.values()) == {1}
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(edges, max_iter=1)


def test_dedup_canonical_text_collapses_plants(spark):
    """Every planted re-cased/re-padded copy must collapse onto its source
    doc (n_copies == 2, keeper is the original id), and the fixture text
    must stay ASCII — lower∘upper identity is what makes the Spark plant
    and the DuckDB oracle plant produce the same canonical key."""
    from desdb_spark.extensions import dedup_ext
    from desdb_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    n_ascii_violations = docs.where(
        F.col("text").rlike(r"[^\x00-\x7F]")
    ).count()
    assert n_ascii_violations == 0
    n_planted = docs.where(F.col("doc_id") % 50 == 0).count()
    assert n_planted > 0
    groups = dedup_ext.dedup_canonical_text(spark, SF_DIR).collect()
    assert len(groups) == n_planted
    assert all(g.n_copies == 2 for g in groups)
    assert all(g.keep_doc_id < 1_000_000 for g in groups)


def test_priority_sample_estimator_unbiasedness(spark):
    """Duffield et al.: Σ max(w, τ) over the sample estimates Σ w over
    the population. Deterministic fixture → pin a tight relative error."""
    from desdb_spark.extensions import sampling_ext
    import pyspark.sql.functions as F
    from desdb_spark.session import load_table

    s = sampling_ext.sample_priority_weighted(spark, SF_DIR)
    est = s.agg(F.sum("est_weight")).first()[0]
    total = load_table(spark, SF_DIR, "documents").agg(F.sum("n_chars")).first()[0]
    assert abs(est - total) / total < 0.15, (est, total)
    assert s.count() == 200


def test_priority_sample_plans_take_ordered(spark):
    """Top-(n+1) must be per-partition heaps (TakeOrderedAndProject),
    never a global sort of the corpus."""
    from desdb_spark.extensions import sampling_ext

    plan = (
        sampling_ext.sample_priority_weighted(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan, plan


def test_fixed_n_per_group_counts_and_group_limit(spark):
    """Exactly 20 rows per language, and the rank filter must push into
    the sort as a per-group running limit (WindowGroupLimit)."""
    from desdb_spark.extensions import sampling_ext
    import pyspark.sql.functions as F

    s = sampling_ext.sample_fixed_n_per_group(spark, SF_DIR)
    counts = {r["lang"]: r["n"] for r in s.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts and all(n == 20 for n in counts.values()), counts
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_weyl_uniform_deterministic_and_in_range(spark):
    """u ∈ (0, 1] and stable across evaluations (the reproducibility
    contract every sampling op leans on)."""
    from desdb_spark.extensions.sampling_ext import weyl_uniform
    import pyspark.sql.functions as F

    df = spark.range(0, 5000).select(weyl_uniform(F.col("id")).alias("u"))
    lo, hi = df.agg(F.min("u"), F.max("u")).first()
    assert 0.0 < lo and hi <= 1.0
    a = [r.u for r in df.collect()]
    b = [r.u for r in df.collect()]
    assert a == b


def test_zipf_slope_negative_power_law(spark):
    """A word-frequency ranking must fit a decreasing power law: slope
    strictly negative with a meaningful R^2 on the fixture corpus."""
    from desdb_spark.extensions import corpus_stats

    row = corpus_stats.corpus_zipf_slope(spark, SF_DIR).first()
    # The synthetic fixture vocabulary is tiny (~31 words) and nearly
    # uniform, so only the sign and fit-range invariants are assertable.
    assert row["n_vocab"] >= 20
    assert row["zipf_slope"] < 0, row
    assert 0.0 <= row["r2"] <= 1.0


def test_label_entropy_bounds(spark):
    """0 <= entropy <= ln(n_langs); 0 <= gini < 1; doc counts add up."""
    import math

    from desdb_spark.extensions import corpus_stats

    rows = corpus_stats.corpus_label_entropy(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["entropy"] <= math.log(r["n_langs"]) + 1e-6, r
        assert 0.0 <= r["gini"] < 1.0
        assert r["n_docs"] > 0


def test_winsorized_stats_clamp_fraction(spark):
    """The [p05, p95] clamp touches at most ~10% of each group (by
    definition of discrete percentiles) and the winsorized mean lies
    within the clamp bounds; the bounds table must broadcast."""
    from desdb_spark.extensions import corpus_stats

    df = corpus_stats.docs_winsorized_stats(spark, SF_DIR)
    for r in df.collect():
        assert r["n_clamped"] <= 0.11 * r["n_docs"] + 2, r
        assert r["p05"] <= r["wins_mean"] <= r["p95"], r
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_shingles_zipwith_matches_transform_reference(spark):
    """The r12c zip_with shingle kernel must be bit-identical to the
    original transform-lambda form (the 5-6× slower reference below —
    its lambda re-evaluates the split subtree per element) for every n
    and for the edge shapes: empty text, fewer tokens than n, exactly n
    tokens, trailing separator (split keeps the empty token), and NULL
    text (both forms propagate NULL through filter)."""

    def reference(text, n):
        toks = F.split(text, " ")
        return F.filter(
            F.transform(
                toks,
                lambda _, i: F.when(
                    i + n <= F.size(toks),
                    F.concat_ws(" ", F.slice(toks, i + 1, n)),
                ),
            ),
            lambda s: s.isNotNull(),
        )

    edge = spark.createDataFrame(
        [("",), ("a",), ("a b",), ("a b c",), ("a b c ",), ("á ß 漢 d",),
         (None,)],
        "text string",
    )
    from desdb_spark.session import load_table

    corpus = load_table(spark, SF_DIR, "documents").select("text").limit(500)
    for frame in (edge, corpus):
        for n in (1, 2, 3, 5):
            # Null-safe equality (<=>): a plain ==/isNull combination
            # evaluates to NULL when exactly one side is NULL and WHERE
            # silently drops the row — the test would miss a
            # null-vs-array divergence.
            bad = frame.select(
                dedup.shingles(F.col("text"), n).alias("got"),
                reference(F.col("text"), n).alias("want"),
            ).where(~F.col("got").eqNullSafe(F.col("want")))
            assert bad.count() == 0, f"n={n}: {bad.take(3)}"


def test_ngram_jaccard_distinct_precondition_guard(spark):
    """``prefix_filtered_pairs`` takes n = size(toks) and ``verify_jaccard``
    derives |A∪B| as |A|+|B|−|A∩B|; both hold only for DUPLICATE-FREE
    arrays. The guard finds a violating row without touching the
    production plan; it must red on a planted duplicate-carrying frame
    and clear the set frame every kernel caller builds (replicated
    pre-checkpoint: a checkpoint cannot reintroduce duplicates, and the
    construction expression is what a future edit would break)."""
    from desdb_spark.extensions import dedup

    planted = spark.createDataFrame(
        [(1, ["a b c", "a b c", "b c d"]), (2, ["x y z"])],
        "id bigint, toks array<string>",
    )
    assert dedup.distinct_set_violations(planted) == 1

    from desdb_spark.session import load_table

    d = load_table(spark, SF_DIR, "documents").limit(200)
    token_sets = F.array_distinct(F.split("text", " ")).alias("toks")
    shingle_sets = F.array_distinct(dedup.shingles(F.col("text"), 3)).alias("toks")
    ids = d.select(F.col("doc_id")).limit(50)
    callers = {
        # dedup_ngram_jaccard: every doc's token set.
        "dedup_ngram_jaccard": d.select(F.col("doc_id").alias("id"), token_sets),
        # dup_edges (dedup_cluster_components, split_cluster_safe) and the
        # retention curve: one class representative's token set per
        # identical-set class.
        "class_representatives": d.select(F.col("doc_id").alias("id"), token_sets)
        .groupBy(F.xxhash64(F.sort_array("toks")).alias("h"))
        .agg(F.min("id").alias("id"), F.min_by("toks", "id").alias("toks"))
        .select("id", "toks"),
        # dedup_minhash_eval: every doc's 3-shingle set.
        "dedup_minhash_eval": d.select(F.col("doc_id").alias("id"), shingle_sets),
        # dedup_near_minhash: candidate docs' 3-shingle sets.
        "dedup_near_minhash": d.join(ids, "doc_id", "left_semi").select(
            F.col("doc_id").alias("id"), shingle_sets
        ),
    }
    for caller, frame in callers.items():
        assert dedup.distinct_set_violations(frame) == 0, caller
