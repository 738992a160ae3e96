"""Fleet-wide physical-plan audit: no operator may silently plan a cross
product or broadcast-nested-loop join — the two shapes that are fatal at
100 TB. Ops whose *semantics* are exact pairwise comparison are exempt,
with their scale path named.
"""

from __future__ import annotations

import pytest

from pyspark.sql.types import ArrayType, MapType, StructType

from desdb_spark.registry import all_operators
from tests.conftest import SF_DIR


def _assert_scalar_outputs(df, what: str) -> None:
    """Hash-checked operators must emit only atomic top-level columns:
    the external driver canonicalizes results with pandas ``sort_values``,
    which raises ``TypeError: unhashable type`` on array/map/struct cells
    — the r6 driver ERR on agg_collect_sorted_list (VERDICT r6 item 2).
    String-encode nested results (``array_join`` / ``to_json``) instead.
    """
    nested = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, (
        f"{what} is hash-checked but returns nested top-level columns "
        f"{nested}; the driver canonicalizer crashes on these — "
        "string-encode (array_join / to_json) before returning"
    )

#: r3: formerly exempt knn_cosine_topk / dedup_embedding_cosine now plan
#: mapInPandas GEMM kernels (no join at all) and must pass like everyone
#: else (VERDICT r2 item 3).
EXEMPT: set[str] = set()

#: Ops that launch real streaming jobs inside the builder (their returned
#: DataFrame is a memory-sink read, not the operator's plan). Each one's
#: actual operator graph is audited in test_skip_set_plans below — no
#: registered op is exempt from plan analysis (VERDICT r4 item 7).
SKIP = {
    "stream_late_data_watermark",
    "stream_stateful_profile",
    "stream_stream_enrich_join",
    "stream_stream_left_outer_join",
    "stream_stream_full_outer_join",
    "stream_image_ahash_dedup",
}


#: r12 (VERDICT r11 item 6): ops whose optimized plan repeats an expensive
#: subtree on both sides of a join (desdb_spark.plans.audit lint), audited
#: 2026-08-15 and accepted. The dominant shape is the PPJoin/verify family
#: joining the candidate-pair stream back to one token/sets frame under
#: two different ids — Spark broadcasts that frame under a canonically
#: identical HashedRelationBroadcastMode both times, so ReuseExchange
#: collapses the physical copies; the rest are measured at floor in the
#: committed sf0.1 sweep (BASELINE.md r11 attributions). A NEW name
#: appearing here means a self-join re-executes an un-checkpointed
#: expensive frame — the r11 pathology class (minhash 12.6→2.1 s) — and
#: must be checkpointed or explicitly audited into this set.
AUDITED_REPEATED_SUBTREES = {
    "analytics_basket_lift",
    "ann_recall_report",
    "corpus_source_jaccard",
    "dedup_containment_ngram",
    "dedup_incremental_new_batch",
    "dedup_jaccard_retention_curve",
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "docs_ccnet_ppl_buckets",
    "emb_label_centroid_cosine",
    "emb_quantize_int8",
    "events_markov_entropy_rate",
    "graph_triangle_count",
    "quality_signal_correlation",
    "split_cluster_safe",
    "stat_mad_outliers",
    "text_bigram_interp_logprob",
    "text_char_entropy",
    "text_collocation_lift_topk",
    "text_ngram_novelty_curve",
    "text_phrase_search_positional",
    "text_tfidf_topk",
}


@pytest.mark.parametrize("name", sorted(all_operators()))
def test_no_accidental_cross_products(spark, name):
    op = all_operators()[name]
    if name in SKIP:
        pytest.skip("streaming/ml job runs eagerly; audited by its own test")
    df = op.fn(spark, SF_DIR)
    if op.oracle is not None:
        _assert_scalar_outputs(df, name)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if name in EXEMPT:
        pytest.skip("exact pairwise tier by design; scale path is LSH/IVF")
    assert "CartesianProduct" not in plan, f"{name} plans a cross product"
    assert "BroadcastNestedLoopJoin" not in plan, f"{name} plans a BNLJ"
    if name not in AUDITED_REPEATED_SUBTREES:
        from desdb_spark.plans.audit import repeated_join_subtrees

        repeats = repeated_join_subtrees(df)
        assert not repeats, (
            f"{name} repeats expensive subtree(s) {repeats} on both sides "
            "of a join — each executes twice at runtime; localCheckpoint "
            "the shared frame or audit it into AUDITED_REPEATED_SUBTREES"
        )
    # r12c (SCALING.md §14): an array-source call inside a HOF lambda
    # BODY is re-evaluated per element (interpreted, no hoisting) —
    # O(L²) per row. Bind the array to a projected column or restructure
    # it into a HOF argument (the zip_with shingle kernel).
    from desdb_spark.plans.audit import hof_lambda_recomputed_sources

    recomputed = hof_lambda_recomputed_sources(df)
    assert not recomputed, (
        f"{name} re-evaluates array source(s) {recomputed} inside a "
        "lambdafunction body — per-element recomputation; bind the array "
        "to a column first (see shingles() in extensions/dedup.py)"
    )
    # r14 (docs/SCALING.md §14, the MIRROR trap): a codegen-fused
    # Generate over a bound HOF column re-evaluates the HOF per OUTPUT
    # element — 50× measured at the sf1 span corpus. Explode the HOF
    # expression inline in the generator instead.
    from desdb_spark.plans.audit import codegen_generate_over_hof_column

    fused = codegen_generate_over_hof_column(df)
    assert not fused, (
        f"{name} posexplodes bound HOF column(s) {fused} inside a fused "
        "WholeStageCodegen Generate — the HOF re-evaluates per element; "
        "inline the expression in the generator (span_dedup.py is the "
        "exemplar of the safe shape)"
    )


def test_repeated_subtree_lint_reds_on_planted_offender(spark):
    """The lint itself must fire on the known-bad shape (an expensive
    aggregate self-joined without a checkpoint) and pass the fixed shape
    (same join over the localCheckpoint) — guards against the lint
    silently going blind the way the r10 bench guard did."""
    from pyspark.sql import functions as F

    from desdb_spark.plans.audit import repeated_join_subtrees

    base = spark.range(100).withColumn("k", F.col("id") % 10)
    agg = base.groupBy("k").agg(F.sum("id").alias("s"))
    bad = agg.alias("a").join(agg.alias("b"), F.col("a.k") == F.col("b.k") + 1)
    assert "Aggregate" in repeated_join_subtrees(bad)
    fixed = agg.localCheckpoint()
    ok = fixed.alias("a").join(fixed.alias("b"), F.col("a.k") == F.col("b.k") + 1)
    assert repeated_join_subtrees(ok) == []


def test_hof_lambda_lint_reds_on_planted_offender(spark):
    """The HOF-lambda lint must fire on the known-bad shape (the original
    shingle kernel: split re-referenced inside the transform lambda) and
    pass the bound-column form — same blindness guard as the subtree
    lint above."""
    from pyspark.sql import functions as F

    from desdb_spark.plans.audit import hof_lambda_recomputed_sources

    df = spark.createDataFrame([("a b c d",)], "text string")
    toks = F.split("text", " ")
    bad = df.select(
        F.transform(toks, lambda _, i: F.slice(toks, i + 1, 2)).alias("x")
    )
    assert hof_lambda_recomputed_sources(bad) == ["split("]
    good = df.select(toks.alias("t")).select(
        F.transform(
            F.col("t"), lambda _, i: F.slice(F.col("t"), i + 1, 2)
        ).alias("x")
    )
    assert hof_lambda_recomputed_sources(good) == []
    # sequence( as the HOF's own INPUT (an argument, evaluated once per
    # row) must not be flagged — only lambda-body occurrences are.
    arg_ok = df.select(
        F.transform(
            F.sequence(F.lit(1), F.lit(3)), lambda i: i * 2
        ).alias("x")
    )
    assert hof_lambda_recomputed_sources(arg_ok) == []


def _assert_clean(plan: str, what: str) -> None:
    assert "CartesianProduct" not in plan, f"{what} plans a cross product"
    assert "BroadcastNestedLoopJoin" not in plan, f"{what} plans a BNLJ"
    assert "Join Cross" not in plan, f"{what} analyzes to a cross join"


def test_skip_set_plans(spark):
    """Audit the SKIP ops' real operator graphs (VERDICT r4 item 7 — the
    r4 breakage hid exactly in the exempt set):

    - stream_stream_enrich_join: its operator is the watermarked interval
      join, which runs identically on batch inputs — audit the batch
      twin's *executed* plan (must be an equi-key join with a range
      condition, never a cross/BNLJ).
    - stream_late_data_watermark / stream_stateful_profile: build (never
      start) the actual streaming DataFrames and audit their analyzed
      plans — analysis is exactly the stage where the r4 TIMESTAMP_NTZ
      drift threw, so this also pins the ts-normalization fix.
    """
    from desdb_spark.session import load_table, normalize_events_ts
    from desdb_spark.streaming.stateful import stateful_user_profile
    from desdb_spark.streaming.windows import stream_stream_interval_join

    import pyspark.sql.functions as F

    ev = load_table(spark, SF_DIR, "events")

    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"), F.col("ts").alias("view_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("v_user_id"), F.col("ts").alias("purchase_ts")
    )
    joined = stream_stream_interval_join(
        views, purchases, key="v_user_id", left_ts="view_ts",
        right_ts="purchase_ts", interval="30 minutes", watermark="30 minutes",
    )
    _assert_clean(
        joined._jdf.queryExecution().executedPlan().toString(),
        "stream_stream_enrich_join (batch twin)",
    )
    _assert_scalar_outputs(joined, "stream_stream_enrich_join (batch twin)")

    lv, rp = views.alias("lv"), purchases.alias("rp")
    louter = lv.join(
        rp,
        (F.col("lv.v_user_id") == F.col("rp.v_user_id"))
        & (
            F.col("rp.purchase_ts")
            >= F.col("lv.view_ts") - F.expr("INTERVAL 30 minutes")
        )
        & (
            F.col("rp.purchase_ts")
            <= F.col("lv.view_ts") + F.expr("INTERVAL 30 minutes")
        ),
        "leftOuter",
    )
    _assert_clean(
        louter._jdf.queryExecution().executedPlan().toString(),
        "stream_stream_left_outer_join (batch twin)",
    )
    _assert_scalar_outputs(louter, "stream_stream_left_outer_join (batch twin)")

    fouter = lv.join(
        rp,
        (F.col("lv.v_user_id") == F.col("rp.v_user_id"))
        & (
            F.col("rp.purchase_ts")
            >= F.col("lv.view_ts") - F.expr("INTERVAL 30 minutes")
        )
        & (
            F.col("rp.purchase_ts")
            <= F.col("lv.view_ts") + F.expr("INTERVAL 30 minutes")
        ),
        "fullOuter",
    )
    _assert_clean(
        fouter._jdf.queryExecution().executedPlan().toString(),
        "stream_stream_full_outer_join (batch twin)",
    )
    _assert_scalar_outputs(fouter, "stream_stream_full_outer_join (batch twin)")

    schema = ev.schema
    stream = normalize_events_ts(
        spark.readStream.schema(schema).parquet(f"{SF_DIR}/events.parquet")
    )
    late = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    plan = late._jdf.queryExecution().analyzed().toString()
    _assert_clean(plan, "stream_late_data_watermark")
    assert "EventTimeWatermark" in plan

    profile = stateful_user_profile(stream.select("user_id", "ts", "value"))
    plan = profile._jdf.queryExecution().analyzed().toString()
    _assert_clean(plan, "stream_stateful_profile")
    assert "FlatMapGroupsInPandasWithState" in plan
    _assert_scalar_outputs(profile, "stream_stateful_profile")

    # stream_image_ahash_dedup: build (never start) the streaming graph —
    # two mapInPandas kernels feeding a stateful hash-keyed aggregate.
    from desdb_spark.extensions.multimodal_phash import (
        _HASH_SCHEMA,
        ahash_kernel,
    )

    docs_schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
    media_stream = (
        spark.readStream.schema(docs_schema)
        .parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") % 2 == 0)
        .select("doc_id", F.encode(F.lit("x"), "utf-8").alias("payload"))
        .mapInPandas(ahash_kernel, _HASH_SCHEMA)
        .groupBy("hash_lo", "hash_hi")
        .agg(F.count("*").alias("n_members"))
    )
    plan = media_stream._jdf.queryExecution().analyzed().toString()
    _assert_clean(plan, "stream_image_ahash_dedup")
    assert "MapInPandas" in plan


def test_no_rdd_access_in_engine():
    """The engine must stay at the DataFrame layer: .rdd forces plan
    conversion, skips Arrow, and doesn't exist on Spark Connect. Grep
    the package — the ONLY permitted spelling is inside a comment/string
    (this test reads raw source, so keep those on lines with '#')."""
    import os

    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "desdb_spark")
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as fh:
                for lineno, line in enumerate(fh, 1):
                    code = line.split("#", 1)[0]
                    if ".rdd" in code:
                        offenders.append(f"{path}:{lineno}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_table_memos_go_through_session_memo():
    """Per-table state lives in ``session.memo`` alone: it stamps every
    entry with the table fingerprint and replaces it when the table is
    rewritten. A module that calls ``table_fingerprint(`` itself or keeps
    its own module-level ``_*CACHE*`` dict is a hand-rolled memo, the
    kind that serves stale values after a rewrite. Grep the package
    outside ``session.py`` (comments are ignored)."""
    import os
    import re

    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "desdb_spark")
    cache_dict = re.compile(r"^_\w*CACHE\w*\s*(:[^=]*)?=\s*(\{|dict\()")
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            path = os.path.join(dirpath, fname)
            if not fname.endswith(".py") or path == os.path.join(root, "session.py"):
                continue
            with open(path) as fh:
                for lineno, line in enumerate(fh, 1):
                    code = line.split("#", 1)[0]
                    if "table_fingerprint(" in code or cache_dict.match(code):
                        offenders.append(f"{path}:{lineno}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def _scan_hint_lines(source: str) -> list[int]:
    """Lines of ``F.broadcast(x)`` / ``maybe_broadcast(x, ...)`` calls whose
    ``x`` is a ``load_table(...)`` chain of ``.where``/``.select``/
    ``.filter``/``.alias``, or a name assigned from one in the same
    function."""
    import ast

    def is_scan(node, env, seen=frozenset()):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
            return node.func.id == "load_table"
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr in ("where", "select", "filter", "alias"):
                return is_scan(node.func.value, env, seen)
            return node.func.attr == "load_table"
        if isinstance(node, ast.Name) and node.id not in seen:
            return any(is_scan(v, env, seen | {node.id}) for v in env.get(node.id, ()))
        return False

    def is_hint(fn):
        if isinstance(fn, ast.Name):
            return fn.id == "maybe_broadcast"
        return isinstance(fn, ast.Attribute) and (
            fn.attr == "maybe_broadcast"
            or (fn.attr == "broadcast" and getattr(fn.value, "id", None) == "F")
        )

    lines = set()
    for func in ast.walk(ast.parse(source)):
        if not isinstance(func, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        env: dict[str, list] = {}
        for node in ast.walk(func):
            if isinstance(node, ast.Assign):
                for target in node.targets:
                    if isinstance(target, ast.Name):
                        env.setdefault(target.id, []).append(node.value)
        for node in ast.walk(func):
            if isinstance(node, ast.Call) and is_hint(node.func) and node.args:
                if is_scan(node.args[0], env):
                    lines.add(node.lineno)
    return sorted(lines)


def _conditional_hint_lines(source: str) -> list[int]:
    """Lines of a hint picked by a conditional expression
    (``F.broadcast if cond else ...``) outside ``maybe_broadcast``: a
    private size bound beside Spark's threshold, where the gate belongs
    in ``maybe_broadcast``."""
    import ast

    def is_broadcast(node):
        if isinstance(node, ast.Call):
            node = node.func
        return isinstance(node, ast.Attribute) and (
            node.attr == "broadcast" and getattr(node.value, "id", None) == "F"
        )

    tree = ast.parse(source)
    gate = {
        id(node)
        for func in ast.walk(tree)
        if isinstance(func, ast.FunctionDef) and func.name == "maybe_broadcast"
        for node in ast.walk(func)
    }
    return sorted(
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.IfExp)
        and id(node) not in gate
        and (is_broadcast(node.body) or is_broadcast(node.orelse))
    )


def test_no_broadcast_hint_on_table_scans():
    """One broadcast bound: Spark's ``autoBroadcastJoinThreshold``. The
    planner sizes a (filtered or projected) table scan from its file bytes
    against that threshold, so a hint on a scan only removes its shuffle
    fallback at scale — see ``session.maybe_broadcast`` for the rule. No
    engine-side byte cap may come back either, named or as a conditional
    ``F.broadcast if … else …``."""
    import os

    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "desdb_spark")
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as fh:
                source = fh.read()
            offenders += [f"{path}:{n}: hint on a table scan" for n in _scan_hint_lines(source)]
            offenders += [
                f"{path}:{n}: conditional hint" for n in _conditional_hint_lines(source)
            ]
            for lineno, line in enumerate(source.splitlines(), 1):
                if "MAX_BROADCAST_BYTES" in line or "MAX_BROADCAST_EST" in line:
                    offenders.append(f"{path}:{lineno}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def _package_offenders(find) -> list[str]:
    """``path:line`` for every line ``find(tree, helper_nodes)`` reports in
    a ``desdb_spark/`` module; ``helper_nodes`` holds the ids of the nodes
    inside ``session.py``'s ``read_parquet``, ``parquet_schema`` and
    ``thread_pool``, the one place each mechanism lives."""
    import ast
    import os

    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "desdb_spark")
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            helper = set()
            if path == os.path.join(root, "session.py"):
                helper = {
                    id(node)
                    for func in ast.walk(tree)
                    if isinstance(func, ast.FunctionDef)
                    and func.name in ("read_parquet", "parquet_schema", "thread_pool")
                    for node in ast.walk(func)
                }
            offenders += [f"{path}:{n}" for n in find(tree, helper)]
    return offenders


def _parquet_read_lines(tree, helper) -> list[int]:
    """Lines of a ``<x>.read<...>.parquet(...)`` call (a batch parquet read,
    with or without reader options) outside the helper."""
    import ast

    def reads(node) -> bool:
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute) and node.attr == "read":
                return True
            node = node.func if isinstance(node, ast.Call) else node.value
        return False

    return sorted(
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "parquet"
        and reads(node.func.value)
        and id(node) not in helper
    )


def test_parquet_reads_go_through_the_helper():
    """Every parquet read goes through ``session.read_parquet`` (or
    ``parquet_schema`` for a schema alone): a bare ``spark.read.parquet``
    runs a Spark job to infer a schema the helper reads from one footer on
    the driver (the one-footer rule in ``read_parquet``'s docstring)."""
    offenders = _package_offenders(_parquet_read_lines)
    assert not offenders, "raw parquet reads:\n" + "\n".join(offenders)


def _thread_lines(tree, helper) -> list[int]:
    """Lines naming ``ThreadPoolExecutor``, ``ThreadPool`` or
    ``threading.Thread`` (imported or used) outside the helper."""
    import ast

    pools = {"ThreadPoolExecutor", "ThreadPool"}
    lines = set()
    for node in ast.walk(tree):
        if id(node) in helper:
            continue
        if isinstance(node, ast.ImportFrom):
            names = {a.name for a in node.names}
            if names & pools or (node.module == "threading" and "Thread" in names):
                lines.add(node.lineno)
        elif isinstance(node, ast.Name) and node.id in pools:
            lines.add(node.lineno)
        elif isinstance(node, ast.Attribute) and (
            node.attr in pools
            or (node.attr == "Thread" and getattr(node.value, "id", None) == "threading")
        ):
            lines.add(node.lineno)
    return sorted(lines)


def test_thread_pools_go_through_the_helper():
    """Driver-side thread fan-out goes through ``session.thread_pool``,
    which keeps the session active on the JVM thread the caller's next
    py4j call lands on; a raw pool leaves it undefined there (Python data
    sources then fail to resolve at ``save``)."""
    offenders = _package_offenders(_thread_lines)
    assert not offenders, "raw thread pools:\n" + "\n".join(offenders)


#: The modules that run dense-vector kernels: none may walk score rows
#: one at a time.
_VECTOR_MODULES = {
    "extensions/similarity.py",
    "extensions/mining_ext.py",
    "extensions/bitext_mine.py",
    "extensions/matryoshka_ext.py",
    "extensions/ann_serving.py",
}


def _vector_kernel_lines(tree, module: str) -> list[int]:
    """Lines of ``module`` (a path under ``desdb_spark/``) that bypass the
    similarity helpers: ``rounded_cosine_block`` called or imported
    outside ``similarity.py``, a ``for`` loop over
    ``range(<x>.shape[0])`` in a vector module, or
    ``MAX_EXACT_INDEX_ROWS`` read or imported outside
    ``similarity.choose_tier``."""
    import ast

    home = module == "extensions/similarity.py"
    chooser = {
        id(node)
        for func in ast.walk(tree)
        if home and isinstance(func, ast.FunctionDef) and func.name == "choose_tier"
        for node in ast.walk(func)
    }

    def name(node):
        return getattr(node, "id", None) or getattr(node, "attr", None)

    def rows_of(it):
        return (
            isinstance(it, ast.Call)
            and name(it.func) == "range"
            and any(
                isinstance(a, ast.Subscript)
                and isinstance(a.value, ast.Attribute)
                and a.value.attr == "shape"
                and isinstance(a.slice, ast.Constant)
                and a.slice.value == 0
                for a in it.args
            )
        )

    def imports(node, what):
        return isinstance(node, ast.ImportFrom) and any(a.name == what for a in node.names)

    lines = set()
    for node in ast.walk(tree):
        if not home and (
            (isinstance(node, ast.Call) and name(node.func) == "rounded_cosine_block")
            or imports(node, "rounded_cosine_block")
        ):
            lines.add(node.lineno)
        elif isinstance(node, ast.For) and module in _VECTOR_MODULES and rows_of(node.iter):
            lines.add(node.lineno)
        elif id(node) not in chooser and (
            (isinstance(node, ast.Name) and node.id == "MAX_EXACT_INDEX_ROWS"
             and not isinstance(node.ctx, ast.Store))
            or (isinstance(node, ast.Attribute) and node.attr == "MAX_EXACT_INDEX_ROWS")
            or imports(node, "MAX_EXACT_INDEX_ROWS")
        ):
            lines.add(node.lineno)
    return sorted(lines)


def test_vector_kernels_go_through_the_helper():
    """Every dense-vector op scores through ``similarity.vector_topk``
    (the one place ``rounded_cosine_block`` is called, vectorized — no
    per-row Python loop) and takes its exact/LSH tier from
    ``similarity.choose_tier``, the only reader of the cap."""
    import ast
    import os

    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "desdb_spark")
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            module = os.path.relpath(path, root)
            offenders += [f"{path}:{n}" for n in _vector_kernel_lines(tree, module)]
    assert not offenders, "vector kernels outside the helpers:\n" + "\n".join(offenders)


def test_package_lints_red_on_planted_offenders():
    import ast

    planted = ast.parse(
        "from concurrent.futures import ThreadPoolExecutor\n"
        "import threading\n"
        "def f(spark, p):\n"
        "    a = spark.read.parquet(p)\n"
        "    b = spark.read.option('mergeSchema', 'true').parquet(p)\n"
        "    c = df.sparkSession.read.parquet(p).schema\n"
        "    d = spark.readStream.schema(s).parquet(p)\n"
        "    threading.Thread(target=f).start()\n"
    )
    assert _parquet_read_lines(planted, set()) == [4, 5, 6]
    assert _thread_lines(planted, set()) == [1, 8]

    vectors = ast.parse(
        "from desdb_spark.extensions.similarity import MAX_EXACT_INDEX_ROWS\n"
        "from desdb_spark.extensions.similarity import rounded_cosine_block as rc\n"
        "def choose_tier(n):\n"
        "    return n <= MAX_EXACT_INDEX_ROWS\n"
        "def kernel(Q, M, norms):\n"
        "    S = rounded_cosine_block(Q, norms, M, norms)\n"
        "    for r in range(S.shape[0]):\n"
        "        pass\n"
        "    for r in range(S.shape[1]):\n"
        "        pass\n"
        "    return similarity.MAX_EXACT_INDEX_ROWS\n"
    )
    assert _vector_kernel_lines(vectors, "extensions/mining_ext.py") == [1, 2, 4, 6, 7, 11]
    # similarity.py may call the scorer, and its chooser may read the cap
    assert _vector_kernel_lines(vectors, "extensions/similarity.py") == [1, 7, 11]
    # a module outside the vector set may loop over rows
    assert _vector_kernel_lines(vectors, "extensions/dedup.py") == [1, 2, 4, 6, 11]


#: r9 plan-shape pins for the perf-reworked curation ops: the sf1 bench
#: drove these to specific shuffle budgets (docs/SCALING.md §11), and a
#: refactor that silently reintroduces a join-back, a collect_list
#: object aggregate, or a global sort would show up here as an exchange
#: regression long before anyone re-runs the 10× bench. Budgets are
#: ceilings (AQE may plan fewer).
_R9_EXCHANGE_BUDGET = {
    # r14: one doc-grain exchange feeding the lead-offset key build
    # (the interpreted transform(sequence) HOF was 1.2 s of the 3.8 s
    # sf1 wall; the codegen lead shape measured 4.2 s → 2.9 s median),
    # + the hash-keyed window exchange + the islands exchange; no joins.
    "dedup_exact_substring_spans": 3,
    # one digest aggregation chain + the doc-grain dropped-list shuffle;
    # the reassembly join must stay broadcast.
    "docs_dedup_lines_global": 3,
    # model aggregate over the checkpointed stream + per-doc mean; the
    # ratio join must stay broadcast.
    "docs_dsir_importance_weights": 3,
}


@pytest.mark.parametrize("name", sorted(_R9_EXCHANGE_BUDGET))
def test_r9_reworked_ops_hold_their_shuffle_budget(spark, name):
    import re

    df = all_operators()[name].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex = len(re.findall(r"\bExchange (hash|range|single)", plan))
    assert n_ex <= _R9_EXCHANGE_BUDGET[name], (
        f"{name} plans {n_ex} shuffle exchanges > budget "
        f"{_R9_EXCHANGE_BUDGET[name]} — the r9 rework regressed "
        "(docs/SCALING.md §11)"
    )
    assert "SortMergeJoin" not in plan, f"{name} regressed to a shuffle join"
    # docs_dedup_lines_global legitimately collect_set's the DROPPED
    # (doc_id, line_id) pairs — the min≠max window has already filtered
    # the stream to the small boilerplate side, so that object aggregate
    # never sees corpus-sized input. The other two must stay fully
    # primitive.
    if name != "docs_dedup_lines_global":
        assert "ObjectHashAggregate" not in plan, (
            f"{name} regressed to an object-hash (collect_*) aggregate in "
            "the corpus-sized path"
        )
    # r14: spans' window keys must come from the codegen lead-offset
    # WindowExec, not a per-window HOF lambda (CodegenFallback — the
    # r13 gate breach). A revert to the transform(sequence) build would
    # pass the exchange ceiling (it plans FEWER exchanges) while
    # quietly reinstating the interpreted hot path — pin the shape.
    if name == "dedup_exact_substring_spans":
        assert "lead(" in plan, (
            "spans lost its lead-offset key build — the r14 rework "
            "(interpreted HOF -> codegen WindowExec) was reverted"
        )


#: r12b plan-shape pins for this round's single-pass reworks. The langid
#: pair used to explode the corpus trigram stream TWICE (profile counts
#: + per-doc distinct set); after the per-doc-counts checkpoint the
#: returned plan must read everything from the checkpoint — zero parquet
#: scans — and stay inside a fixed exchange budget (profile re-agg,
#: scoring agg, per-doc argmax window, final sort; ceilings, AQE may
#: plan fewer). A scan or SMJ reappearing means the checkpoint was
#: dropped and the double corpus pass is back (7.9 s → 4.0 s pair at
#: sf0.1 — BASELINE.md r12b attribution).
_R12B_LANGID_PINS = {
    "text_langid_ngram": 5,
    "text_langid_confusion": 5,
}


@pytest.mark.parametrize("name", sorted(_R12B_LANGID_PINS))
def test_r12b_langid_single_pass_pinned(spark, name):
    import re

    df = all_operators()[name].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0, (
        f"{name}'s returned plan re-scans the corpus — the per-doc gram "
        "counts checkpoint was dropped and the trigram explode runs "
        "per-consumer again"
    )
    n_ex = len(re.findall(r"\bExchange (hash|range|single)", plan))
    assert n_ex <= _R12B_LANGID_PINS[name], (
        f"{name} plans {n_ex} exchanges > budget {_R12B_LANGID_PINS[name]}"
    )
    assert "SortMergeJoin" not in plan, (
        f"{name} regressed to a shuffle join — the profile must broadcast"
    )


def test_hof_lambda_lint_survives_wide_projections(spark):
    """ADVICE r12: ``toString()`` elides node field lists past
    ``spark.sql.debug.maxToStringFields`` (default 25) with an
    "... N more fields" marker — an offender sitting past the cutoff in
    a wide projection was silently missed. The lint now raises the conf
    around the render; plant the offender at column ~60 of a wide
    select and require the lint to still fire (and the session conf to
    come back unchanged)."""
    from pyspark.sql import functions as F

    from desdb_spark.plans.audit import hof_lambda_recomputed_sources

    df = spark.createDataFrame([("a b c d",)], "text string")
    toks = F.split("text", " ")
    wide = df.select(
        *[F.lit(i).alias(f"pad_{i}") for i in range(60)],
        F.transform(toks, lambda _, i: F.slice(toks, i + 1, 2)).alias("x"),
    )
    key = "spark.sql.debug.maxToStringFields"
    before = spark.conf.get(key, None)
    assert hof_lambda_recomputed_sources(wide) == ["split("]
    assert spark.conf.get(key, None) == before


def test_hof_lambda_lint_reds_on_unparseable_body(spark):
    """ADVICE r12: a lambda body that outruns the scan cap used to be
    scanned truncated (minus its last character) with no signal — a
    false negative in waiting. The lint now appends the
    UNPARSEABLE_LAMBDA_BODY sentinel so the fleet-wide test reds."""
    import desdb_spark.plans.audit as audit
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a b",)], "text string")
    toks = F.split("text", " ")
    bad = df.select(
        F.transform(toks, lambda _, i: F.slice(toks, i + 1, 2)).alias("x")
    )
    orig = audit._HOF_BODY_CAP
    audit._HOF_BODY_CAP = 10  # force the overrun on any real body
    try:
        offenders = audit.hof_lambda_recomputed_sources(bad)
    finally:
        audit._HOF_BODY_CAP = orig
    assert "UNPARSEABLE_LAMBDA_BODY" in offenders


def test_codegen_generate_hof_lint_reds_on_planted_offender(spark):
    """The fused-Generate lint must fire on the known-bad shape (bind an
    expensive HOF array to a column, then posexplode the COLUMN — the
    r14 profiling anomaly: 105 s vs 4 s at the sf1 span corpus) and
    pass the safe shape (the HOF expression inline in the generator,
    which plans an un-fused Generate evaluating once per input row)."""
    from pyspark.sql import functions as F

    from desdb_spark.plans.audit import codegen_generate_over_hof_column

    base = spark.range(200).select(
        F.col("id"),
        F.split(F.concat_ws(" ", F.lit("a b c d"), F.col("id")), " ").alias("t"),
    )
    keys = F.transform(F.col("t"), lambda x: F.xxhash64(x))
    bad = base.select("id", keys.alias("wk")).select(
        "id", F.posexplode("wk").alias("pos", "h")
    )
    assert codegen_generate_over_hof_column(bad), "lint missed the fused shape"
    good = base.select("id", F.posexplode(keys).alias("pos", "h"))
    assert codegen_generate_over_hof_column(good) == []


def test_codegen_generate_hof_lint_ignores_sibling_hof_columns(spark):
    """A lambdafunction belonging to a SIBLING column in the fused child
    Project must not flag the explode of a plain column — the lint
    scopes its scan to the exploded column's own defining segment."""
    from pyspark.sql import functions as F

    from desdb_spark.plans.audit import codegen_generate_over_hof_column

    base = spark.range(200).select(
        F.col("id"),
        F.split(F.concat_ws(" ", F.lit("a b c"), F.col("id")), " ").alias("t"),
    )
    ok = base.select(
        F.transform(F.col("t"), lambda x: F.xxhash64(x)).alias("hashed"),
        F.col("t").alias("plain"),
    ).select("hashed", F.posexplode("plain").alias("pos", "tok"))
    assert codegen_generate_over_hof_column(ok) == []
