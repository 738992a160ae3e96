"""Operator registry — the single source of truth for the driver contract.

Every operator from SURVEY.md §2B registers here with its PySpark
implementation and (when hash-checkable) its DuckDB oracle SQL, so the
engine and its differential oracle live side by side (SURVEY.md §7.0).
``__spark_entry__.py`` builds ``queries()`` / ``oracle_sql()`` from this.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Operator:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL; None → driver does rows-only check
    group: str = ""
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    #: Largest scale factor at which the oracle is tractable for DuckDB
    #: (None = unbounded). The driver runs at sf0.01, unaffected; past the
    #: cap tools/selfcheck.py checks rows only (a transitive-closure oracle
    #: is quadratic in component size, the Spark star rounds are not).
    oracle_max_sf: float | None = None


_REGISTRY: dict[str, Operator] = {}

#: Modules that register operators on import (SURVEY.md §2B groups).
#: ORDER MATTERS: ``all_operators()`` lists operators in this module order,
#: and the external differential driver hash-checks only the first 50 of
#: them, so the modules leading this tuple choose which operators it
#: verifies; ``tools/selfcheck.py`` checks every operator as the backstop.
#: tests/test_registry.py::test_r17_window_pinned pins the first 50 slots,
#: so a reorder is a deliberate change made together with that pin.
_OP_MODULES = (
    # --- r17 window: changed-plan slots (17 ops, 11 modules) ---
    # This optimization round's plan changes: the prefix-pair kernel's
    # explicit-width dedup (dedup / dedup_curve / dedup_components /
    # dedup_eval consumers), the compaction staging rework, and the
    # values_frame VALUES-emit conversions (scans, observability,
    # classifier_ext, bpe_train, lake_bloom). matryoshka_ext is the r16
    # changed-plan exception (shared rounded-cosine kernel) promised a
    # r17 slot by VERDICT r16 item 8. Rows-only riders: schema_describe,
    # quality_logreg_train, text_bpe_apply_stats, text_bpe_train_merges
    # (property pins listed in WINDOW_r17.log).
    "desdb_spark.extensions.dedup",  # 2 ops — r17 kernel pair-dedup exchange (dedup_ngram_jaccard rider: dedup_exact_docs)
    "desdb_spark.extensions.dedup_curve",  # 1 op — r17 pushdown-dup fix + VALUES emit + kernel
    "desdb_spark.extensions.dedup_components",  # 1 op — r17 kernel consumer, wrapper dropped
    "desdb_spark.extensions.dedup_eval",  # 1 op — r17 single-pass verify + VALUES emit
    "desdb_spark.sources.compaction",  # 1 op — r17 hash-partitioned staging + FS file count
    "desdb_spark.operators.scans",  # 4 ops — r17 VALUES emit; schema_describe rows-only rider
    "desdb_spark.operators.observability",  # 1 op — r17 VALUES emit
    "desdb_spark.extensions.classifier_ext",  # 2 ops — r17 VALUES emit; quality_logreg_train rows-only
    "desdb_spark.extensions.bpe_train",  # 2 ops — r17 VALUES emit; both rows-only
    "desdb_spark.sources.lake_bloom",  # 1 op — r17 VALUES probe frame
    "desdb_spark.extensions.matryoshka_ext",  # 1 op — r16 shared-kernel exception (VERDICT r16 item 8)
    # --- r17 window: oldest-green r8 fills (the deferred r16 wave) ---
    "desdb_spark.operators.hierarchy_ext",  # r8 vintage
    "desdb_spark.operators.pagination_ext",  # r8 vintage
    "desdb_spark.streaming.outer_join",  # r8 vintage
    "desdb_spark.extensions.dedup_incremental",  # r8 vintage
    "desdb_spark.extensions.calibration_ext",  # r8 vintage
    "desdb_spark.extensions.boilerplate_ext",  # r8 vintage
    "desdb_spark.extensions.seasonal_ext",  # r8 vintage
    "desdb_spark.operators.asof_ext",  # r8 vintage
    "desdb_spark.extensions.sampling_ext2",  # r8 vintage
    "desdb_spark.extensions.bot_ext",  # r8 vintage
    "desdb_spark.extensions.decontam_ext",  # r8 vintage
    "desdb_spark.extensions.engagement_ext",  # r8 vintage
    "desdb_spark.sources.sinks",  # r8 vintage
    # --- r17 window: oldest-green r10 fills (knapsack exact-fit to 50) ---
    "desdb_spark.extensions.multimodal_decode",  # r10 vintage
    "desdb_spark.extensions.multimodal_ext",  # r10 vintage
    "desdb_spark.extensions.dedup_semantic",  # r10 vintage
    "desdb_spark.extensions.dedup_url",  # r10 vintage
    "desdb_spark.extensions.decontam_short",  # r10 vintage
    "desdb_spark.extensions.quality_gopher",  # r10 vintage
    "desdb_spark.extensions.bootstrap_ext",  # r10 vintage
    "desdb_spark.sources.time_travel",  # r10 vintage
    "desdb_spark.sources.lake_dml",  # r10 vintage
    "desdb_spark.streaming.merge_sink",  # r10 vintage
    # --- end of r17 window. Everything below holds a driver row from
    # the round named in SURVEY §2C (the r16 window modules lead —
    # their rows are CORRECTNESS_r16-fresh), code unchanged since or
    # re-proven at HEAD by this round's full-registry selfcheck logs;
    # prior relative order preserved.
    "desdb_spark.extensions.similarity",
    "desdb_spark.extensions.bitext_mine",
    "desdb_spark.extensions.mining_ext",
    "desdb_spark.extensions.line_dedup",
    "desdb_spark.operators.temporal_ext",
    "desdb_spark.operators.allocation",
    "desdb_spark.streaming.windowed_topk",
    "desdb_spark.extensions.text",
    "desdb_spark.extensions.analytics_ext5",
    "desdb_spark.streaming.stateful",
    "desdb_spark.extensions.linalg_ext",
    "desdb_spark.extensions.skyline",
    "desdb_spark.extensions.tokenizer_ext",
    "desdb_spark.extensions.attribution",
    "desdb_spark.operators.stats_catalog",
    "desdb_spark.extensions.stats_inference",
    "desdb_spark.extensions.funnel_ext",
    "desdb_spark.extensions.experiment_ext",
    "desdb_spark.extensions.analytics_ext2",
    "desdb_spark.extensions.sweepline_ext",
    "desdb_spark.extensions.monitor_ext2",
    "desdb_spark.extensions.analytics_ext3",
    "desdb_spark.operators.aggregates_ext2",
    "desdb_spark.extensions.resampling_ext",
    "desdb_spark.extensions.analytics_ext4",
    "desdb_spark.extensions.markov_ext",
    "desdb_spark.functions.safe_funcs",
    "desdb_spark.extensions.span_dedup",
    "desdb_spark.extensions.retrieval_ext2",
    "desdb_spark.extensions.ann_pq",
    "desdb_spark.extensions.ann_serving",
    "desdb_spark.extensions.ann_eval",
    "desdb_spark.streaming.foreach",
    "desdb_spark.sources.formats_ext2",
    "desdb_spark.extensions.timeseries_ext",
    "desdb_spark.sources.lake_ext",
    "desdb_spark.operators.diagnostics",
    "desdb_spark.sources.ingest_ext",
    "desdb_spark.plans.lineage",
    "desdb_spark.extensions.quality_gates",
    "desdb_spark.operators.relational_ext9",
    "desdb_spark.extensions.retrieval_ext",
    "desdb_spark.sources.formats_ext3",
    "desdb_spark.functions.modern_types",
    "desdb_spark.extensions.curriculum",
    "desdb_spark.operators.joins_ext2",
    "desdb_spark.extensions.sampling_ext",
    "desdb_spark.extensions.corpus_stats",
    "desdb_spark.extensions.graph_ext",
    "desdb_spark.extensions.sketches_ext",
    "desdb_spark.extensions.linkage_ext",
    "desdb_spark.sources.layout_ext",
    "desdb_spark.operators.incremental",
    "desdb_spark.extensions.constraints",
    "desdb_spark.streaming.resume",
    "desdb_spark.operators.reconcile",
    "desdb_spark.sources.schema_evolution",
    "desdb_spark.streaming.static_join",
    "desdb_spark.operators.cdc",
    "desdb_spark.operators.joins_ext",
    "desdb_spark.operators.temporal",
    "desdb_spark.extensions.quality_ext",
    "desdb_spark.operators.relational_ext",
    "desdb_spark.operators.relational_ext7",
    "desdb_spark.operators.relational_ext6",
    "desdb_spark.extensions.text_ext",
    "desdb_spark.extensions.stats_monitor",
    "desdb_spark.sources.formats_ext",
    "desdb_spark.operators.relational_ext11",
    "desdb_spark.operators.relational_ext8",
    "desdb_spark.operators.relational_ext10",
    "desdb_spark.extensions.dedup_ext",
    "desdb_spark.streaming.joins",
    "desdb_spark.extensions.dedup_near",
    "desdb_spark.extensions.pipeline_ext",
    "desdb_spark.sources.pyds_sink",
    "desdb_spark.extensions.corpus_timeseries",
    "desdb_spark.sources.lake",
    "desdb_spark.operators.relational_ext3",
    "desdb_spark.operators.relational_ext5",
    "desdb_spark.operators.relational_ext4",
    "desdb_spark.extensions.pipeline_analytics",
    "desdb_spark.extensions.training_prep",
    "desdb_spark.operators.relational_ext2",
    "desdb_spark.extensions.dsir_ext",
    "desdb_spark.extensions.ann_lsh",
    "desdb_spark.extensions.dedup_containment",
    "desdb_spark.extensions.graph_pagerank",
    "desdb_spark.operators.aggregates",
    "desdb_spark.operators.windows",
    "desdb_spark.operators.sorts_sets",
    "desdb_spark.functions.scalars",
    "desdb_spark.streaming.windows",
    "desdb_spark.functions.udfs",
    "desdb_spark.extensions.retrieval_ext3",
    "desdb_spark.extensions.semdedup_curve",
    "desdb_spark.extensions.privacy_ext",
    "desdb_spark.extensions.ccnet_buckets",
    "desdb_spark.extensions.epoch_schedule",
    "desdb_spark.extensions.dupmass_curve",
    "desdb_spark.extensions.sharding_ext",
    "desdb_spark.extensions.signal_corr",
    "desdb_spark.extensions.hapax_ext",
    "desdb_spark.operators.footer_census",
    "desdb_spark.extensions.shard_budget",
    "desdb_spark.extensions.loop_detect",
    "desdb_spark.extensions.doremi_ext",
    "desdb_spark.extensions.bloom_dedup",
    "desdb_spark.extensions.multimodal",
    "desdb_spark.sources.filecatalog",
    "desdb_spark.sources.roundtrips",
    "desdb_spark.operators.projections",
    "desdb_spark.operators.joins",
    "desdb_spark.operators.aggregates_ext",
    "desdb_spark.functions.paths",
    "desdb_spark.sources.lake_maintenance",
    "desdb_spark.extensions.sequence_ext",
    "desdb_spark.sources.lake_ivm",
    "desdb_spark.sources.lake_zorder",
    "desdb_spark.sources.lake_txn",
    "desdb_spark.extensions.multimodal_audio",
    "desdb_spark.extensions.lm_score",
    "desdb_spark.extensions.split_safe",
    "desdb_spark.extensions.ann_binary",
    "desdb_spark.sources.lake_partition_evo",
    "desdb_spark.extensions.novelty_ext",
    "desdb_spark.extensions.multimodal_phash",
    "desdb_spark.operators.asof_tolerance",
    "desdb_spark.extensions.waterfill_ext",
    "desdb_spark.streaming.media_dedup",
    "desdb_spark.extensions.span_rewrite",
    "desdb_spark.extensions.multimodal_vad",
    "desdb_spark.operators.asof_nearest",
    "desdb_spark.operators.rolling_regression",
)


def register(
    name: str,
    oracle: str | None = None,
    group: str = "",
    tags: tuple[str, ...] = (),
    oracle_max_sf: float | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate operator name: {name}")
        _REGISTRY[name] = Operator(
            name=name,
            fn=fn,
            oracle=oracle,
            group=group,
            doc=fn.__doc__ or "",
            tags=tags,
            oracle_max_sf=oracle_max_sf,
        )
        return fn

    return deco


def _load_all() -> None:
    for mod in _OP_MODULES:
        importlib.import_module(mod)


def all_operators() -> dict[str, Operator]:
    """Import every operator module and return the full registry in
    CANONICAL order: _OP_MODULES position, then source order within the
    module.

    Raw ``_REGISTRY`` insertion order is import order, and anything that
    imports an operator module directly (tests, a user script) before
    this runs would shift the 50-slot driver window — the registration
    contract cannot depend on who imported what first. Within-module
    relative order is insertion order (decorators run top-to-bottom at
    import), so sorting by (module rank, global insertion sequence) is
    exactly source order.
    """
    _load_all()
    mod_rank = {m: i for i, m in enumerate(_OP_MODULES)}
    seq = {name: i for i, name in enumerate(_REGISTRY)}
    return dict(
        sorted(
            _REGISTRY.items(),
            key=lambda kv: (
                mod_rank.get(kv[1].fn.__module__, len(_OP_MODULES)),
                seq[kv[0]],
            ),
        )
    )


def queries() -> dict[str, QueryFn]:
    return {name: op.fn for name, op in all_operators().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: op.oracle for name, op in all_operators().items() if op.oracle is not None
    }
