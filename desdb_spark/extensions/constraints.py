"""Round-6 batch-4 declarative data-quality constraints and robust
outlier auditing.

A 100 TB ingest gate does not eyeball data: it runs a declared
constraint suite (the Deequ/"unit tests for data" model — Schelter et
al., VLDB 2018, public literature) and a robust-statistics outlier sweep
(median/MAD, which unlike mean/stddev does not let the outliers move
the fence), then blocks the batch on failures. All three ops here are
plain scan-aggregates — fully SQL-expressible, hash-checked against
DuckDB.

Reference parity: desdb had no constraint surface (SURVEY.md §2A —
reconstructed); new engine capability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.extensions.sampling_ext import weyl_uniform
from desdb_spark.registry import register
from desdb_spark.session import load_table


@register(
    "quality_constraint_audit",
    oracle="""
        SELECT * FROM (
          SELECT 'completeness_c_name' AS constraint_name,
                 round(CAST(count(c_name) AS DOUBLE) / count(*), 6) AS metric,
                 count(c_name) = count(*) AS ok
          FROM customer
          UNION ALL
          SELECT 'uniqueness_o_orderkey',
                 round(CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*), 6),
                 count(DISTINCT o_orderkey) = count(*)
          FROM orders
          UNION ALL
          SELECT 'ri_orders_customer',
                 round(CAST(count(*) FILTER (WHERE c.c_custkey IS NULL)
                       AS DOUBLE), 6),
                 count(*) FILTER (WHERE c.c_custkey IS NULL) = 0
          FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
          UNION ALL
          SELECT 'range_l_quantity_1_50',
                 round(CAST(count(*) FILTER (WHERE l_quantity BETWEEN 1 AND 50)
                       AS DOUBLE) / count(*), 6),
                 count(*) FILTER (WHERE l_quantity NOT BETWEEN 1 AND 50) = 0
          FROM lineitem
          UNION ALL
          SELECT 'accepted_values_o_orderstatus',
                 round(CAST(count(*) FILTER (WHERE o_orderstatus IN
                       ('O','F','P')) AS DOUBLE) / count(*), 6),
                 count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')) = 0
          FROM orders
          UNION ALL
          SELECT 'max_length_doc_400_chars',
                 round(CAST(count(*) FILTER (WHERE n_chars <= 400)
                       AS DOUBLE) / count(*), 6),
                 count(*) FILTER (WHERE n_chars > 400) = 0
          FROM documents
        )
    """,
    group="constraints",
)
def quality_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint suite over the warehouse: completeness,
    key uniqueness, referential integrity (orders→customer), value
    range, accepted values, and a deliberately tight 400-char document-length
    gate (so at least one check can FAIL on real data and the failure
    path is exercised, not just the all-green path). One row per
    constraint: name, metric, boolean verdict.

    Scale shape: each constraint is one scan-aggregate (map-side
    combinable counts); the RI check is a left join that broadcasts the
    dim side's key column. The six single-row results union into one
    6-row report — nothing here is more than counts moving between
    stages, which is why constraint suites are cheap enough to run on
    every 100 TB batch.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    docs = load_table(spark, sf_dir, "documents")

    def row(name: str, agg_df: DataFrame) -> DataFrame:
        return agg_df.select(
            F.lit(name).alias("constraint_name"),
            F.round(F.col("metric"), 6).alias("metric"),
            F.col("ok"),
        )

    completeness = row(
        "completeness_c_name",
        cust.agg(
            (F.count("c_name").cast("double") / F.count("*")).alias("metric"),
            (F.count("c_name") == F.count("*")).alias("ok"),
        ),
    )
    uniqueness = row(
        "uniqueness_o_orderkey",
        orders.agg(
            (F.count_distinct("o_orderkey").cast("double") / F.count("*")).alias(
                "metric"
            ),
            (F.count_distinct("o_orderkey") == F.count("*")).alias("ok"),
        ),
    )
    dangling = F.count(F.when(F.col("c_custkey").isNull(), 1))
    ri = row(
        "ri_orders_customer",
        # The RI probe's build side is EVERY customer key — linear in SF;
        # the planner broadcasts it while it fits and shuffles past that.
        orders.join(
            cust.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"), "left"
        ).agg(
            dangling.cast("double").alias("metric"),
            (dangling == 0).alias("ok"),
        ),
    )
    in_range = F.count(F.when(F.col("l_quantity").between(1, 50), 1))
    qty = row(
        "range_l_quantity_1_50",
        li.agg(
            (in_range.cast("double") / F.count("*")).alias("metric"),
            (F.count("*") - in_range == 0).alias("ok"),
        ),
    )
    accepted = F.count(F.when(F.col("o_orderstatus").isin("O", "F", "P"), 1))
    status = row(
        "accepted_values_o_orderstatus",
        orders.agg(
            (accepted.cast("double") / F.count("*")).alias("metric"),
            (F.count("*") - accepted == 0).alias("ok"),
        ),
    )
    short_enough = F.count(F.when(F.col("n_chars") <= 400, 1))
    maxlen = row(
        "max_length_doc_400_chars",
        docs.agg(
            (short_enough.cast("double") / F.count("*")).alias("metric"),
            (F.count("*") - short_enough == 0).alias("ok"),
        ),
    )
    return (
        completeness.unionAll(uniqueness)
        .unionAll(ri)
        .unionAll(qty)
        .unionAll(status)
        .unionAll(maxlen)
    )


@register(
    "stat_mad_outliers",
    oracle="""
        WITH med AS (
          SELECT lang, median(n_chars) AS med
          FROM documents GROUP BY lang
        ), dev AS (
          SELECT d.lang, d.n_chars, m.med, abs(d.n_chars - m.med) AS adev
          FROM documents d JOIN med m ON d.lang = m.lang
        ), mad AS (
          SELECT lang, median(adev) AS mad FROM dev GROUP BY lang
        )
        SELECT v.lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(any_value(v.med), 1) AS med_chars,
               round(any_value(a.mad), 1) AS mad_chars,
               CAST(count(*) FILTER (
                   WHERE v.adev > 3 * 1.4826 * a.mad) AS BIGINT) AS n_outliers
        FROM dev v JOIN mad a ON v.lang = a.lang
        GROUP BY v.lang
    """,
    group="constraints",
)
def stat_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-language length outliers: median and MAD (median
    absolute deviation) of n_chars per lang, then documents beyond the
    3σ-equivalent robust fence (3 × 1.4826 × MAD — the consistency
    constant that makes MAD estimate σ under normality, public
    statistics folklore). Mean/stddev fences fail exactly when needed
    most (the outliers inflate σ); MAD's 50% breakdown point doesn't.

    Scale shape: two exact-median passes (Spark's ``median`` aggregates
    per group without a global sort) with a broadcast join of the tiny
    per-lang medians between them, then one counting pass. Exact
    medians at 100 TB would switch to ``approx_percentile`` — kept
    exact here so the op stays hash-checkable; both engines interpolate
    even-count medians as (a+b)/2, which is exact IEEE arithmetic, so
    the comparison against the fence is bit-deterministic.
    """
    d = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    med = d.groupBy("lang").agg(F.median("n_chars").alias("med"))
    dev = d.join(F.broadcast(med), "lang").select(
        "lang",
        "n_chars",
        "med",
        F.abs(F.col("n_chars") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("lang").agg(F.median("adev").alias("mad"))
    fence = F.lit(3) * F.lit(1.4826) * F.col("mad")
    return (
        dev.join(F.broadcast(mad), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.any_value("med"), 1).alias("med_chars"),
            F.round(F.any_value("mad"), 1).alias("mad_chars"),
            F.count(F.when(F.col("adev") > fence, 1))
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


@register(
    "split_kfold_assign",
    oracle="""
        WITH folds AS (
          SELECT lang,
                 least(CAST(floor(5 * (CASE WHEN doc_id * CAST(0.6180339887498949 AS DOUBLE)
                          - floor(doc_id * CAST(0.6180339887498949 AS DOUBLE)) = 0
                     THEN 1.0
                     ELSE doc_id * CAST(0.6180339887498949 AS DOUBLE)
                          - floor(doc_id * CAST(0.6180339887498949 AS DOUBLE)) END))
                     AS BIGINT), 4) AS fold
          FROM documents
        )
        SELECT fold, lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM folds GROUP BY fold, lang
    """,
    group="constraints",
)
def split_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment: fold =
    ⌊5·u(doc_id)⌋ with the same Weyl low-discrepancy uniform the
    sampling ops use (bit-identical across engines, so the assignment —
    not merely its counts — is reproducible anywhere). Report: docs per
    (fold, lang). Folds are a pure function of the stable id: appending
    data never reshuffles existing rows' folds, the property that keeps
    k-fold eval valid on a growing 100 TB corpus. The Weyl helper maps
    frac=0 to u=1.0 (so u can sit in a denominator elsewhere), and ids
    DO hit that edge in practice — both engines cap ⌊5u⌋ with least(·,4)
    so the edge lands in the last fold identically.

    Scale shape: narrow expression + one map-side-combinable count;
    nothing shuffles but (fold, lang) partial counts; the pytest
    asserts every fold lands in 0..4 and that assignment is stable
    under corpus append.
    """
    d = load_table(spark, sf_dir, "documents")
    fold = F.least(
        F.floor(F.lit(5) * weyl_uniform(F.col("doc_id"))).cast("bigint"), F.lit(4)
    )
    return (
        d.select(fold.alias("fold"), "lang")
        .groupBy("fold", "lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
