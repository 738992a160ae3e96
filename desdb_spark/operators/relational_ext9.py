"""Relational surface extensions, round 5 batch 4: LATERAL subqueries,
ordered array aggregation, and higher-order array functions — the modern
ANSI surface (lateral derived tables, array_agg, lambda expressions) a
desdb user could reach through SQL passthrough [desdb:desdb.py
Connection.quick — reconstructed, SURVEY.md §0].
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, load_tables


@register(
    "join_lateral_topn",
    oracle="""
        SELECT n_name, t.c_name, round(t.c_acctbal, 2) AS c_acctbal
        FROM nation, LATERAL (
            SELECT c_name, c_acctbal FROM customer
            WHERE c_nationkey = n_nationkey
            ORDER BY c_acctbal DESC, c_name LIMIT 2) t
    """,
    group="relational_ext9",
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: each nation's two richest customers —
    the for-each-row-run-a-query shape (CROSS APPLY in other dialects).

    Scale shape: Catalyst DECORRELATES the lateral — the per-nation
    ORDER BY/LIMIT becomes a rank-limited window partitioned by the
    correlation key joined back as a plain equi-join (verified: the plan
    is BroadcastHashJoin + WindowGroupLimit, no nested-loop re-execution
    per outer row). The naive reading — run the inner query N times —
    never happens, which is exactly why LATERAL is usable at 100 TB.
    Total tie-break (acctbal DESC, name) keeps the top-2 deterministic.
    """
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name, t.c_name, round(t.c_acctbal, 2) AS c_acctbal
        FROM nation, LATERAL (
            SELECT c_name, c_acctbal FROM customer
            WHERE c_nationkey = n_nationkey
            ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        """
    )


@register(
    "agg_collect_sorted_list",
    oracle="""
        SELECT n.n_name,
               array_to_string(list_sort(list(DISTINCT c.c_mktsegment)), '|')
                   AS segments,
               CAST(count(DISTINCT c.c_mktsegment) AS BIGINT) AS n_segments,
               count(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    group="relational_ext9",
)
def agg_collect_sorted_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered array aggregation (ANSI ``array_agg … ORDER BY``): the
    distinct market segments present per nation, sorted and
    string-encoded — the collect-into-nested-result shape APIs return to
    callers.

    Scale shape: collect_set dedups inside the partial aggregate (each
    map task ships ≤|segments| values per nation) and the sort is a
    per-row array sort of ≤5 elements after the exchange — order-
    insensitive shuffle, deterministic output. Bounded-cardinality
    collects only: array-aggregating an unbounded column concentrates a
    whole group on one row and is the map-side-combine anti-pattern.

    Interop shape (VERDICT r6 item 2): hash-checked operators must emit
    only scalar top-level columns — the external driver canonicalizes
    with pandas ``sort_values``, which raises on array cells — so the
    sorted set is ``array_join``ed into one ``'|'``-separated string
    (and the registry-wide scalar-output test pins the class).
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.sort_array(F.collect_set("c_mktsegment")), "|").alias(
                "segments"
            ),
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.count("*").alias("n_customers"),
        )
    )


@register(
    "scalar_higher_order_funcs",
    oracle="""
        SELECT vec_id,
               len(list_filter(embedding, x -> x > 0.15)) > 0 AS has_large,
               len(list_filter(embedding, x -> abs(x) > 1.0)) = 0
                   AS all_unit_range,
               CAST(len(list_filter(embedding, x -> x > 0)) AS INT)
                   AS n_positive,
               round(list_sum(list_transform(embedding,
                                             x -> CAST(x AS DOUBLE))), 4)
                   AS sum_elems
        FROM embeddings
    """,
    group="relational_ext9",
)
def scalar_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order (lambda) array functions over the embedding column:
    ``exists`` / ``forall`` / ``filter`` / ``aggregate`` — the expression
    tier that keeps array logic JVM-side where row-at-a-time Python UDFs
    would otherwise creep in.

    Scale shape: every lambda compiles into the scan's whole-stage
    codegen; the array never leaves its row and nothing shuffles. The
    fold in ``aggregate`` is sequential left-to-right in both engines,
    so the float sum is bit-stable cross-engine (rounded at 4 dp per
    SURVEY §5.3 anyway).
    """
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.exists(emb, lambda x: x > 0.15).alias("has_large"),
        F.forall(emb, lambda x: F.abs(x) <= 1.0).alias("all_unit_range"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_positive"),
        F.round(
            F.aggregate(
                emb, F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            4,
        ).alias("sum_elems"),
    )
