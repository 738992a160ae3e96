"""Round-6 batch-11 experimentation analytics (A/B infrastructure).

Once a pipeline ships model or data changes behind experiments, the
engine has to answer two questions at warehouse scale: "is the split
itself healthy?" (sample-ratio mismatch — the silent killer of A/B
results) and "what is the treatment effect with the variance we can
remove?" (CUPED — Deng, Xu, Kohavi & Walker, WSDM 2013, public
literature: regress the experiment-period metric on its pre-period
value and analyze the residual, cutting variance by the squared
correlation). Both are sufficient-statistics aggregates — one scan
each side, hash-checkable.

Assignment reuses the house Weyl uniform on user_id (deterministic,
bit-identical across engines, append-stable), i.e. the same hash-split
discipline as split_train_valid_test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.extensions.sampling_ext import PHI
from desdb_spark.registry import register
from desdb_spark.session import load_table

#: Pre-period / experiment-period boundary over the events fixture.
CUTOVER = "2024-01-15"

#: SQL spelling of the Weyl assignment (CAST keeps DuckDB in doubles —
#: see extensions/sampling_ext.py module docstring for the DECIMAL trap).
_ASSIGN_SQL = """
    CASE WHEN (user_id * CAST(0.6180339887498949 AS DOUBLE)
               - floor(user_id * CAST(0.6180339887498949 AS DOUBLE))) < 0.5
         THEN 'control' ELSE 'treatment' END
"""


def _assign_col():
    # Raw fractional part, NOT weyl_uniform: that helper remaps frac=0 to
    # 1.0 (it must be denominator-safe), which would flip user 0's arm vs
    # the SQL spelling. Assignment needs no denominator, so both engines
    # use the bare frac.
    x = F.col("user_id").cast("double") * F.lit(PHI)
    return F.when(x - F.floor(x) < 0.5, "control").otherwise("treatment")


@register(
    "exp_srm_check",
    oracle=f"""
        WITH users AS (
            SELECT DISTINCT user_id FROM events
        ), assigned AS (
            SELECT user_id, {_ASSIGN_SQL} AS arm FROM users
        ), counts AS (
            SELECT arm, CAST(count(*) AS BIGINT) AS n FROM assigned GROUP BY arm
        ), tot AS (
            SELECT sum(n) AS t FROM counts
        )
        SELECT arm, n,
               round(CAST(n AS DOUBLE) / t, 6) AS share,
               round(pow(n - t / 2.0, 2) / (t / 2.0), 4) AS chi2_term
        FROM counts, tot
    """,
    group="experiment_ext",
)
def exp_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for a 50/50 split: per-arm user
    counts, realized share, and each arm's χ² term against the expected
    half — the sum of the two terms against χ²(1) is the SRM p-value
    gate every experiment readout must pass before anyone looks at the
    metric.

    Scale shape: distinct users (map-side combinable), a narrow
    assignment expression, a 2-row count. The 1-row total attaches in
    DuckDB via cross join and in Spark via a window over the 2-row
    counts — both trivially sized.
    """
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    counts = (
        users.select(_assign_col().alias("arm"))
        .groupBy("arm")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    t = F.sum("n").over(W.partitionBy()).cast("double")
    return counts.select(
        "arm",
        "n",
        F.round(F.col("n") / t, 6).alias("share"),
        F.round(F.pow(F.col("n") - t / 2, F.lit(2)) / (t / 2), 4).alias(
            "chi2_term"
        ),
    )


@register(
    "exp_cuped_adjusted",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   sum(CASE WHEN ts <  TIMESTAMP '{CUTOVER}' THEN value
                            ELSE 0 END) AS x,
                   sum(CASE WHEN ts >= TIMESTAMP '{CUTOVER}' THEN value
                            ELSE 0 END) AS y
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        ), assigned AS (
            SELECT {_ASSIGN_SQL} AS arm, x, y FROM per_user
        ), theta AS (
            SELECT (sum(x * y) - sum(x) * sum(y) / count(*))
                   / (sum(x * x) - sum(x) * sum(x) / count(*)) AS th,
                   sum(x) / count(*) AS mx
            FROM assigned
        )
        SELECT arm,
               CAST(count(*) AS BIGINT) AS n_users,
               round(avg(y), 4) AS mean_raw,
               round(avg(y - th * (x - mx)), 4) AS mean_cuped,
               round(1 - var_samp(y - th * (x - mx)) / var_samp(y), 3)
                   AS var_reduction
        FROM assigned, theta
        GROUP BY arm, th, mx
    """,
    group="experiment_ext",
)
def exp_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted experiment readout on per-user purchase value:
    pre-period spend is the covariate (θ = cov(x,y)/var(x), pooled),
    and each arm reports raw vs adjusted means plus the realized
    variance-reduction fraction (≈ ρ² when the covariate is
    predictive). Because assignment is independent of the pre-period,
    the adjustment shifts both arms without biasing their difference —
    the whole point of the method.

    Scale shape: one pass builds per-user (pre, post) pairs
    (materialized once — localCheckpoint — so fitting and scoring don't
    recompute it); θ reduces to TWO driver-side floats and re-enters as
    literals — the fitted-parameter broadcast pattern (an MLlib model
    fit is exactly this), chosen because a 1-row attach via
    crossJoin/literal-key join plans or folds to a nested-loop join;
    per-arm stats are one grouped aggregate. Variances divide inside a
    3-dp ratio, far above cross-engine ulp drift; θ itself is never
    emitted, only applied identically on both engines.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    cut = F.lit(CUTOVER).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, F.col("value")).otherwise(0.0)).alias("x"),
        F.sum(F.when(F.col("ts") >= cut, F.col("value")).otherwise(0.0)).alias("y"),
    )
    assigned = per_user.select(
        _assign_col().alias("arm"), "x", "y"
    ).localCheckpoint(eager=True)
    n = F.count("*").cast("double")
    th, mx = assigned.agg(
        (
            (F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y") / n)
            / (F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x") / n)
        ).alias("th"),
        (F.sum("x") / n).alias("mx"),
    ).first()
    resid = F.col("y") - F.lit(th) * (F.col("x") - F.lit(mx))
    return assigned.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.avg("y"), 4).alias("mean_raw"),
        F.round(F.avg(resid), 4).alias("mean_cuped"),
        F.round(1 - F.var_samp(resid) / F.var_samp("y"), 3).alias("var_reduction"),
    )
