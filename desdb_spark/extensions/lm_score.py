"""Round-8c: bigram-LM document scoring — the CCNet-style quality
signal one tier above ``text_unigram_logprob`` (monitor_ext2.py).

CCNet-class curation pipelines score every document under a language
model and drop the off-distribution tail; the cheapest LM that captures
word ORDER (not just vocabulary) is an interpolated bigram model
p(w|v) = λ·c(v,w)/c(v·) + (1−λ)·c(w)/N. A doc of in-vocabulary words in
a never-seen order — word salad, shuffled boilerplate, template debris —
scores near its unigram floor, while fluent text scores far above it;
the unigram interpolation term keeps every in-vocabulary transition
finite, so no smoothing special-cases. Here the model is trained on the
corpus itself (self-perplexity), which is exactly how repetition-heavy
junk is mined in production; a model trained elsewhere is the same plan
with the count tables read instead of built.

Scale shape: one explode produces the bigram stream; the model tables
(bigram, context, unigram counts) are VOCABULARY-sized — map-side
combinable aggregations whose output is tiny relative to the corpus, the
defining property of a vocabulary — so scoring is one broadcast join of
the bigram stream against the stitched probability table plus a per-doc
mean. Two corpus-scale shuffles total (bigram count, per-doc mean); the
broadcast sidesteps what would otherwise be a corpus × model sort-merge.
ln/exp are libm transcendentals rounded at 4/2 dp, far above the
engines' sub-ulp disagreement (the text_unigram_logprob discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, maybe_broadcast, table_bytes

#: Bigram weight λ; the (1−λ) remainder goes to the unigram backoff.
LAMBDA_NUM = 8
LAMBDA_DEN = 10


#: Shared CTE chain ending in ``scored(doc_id, lp)`` — one transition
#: log-probability row per in-vocabulary bigram instance, the grain both
#: the worst-docs report and ccnet_buckets' head/middle/tail split
#: consume (extensions/ccnet_buckets.py).
SCORED_CTE = f"""
        WITH arrs AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS l
            FROM documents
        ), toks AS (
            SELECT unnest(l) AS w FROM arrs
        ), uni AS (
            SELECT w, count(*) AS c FROM toks GROUP BY w
        ), tot AS (
            SELECT CAST(count(*) AS DOUBLE) AS t FROM toks
        ), idx AS (
            SELECT doc_id, l,
                   unnest(generate_series(1, len(l) - 1)) AS i
            FROM arrs WHERE len(l) >= 2
        ), pairs AS (
            SELECT doc_id, l[i] AS v, l[i + 1] AS w FROM idx
        ), big AS (
            SELECT v, w, count(*) AS cb FROM pairs GROUP BY v, w
        ), ctx AS (
            SELECT v, sum(cb) AS cv FROM big GROUP BY v
        ), scored AS (
            SELECT p.doc_id,
                   ln(CAST({LAMBDA_NUM / LAMBDA_DEN!r} AS DOUBLE)
                        * CAST(b.cb AS DOUBLE) / CAST(x.cv AS DOUBLE)
                      + CAST({1 - LAMBDA_NUM / LAMBDA_DEN!r} AS DOUBLE)
                        * CAST(u.c AS DOUBLE) / (SELECT t FROM tot)) AS lp
            FROM pairs p
            JOIN big b ON b.v = p.v AND b.w = p.w
            JOIN ctx x ON x.v = p.v
            JOIN uni u ON u.w = p.w
        )
"""


def scored_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of SCORED_CTE: one (doc_id, lp) row per in-vocabulary
    bigram transition under the interpolated model — the shared grain of
    the worst-docs report and the CCNet bucket split."""
    lam = LAMBDA_NUM / LAMBDA_DEN
    d = load_table(spark, sf_dir, "documents")
    arr = F.filter(F.split("text", " "), lambda x: x != "")
    arrs = d.select("doc_id", arr.alias("l"))
    toks = arrs.select(F.explode("l").alias("w"))
    uni = toks.groupBy("w").agg(F.count("*").alias("c"))
    total = float(toks.count())
    pairs = (
        arrs.where(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(l, 1, size(l) - 1)").alias("v"),
                    F.expr("slice(l, 2, size(l) - 1)").alias("w"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.v").alias("v"), F.col("p.w").alias("w"))
    )
    big = pairs.groupBy("v", "w").agg(F.count("*").alias("cb"))
    ctx = big.groupBy("v").agg(F.sum("cb").alias("cv"))
    # Stitch the model once (vocabulary-sized) and broadcast it.
    probs = (
        big.join(ctx, "v")
        .join(uni, "w")
        .select(
            "v",
            "w",
            F.log(
                F.lit(lam) * F.col("cb").cast("double") / F.col("cv").cast("double")
                + F.lit(1 - lam) * F.col("c").cast("double") / F.lit(total)
            ).alias("lp"),
        )
    )
    # The stitched model is bigram-vocabulary-sized — sublinear in the
    # corpus but unbounded, and in the worst case (no repeated bigrams) the
    # same order as the text itself. The documents table's on-disk bytes gate the hint;
    # past the threshold the planner joins the model by key.
    return pairs.join(
        maybe_broadcast(probs, table_bytes(sf_dir, "documents")), ["v", "w"]
    ).select("doc_id", "lp")


@register(
    "text_bigram_interp_logprob",
    oracle=SCORED_CTE
    + """
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(lp), 4) AS mean_logprob,
               round(exp(-avg(lp)), 2) AS perplexity
        FROM scored GROUP BY doc_id
        ORDER BY mean_logprob, doc_id LIMIT 40
    """,
    group="lm_score",
)
def text_bigram_interp_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 40 least-fluent documents under the corpus's own interpolated
    bigram LM: per doc, bigram count, mean transition log-probability
    (λ=0.8 bigram + 0.2 unigram backoff), and bigram perplexity.

    Every arithmetic step mirrors the oracle exactly — (λ·cb)/cv +
    ((1−λ)·c)/N with left-associative double division — so the 4-dp
    round is parity, not luck. Documents with fewer than two tokens have
    no transitions and are excluded in both engines; the unigram/total
    tables are built over ALL documents so the backoff term is the same
    model `text_unigram_logprob` scores against.
    """
    return (
        scored_bigrams(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.avg("lp"), 4).alias("mean_logprob"),
            F.round(F.exp(-F.avg("lp")), 2).alias("perplexity"),
        )
        .orderBy("mean_logprob", "doc_id")
        .limit(40)
    )
