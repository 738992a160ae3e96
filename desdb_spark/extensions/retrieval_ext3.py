"""Round-8e retrieval/tokenizer telemetry: vocabulary coverage curve,
collocation mining, positional phrase search.

Three public-practice text-infrastructure shapes on top of the corpus:

- ``text_vocab_coverage_curve`` — the tokenizer-sizing question: what
  share of token INSTANCES does a top-V frequency-ranked vocabulary
  cover?  (Zipf's law in operational form — the curve every
  BPE/WordPiece vocab-size decision reads; see also SentencePiece's
  coverage reports, public docs.)
- ``text_collocation_lift_topk`` — corpus collocations scored by lift
  (the log-free cousin of PMI: observed bigram probability over the
  independence expectation), the classic phrase-mining signal
  (Manning & Schütze ch. 5, public literature).
- ``text_phrase_search_positional`` — exact phrase query answered from
  a positional posting structure: adjacency is a self-equi-join on
  (doc, position+1), the relational form of every positional inverted
  index (Zobel & Moffat).

All outputs are exact integers — counts and floor-micro ratios in
DECIMAL(38,0)/HUGEINT intermediate arithmetic so no float and no
bigint overflow crosses the engine boundary even at 100 TB token
counts (c_ab * N * 1e6 exceeds int64 once N passes ~1e8 tokens; the
decimal path is exact to 38 digits on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, maybe_broadcast, table_bytes

#: Vocabulary sizes for the coverage curve. The fixture corpus has a
#: closed 31-word vocabulary, so the grid tops out at full coverage; at
#: 100 TB the same op runs with V in {2**13 .. 2**18} — only the
#: literals change, the plan does not.
VOCAB_SIZES = (4, 8, 16, 31)

#: Collocation mining: minimum bigram count (noise floor) and report size.
MIN_PAIR_COUNT = 10
TOP_COLLOCATIONS = 40

#: Exact phrase for the positional search (two adjacent tokens known to
#: co-occur in the fixture vocabulary).
PHRASE = ("order", "fast")

_TOKS_SQL = """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        )
"""


def _tokens(spark: SparkSession, sf_dir: str):
    """(doc_id, t: array<string>) with empty tokens dropped — the shared
    tokenization both engines agree on (whitespace split)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("t")
    )


@register(
    "text_vocab_coverage_curve",
    oracle=_TOKS_SQL
    + f"""
        , w AS (SELECT unnest(t) AS w FROM toks)
        , freq AS (
            SELECT w, CAST(count(*) AS BIGINT) AS c,
                   row_number() OVER (ORDER BY count(*) DESC, w) AS rnk
            FROM w GROUP BY w
        )
        , one AS (
            SELECT CAST(sum(c) AS BIGINT) AS total_tokens,
                   {", ".join(
                       f"CAST(sum(CASE WHEN rnk <= {v} THEN c ELSE 0 END)"
                       f" AS BIGINT) AS cov{v}"
                       for v in VOCAB_SIZES
                   )}
            FROM freq
        )
        SELECT vocab_size, covered_tokens, total_tokens,
               CAST(covered_tokens * 1000000 // total_tokens AS BIGINT)
                   AS coverage_micros
        FROM (
            {" UNION ALL ".join(
                f"SELECT CAST({v} AS INTEGER) AS vocab_size,"
                f" cov{v} AS covered_tokens, total_tokens FROM one"
                for v in VOCAB_SIZES
            )}
        )
        ORDER BY vocab_size
    """,
    group="retrieval_ext3",
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-instance coverage of a top-V frequency vocabulary for each
    V in VOCAB_SIZES: covered instances, total instances, and coverage
    in exact floor micros. Rank ties break lexicographically so the
    curve is deterministic across engines.

    Scale shape: one explode → word-count shuffle with map-side combine
    (the reduced table is the VOCABULARY — thousands of rows at 100 TB,
    never the corpus), a single-partition row_number over that small
    table, then ONE conditional aggregate produces every curve point in
    one pass; the curve unpivots via ``stack``. No joins, no second
    corpus scan for additional V values.
    """
    toks = _tokens(spark, sf_dir)
    freq = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    from pyspark.sql import Window

    rnk = F.row_number().over(
        Window.orderBy(F.col("c").desc(), F.col("w"))
    )
    ranked = freq.select("c", rnk.alias("rnk"))
    aggs = [F.sum("c").cast("bigint").alias("total_tokens")] + [
        F.sum(F.when(F.col("rnk") <= v, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias(f"cov{v}")
        for v in VOCAB_SIZES
    ]
    one = ranked.agg(*aggs)
    stack = ", ".join(f"{v}, cov{v}" for v in VOCAB_SIZES)
    return (
        one.select(
            F.expr(
                f"stack({len(VOCAB_SIZES)}, {stack})"
                " as (vocab_size, covered_tokens)"
            ),
            "total_tokens",
        )
        .select(
            F.col("vocab_size").cast("int").alias("vocab_size"),
            "covered_tokens",
            "total_tokens",
            F.floor(
                F.col("covered_tokens") * 1000000 / F.col("total_tokens")
            )
            .cast("bigint")
            .alias("coverage_micros"),
        )
        .orderBy("vocab_size")
    )


@register(
    "text_collocation_lift_topk",
    oracle=_TOKS_SQL
    + f"""
        , uni AS (
            SELECT unnest(t) AS w FROM toks
        )
        , c_uni AS (
            SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w
        )
        , n AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM uni)
        , bi AS (
            SELECT t[i] AS w1, t[i + 1] AS w2
            FROM toks, unnest(range(1, len(t))) AS r(i)
        )
        , c_bi AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
            FROM bi GROUP BY w1, w2
            HAVING count(*) >= {MIN_PAIR_COUNT}
        )
        SELECT b.w1, b.w2, b.c_ab, a.c AS c_w1, c.c AS c_w2,
               CAST(CAST(b.c_ab AS HUGEINT) * n.n_tok * 1000000
                    // (CAST(a.c AS HUGEINT) * c.c) AS BIGINT)
                   AS lift_micros
        FROM c_bi b
        JOIN c_uni a ON b.w1 = a.w
        JOIN c_uni c ON b.w2 = c.w
        CROSS JOIN n
        ORDER BY lift_micros DESC, b.w1, b.w2
        LIMIT {TOP_COLLOCATIONS}
    """,
    group="retrieval_ext3",
)
def text_collocation_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by lift: observed bigram count over the
    independence expectation, lift = c_ab * N / (c_w1 * c_w2), reported
    in exact floor micros via DECIMAL(38,0) arithmetic (HUGEINT on the
    oracle side) so the ranking is float-order-proof and overflow-proof
    at 100 TB token counts. Noise floor at MIN_PAIR_COUNT observations.

    Scale shape: the bigram explode shuffles once to (w1, w2) counts
    with map-side combine; the unigram table is VOCABULARY-sized, so
    the two enrichment joins broadcast, and N is an exact-integer
    driver scalar summed from that same tiny table (the BM25
    fitted-parameter pattern — one 1-row action, never a 1-row
    crossJoin, which would plan a BNLJ). The final top-k is a
    TakeOrdered over the (already tiny) surviving pair table. One
    corpus scan feeds both the unigram and bigram branches at 100 TB
    via a persisted token table; here the fixture scan is cheap enough
    to read twice and Catalyst prunes ``text`` only.
    """
    toks = _tokens(spark, sf_dir)
    uni = toks.select(F.explode("t").alias("w"))
    c_uni = uni.groupBy("w").agg(F.count("*").cast("bigint").alias("c"))
    t = F.col("t")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.struct(
            F.element_at(t, i).alias("w1"),
            F.element_at(t, i + F.lit(1)).alias("w2"),
        ),
    )
    c_bi = (
        toks.where(F.size("t") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
        .where(F.col("c_ab") >= MIN_PAIR_COUNT)
    )
    n_tok = int(c_uni.agg(F.sum("c")).collect()[0][0])
    a = c_uni.select(F.col("w").alias("w1"), F.col("c").alias("c_w1"))
    b = c_uni.select(F.col("w").alias("w2"), F.col("c").alias("c_w2"))
    lift = F.expr(
        f"CAST(CAST(c_ab AS DECIMAL(38,0)) * {n_tok} * 1000000"
        " DIV (CAST(c_w1 AS DECIMAL(38,0)) * c_w2) AS BIGINT)"
    )
    # The unigram count tables are vocabulary-sized (unbounded growth);
    # documents bytes gate the hint, past the threshold the planner joins
    # the counts by key.
    doc_b = table_bytes(sf_dir, "documents")
    return (
        c_bi.join(maybe_broadcast(a, doc_b), "w1")
        .join(maybe_broadcast(b, doc_b), "w2")
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_w1",
            "c_w2",
            lift.alias("lift_micros"),
        )
        .orderBy(F.col("lift_micros").desc(), "w1", "w2")
        .limit(TOP_COLLOCATIONS)
    )


@register(
    "text_phrase_search_positional",
    oracle=_TOKS_SQL
    + f"""
        , pos AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS term
            FROM toks, unnest(range(1, len(t) + 1)) AS r(i)
        )
        SELECT a.doc_id,
               CAST(count(*) AS BIGINT) AS n_hits,
               CAST(min(a.pos) AS BIGINT) AS first_pos
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        WHERE a.term = '{PHRASE[0]}' AND b.term = '{PHRASE[1]}'
        GROUP BY a.doc_id
        ORDER BY a.doc_id
    """,
    group="retrieval_ext3",
)
def text_phrase_search_positional(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-phrase query "{PHRASE[0]} {PHRASE[1]}" answered positionally:
    per matching document, the number of phrase occurrences and the
    1-based position of the first one.

    Scale shape: the positional posting table (doc, pos, term) is
    filtered to the QUERY TERMS before the join — at 100 TB the
    per-term posting lists are what ships, never the full position
    table — and adjacency is an equi-join on (doc_id, pos+1), so the
    probe is hash-partitioned, never a cartesian. A k-word phrase
    chains k-1 such joins; the optimizer starts from the rarest term's
    postings exactly as a search engine would.
    """
    toks = _tokens(spark, sf_dir)
    pos = toks.select(
        "doc_id", F.posexplode("t").alias("pos0", "term")
    ).select(
        "doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "term"
    )
    a = pos.where(F.col("term") == PHRASE[0]).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    b = pos.where(F.col("term") == PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos_a")
    )
    return (
        a.join(b, ["doc_id", "pos_a"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_hits"),
            F.min("pos_a").cast("bigint").alias("first_pos"),
        )
        .orderBy("doc_id")
    )
