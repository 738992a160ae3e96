"""Deduplication operators for training-data pipelines (SURVEY.md §2B
north-star; BASELINE.json north_star).

Four tiers, each a different cost/recall point at 100 TB:

- exact: hash-groupBy on a content digest. The shuffle carries only
  (digest, id) — never the payload — so it scales to any corpus size.
- MinHash+LSH: shingles → K minhashes → B bands; a band signature becomes
  a join key, so near-dup candidate generation is an *equi-join*, not a
  cross product. Deterministic seeds per SURVEY.md §7.3.
- SimHash: 64-bit rotation-tolerant fingerprint via per-token hashing and
  bit-vote aggregation; Hamming-close pairs found by banding the bits.
- set-similarity join: the caller builds one ``(id, toks)`` frame of
  duplicate-free sets (tokens or shingles); ``prefix_filtered_pairs``
  (PPJoin) generates every pair that can reach the threshold and
  ``verify_jaccard`` keeps those whose exact Jaccard does. Lossless, so
  it is the tier with an equality oracle.

All of this is built-in expression work (hash/md5/explode/groupBy) —
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table


@register(
    "dedup_exact_docs",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS dup_groups,
               CAST(coalesce(sum(cnt - 1), 0) AS BIGINT) AS redundant_docs
        FROM (
            SELECT md5(text) AS h, count(*) AS cnt
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
        )
    """,
    group="dedup",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate detection via content digest (md5) + groupBy."""
    d = load_table(spark, sf_dir, "documents")
    groups = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
    )
    return groups.agg(
        F.count("*").alias("dup_groups"),
        F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("redundant_docs"),
    )


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition an under-split input up to the session's parallelism.

    Shingling/hashing cost is CPU-bound per *row*, but Spark's scan
    parallelism is bound by input *splits*: a corpus packed into one
    parquet row group plans as ONE task and serializes the whole
    expression pipeline while every other core idles (observed at sf0.1:
    155 s single-task vs ~6 s repartitioned). The conditional makes this
    a no-op exactly when it should be — a 100 TB corpus already has
    thousands of splits, so the payload shuffle only happens when the
    source is pathologically under-split and parallelism pays for it.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    # Split-count proxy WITHOUT touching df.rdd (VERDICT r5 item 6 — the
    # RDD hop forces plan conversion and is unavailable on Connect):
    # inputFiles() comes straight from the scan's file index. One file
    # can still hold several row-group splits, so this over-repartitions
    # a single huge well-split file — the cheap direction of wrong, and
    # impossible at corpus scale where file count >> cores.
    n_files = len(df.inputFiles())
    if n_files and n_files >= target:
        return df
    return df.repartition(target)


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a text column (built-in expressions only).

    r12c kernel rewrite: the original ``transform(toks, lambda _, i: …
    slice(toks, i+1, n) …)`` re-evaluates the ``split`` subtree INSIDE
    the lambda for every element — higher-order-function lambdas are
    interpreted (no whole-stage codegen) and Catalyst does not hoist a
    non-lambda-variable subexpression out of the lambda body, so each
    doc paid O(|toks|) re-splits = O(L²) character work. The zip_with
    chain evaluates each array argument ONCE per row (they are ordinary
    function arguments, not lambda-body subtrees): acc starts as the
    token array and each step k zips it with ``toks[k+1:]``, appending
    the next word to every shingle prefix; zip_with pads the shorter
    side with nulls and ``concat`` (unlike concat_ws) propagates them,
    so the tail positions with fewer than n words null out and the
    final filter drops them — bit-identical output to the transform
    form for every n (equality pinned in tests/test_extensions.py).
    Measured at sf0.1: full-corpus shingle pass 3.3 s → 0.5 s; this is
    THE kernel under the whole dedup tier (shingle set frames, minhash
    signatures, containment).
    """
    toks = F.split(text, " ")
    acc = toks
    for k in range(1, n):
        nxt = F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0)))
        acc = F.zip_with(acc, nxt, lambda x, y: F.concat(x, F.lit(" "), y))
    return F.filter(acc, lambda s: s.isNotNull())


#: Mersenne prime modulus of the portable MinHash family.
MH_P = 2_147_483_647

#: Prefix-join hot-key threshold (r12): a token appearing in more than
#: this many docs' prefixes gets salted/replicated in
#: ``prefix_filtered_pairs`` — its output block (≥ HOT²/4 rows) is
#: otherwise computed by a single task. 256 keeps cold-path overhead
#: zero for the long tail of a real vocabulary while catching both
#: stopword-ish outliers and small-vocabulary corpora.
HOT_PREFIX_COUNT = 256

#: Cap on the salt fan-out: index rows of hot tokens replicate once per
#: salt bucket, so an uncapped bucket count = defaultParallelism would
#: mean ~8000× replication on a 1000-executor cluster — the replication
#: cost would outgrow the block-split gain. 64 buckets divide any hot
#: block finely enough that per-task output stays bounded while the
#: replicated index volume stays ≤ 64 × (hot prefix rows).
SALT_BUCKETS_MAX = 64
#: Affine coefficients h_i(x) = (A_i·x + B_i) mod P — fixed formulas so
#: an external engine can regenerate the identical family.
def _mh_a(i: int) -> int:
    return (i * 1_000_003 + 17) % MH_P


def _mh_b(i: int) -> int:
    return (i * 998_244_353 + 101) % MH_P


def minhash_signature(shingle_col: Column, num_hashes: int = 32) -> Column:
    """K seeded min-hashes of a shingle array — an array<bigint> signature.

    r8c PORTABLE family (rows→hash upgrade of dedup_near_minhash): the
    base hash is the first 60 bits of md5(shingle) reduced mod the
    Mersenne prime P = 2³¹−1, then K affine maps (A_i·x + B_i) mod P —
    the classic universal-hash MinHash construction (Broder). md5 and
    hex→int exist in every engine, so the WHOLE signature pipeline is
    differentially checkable; the previous family used Spark's seeded
    Murmur3, which no oracle could recompute. Deterministic across
    runs/executors either way (SURVEY.md §7.3). A_i·x < P² < 2⁶³, so
    the arithmetic never overflows BIGINT in any engine.

    r11 single-pass shape (VERDICT r9/r10 minhash profiling item): the
    r8 form built K separate ``array_min(transform(xs, affine_i))``
    expressions — 2K array materializations per doc, and because the
    md5 base-hash subtree is cloned into every branch, whether it
    evaluates once or K times is at the mercy of projection-collapse
    heuristics (measured 5.7 s at sf0.1 when inlined after the shingle
    expression vs 1.0 s behind a projection boundary). This form is one
    ``F.aggregate`` walk carrying the K running minima as the
    accumulator array — md5 is structurally evaluated once per shingle
    and no intermediate K-wide arrays exist per element. Measured
    0.58 s for the same sf0.1 signature set; output is bit-identical
    (verified by anti-join at sf0.1 and by the unchanged DuckDB
    differential hash).
    """
    seeds = F.array(
        *[
            F.struct(
                F.lit(_mh_a(i)).alias("a"), F.lit(_mh_b(i)).alias("b")
            )
            for i in range(num_hashes)
        ]
    )
    init = F.array(*[F.lit(MH_P).cast("long") for _ in range(num_hashes)])
    xs = F.transform(
        shingle_col,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % F.lit(MH_P),
    )
    # No shingles → empty xs → aggregate returns init (all-P sentinel),
    # but every registered caller filters size >= 3 first, matching the
    # oracles' len(l) >= 3; the sentinel is never observed downstream.
    return F.aggregate(
        xs,
        init,
        lambda acc, x: F.zip_with(
            acc,
            seeds,
            lambda m, sd: F.least(m, (sd["a"] * x + sd["b"]) % F.lit(MH_P)),
        ),
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """LSH banding: docs sharing any band signature become candidate pairs.

    The band signature is the join key — candidate generation is a
    shuffle-partitioned equi-join on (band_id, band_sig), never a cross
    join. Returns distinct (id_a, id_b) with id_a < id_b.
    """
    rows_per_band = num_hashes // bands
    # Docs with <3 tokens have no 3-gram shingles: every minhash in their
    # signature is NULL, and concat_ws skips NULLs, so all of them would
    # collapse onto the SAME empty band signature — a single quadratic
    # candidate bucket (ADVICE r8). Excluding them up front matches the
    # oracle's len(l) >= 3 filter: no shingles ⇒ no signature ⇒ no
    # candidates, which is also the only Jaccard-consistent semantics.
    # Projection boundary between shingling and the signature walk: with
    # both inlined in one select, the optimizer may clone the shingle
    # subtree into the signature expression (measured 5.7 s vs 1.0 s at
    # sf0.1 — the r11 profiling finding).
    sig = (
        ensure_parallelism(docs)
        .where(F.size(F.split(F.col(text_col), " ")) >= 3)
        .select(F.col(id_col).alias("id"), shingles(F.col(text_col)).alias("sh"))
        .select("id", minhash_signature(F.col("sh"), num_hashes).alias("sig"))
    )
    # The banded frame is MATERIALIZED before the self-join: a self-join
    # executes its input plan on BOTH sides, so without the checkpoint
    # the whole shingle+md5+minhash pipeline runs twice (measured: the
    # candidate stage cost ~2× the signature stage at sf0.1). The
    # materialization is small — (id, band_id, band_sig) × `bands` rows
    # per doc. Production note: reliable checkpoint() for multi-hour
    # 100 TB runs, as elsewhere.
    banded = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at("sig", b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_sig"),
    ).localCheckpoint()
    left = banded.alias("a")
    right = banded.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def prefix_tokens(sets: DataFrame, t_num: int = 9, t_den: int = 10) -> DataFrame:
    """(doc_id, tok, n, rn) — each set's Jaccard-prefix elements under the
    global (document frequency, element) order: the first
    |s| − ⌈t·|s|⌉ + 1 elements, with n = |s| and rn = the element's
    1-based position in the set's full sorted element list (the positional
    filter and the asymmetric indexing prefix of ``prefix_filtered_pairs``
    need both). ``sets`` is the ``(id, toks)`` frame described there.
    Exposed for the prune/exactness tests."""
    from pyspark.sql import Window

    # n = |set| rides each exploded row from the same projection, so no
    # per-doc aggregate has to be joined back onto the element stream.
    toks = sets.select(
        F.col("id").alias("doc_id"),
        F.size("toks").alias("n"),
        F.explode("toks").alias("tok"),
    )
    dfc = toks.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    prefix_len = F.col("n") - F.expr(f"(n * {t_num} + {t_den} - 1) div {t_den}") + 1
    return (
        toks.join(dfc, "tok")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= prefix_len)
        .select("doc_id", "tok", "n", "rn")
    )


def prefix_filtered_pairs(
    sets: DataFrame, t_num: int = 9, t_den: int = 10
) -> DataFrame:
    """Candidate (id_a, id_b) pairs, id_a < id_b, for set Jaccard ≥
    t_num/t_den via the prefix filter (public algorithm: Chaudhuri et al.
    SSJoin'06 / Xiao et al. PPJoin, WWW'08). EXACT — no qualifying pair
    is missed.

    ``sets`` is one ``(id, toks)`` frame built by the caller: a bigint
    id and a DUPLICATE-FREE array of the set's elements (``array_distinct``
    it). The kernel takes n = size(toks) for the prefix length and the
    length and positional filters, so a repeated element would skew those
    bounds and could lose pairs; ``verify_jaccard`` derives |A∪B| from
    the same sizes. The set family (tokens, shingles)
    is whatever the caller put in ``toks`` — the lemma holds for any
    family, and losslessness is with respect to that same family's
    Jaccard, so the caller verifies over the very frame it passed here.
    ``distinct_set_violations`` checks the precondition in tests.

    Width: the caller widens once, before the CPU-bound step that builds
    the sets — ``ensure_parallelism`` on the scan it tokenizes or shingles
    — and usually checkpoints the result; a set frame derived through a
    shuffle already has the shuffle's width. The kernel adds no exchange
    of its own before the explode (a checkpoint has no input files, so
    ``ensure_parallelism`` here would always shuffle the sets again), and
    every stage after its first shuffle runs at shuffle width; the
    pair-dedup exchange below is explicitly full width.

    Order all elements globally by (document frequency, element). A set s
    only needs its first |s| − ⌈t·|s|⌉ + 1 elements in that order (its
    *prefix*) as join keys: two sets with overlap ≥ ⌈t·max(|A|,|B|)⌉ —
    implied by Jaccard ≥ t — must share a prefix element (prefix-filter
    lemma).

    A stopword sorts LAST in the df order and therefore appears in almost
    no prefixes, so its document frequency never becomes a join-key
    multiplicity. At t=0.9 each doc contributes ~|s|/10 join rows instead
    of |s|. The threshold arithmetic is integer (⌈t·n⌉ = (n·t_num +
    t_den − 1) div t_den) — float t·n rounds wrong for exact multiples
    (0.9·10 = 9.000000000000002) and a too-short prefix would break
    exactness. A length filter (t·|A| ≤ |B| ≤ |A|/t, integer form) prunes
    size-incompatible pairs before the dedup.

    Two further LOSSLESS PPJoin refinements cut raw join volume before
    the dedup:

    - **Asymmetric indexing prefix**: orient each pair so side a is the
      SMALLER set under the (n, doc_id) order. For a qualifying pair,
      |A∩B| ≥ ⌈t/(1+t)·(|A|+|B|)⌉ ≥ ⌈2t/(1+t)·n_min⌉ =: α₁ and (given
      the length filter) ≥ ⌈t·n_max⌉ =: α₂, so by the prefix lemma at
      α* = max(α₁, α₂) the smaller side only needs its first
      n − α₁ + 1 elements as join keys (≥ n − α* + 1) while the larger
      side keeps the standard n − ⌈t·n⌉ + 1. At t=0.5 the index prefix
      is ~n/3 instead of ~n/2; at t=0.9, ~n/19 instead of ~n/10.
    - **Positional filter**: a shared element at full-list positions
      (rn_a, rn_b) bounds the overlap by 1 + min(n_a−rn_a, n_b−rn_b);
      rows where that bound cannot reach α(pair) = ⌈t/(1+t)(n_a+n_b)⌉
      are dropped inside the join condition (integer form:
      (1+min)·(t_num+t_den) ≥ t_num·(n_a+n_b)). Lossless because for
      any qualifying pair the FIRST shared element in the global order
      sits within both sides' used prefixes (its position ≤ n − i + 1 ≤
      n − α + 1) and its bound ≥ the true overlap ≥ α, so at least that
      one row always survives to the dedup.
    """
    # The prefix frame is checkpointed so the explode+window prefix plan
    # executes once instead of on both join sides. Prefix elements are
    # the globally RAREST by construction, so the tok key is low-skew;
    # the frame is O(docs × prefix_len) ids — small enough to pin even in
    # a 1 GiB session.
    target = sets.sparkSession.sparkContext.defaultParallelism
    salts = min(target, SALT_BUCKETS_MAX)
    prefix = prefix_tokens(sets, t_num, t_den).localCheckpoint()
    # Hot-key salting: a prefix element shared by h docs emits an
    # h_idx × h_probe output block, and an equi-join computes each key's
    # block on ONE task — a single hot element (a low-df stopword on real
    # corpora; EVERY token on a small-vocabulary fixture) serializes the
    # join no matter how many cores exist. Elements whose prefix count
    # exceeds HOT_PREFIX_COUNT get their probe rows salted by doc hash and
    # their index rows replicated across all S salt buckets, splitting the
    # block S ways; cold elements (the overwhelming majority of a real
    # vocabulary — the hot set is the heavy-hitter tail by definition, so
    # the broadcast stays tiny at any corpus size) pass through
    # unreplicated on salt 0.
    hot = F.broadcast(
        prefix.groupBy("tok")
        .count()
        .where(F.col("count") > HOT_PREFIX_COUNT)
        .select("tok", F.lit(True).alias("hot"))
    )
    salted = prefix.join(hot, "tok", "left")
    # Index side (a) = the smaller set of each pair, further restricted
    # to the asymmetric indexing prefix: α₁ = ⌈2t/(1+t)·n⌉, keep
    # rn ≤ n − α₁ + 1. The filter lands on the checkpoint scan, so the
    # join's build side shrinks before the exchange.
    both = t_num + t_den
    idx_len = (
        F.col("n") - F.expr(f"(n * {2 * t_num} + {both} - 1) div {both}") + 1
    )
    # Explicit-N repartition on the full join key (tok, salt): the
    # prefix frames are kilobytes, so AQE would coalesce any optimizer-
    # planned exchange to ONE partition — and AQE sizes by shuffle INPUT,
    # blind to the join's multiplicative output (the actual cost). An
    # explicit numPartitions is exempt from AQE coalescing, so the join
    # computes its tens-of-millions-row output at full width.
    a = (
        salted.where(F.col("rn") <= idx_len)
        .withColumn(
            "salt",
            F.explode(
                F.when(
                    F.col("hot").isNotNull(),
                    F.sequence(F.lit(0), F.lit(salts - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .repartition(target, "tok", "salt")
        .alias("a")
    )
    b = (
        salted.withColumn(
            "salt",
            F.when(
                F.col("hot").isNotNull(),
                F.pmod(F.xxhash64("doc_id"), F.lit(salts)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .repartition(target, "tok", "salt")
        .alias("b")
    )
    smaller_first = (F.col("a.n") < F.col("b.n")) | (
        (F.col("a.n") == F.col("b.n")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    # Positional filter: integer ceiling test, evaluated as part of the
    # join condition so pruned rows never reach the dedup's exchange.
    pos_bound = F.lit(1) + F.least(
        F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn")
    )
    positional = pos_bound * both >= t_num * (F.col("a.n") + F.col("b.n"))
    return (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.salt") == F.col("b.salt"))
            & smaller_first
            # length filter: t·n_max ≤ n_min (a is the min side)
            & (F.col("b.n") * t_num <= F.col("a.n") * t_den)
            & positional,
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("id_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
        )
        # The pair dedup keyed explicitly: an explicit-N repartition on
        # the pair key satisfies the dedup aggregate's distribution (one
        # exchange, exempt from AQE's input-size coalescing) and leaves
        # the stream at full width for the CPU-bound verify that follows,
        # so callers need no widening shuffle of their own. A map-side
        # partial dedup would remove little: duplicates of a pair live
        # under DIFFERENT element keys, so they rarely share a map task.
        .repartition(target, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def verify_jaccard(
    pairs: DataFrame, sets: DataFrame, t_num: int, t_den: int
) -> DataFrame:
    """(id_a, id_b, jaccard) for the candidate ``pairs`` whose sets reach
    Jaccard ≥ t_num/t_den — the exact verify after ``prefix_filtered_pairs``
    or any other candidate generator. ``sets`` follows the
    ``prefix_filtered_pairs`` contract (duplicate-free ``toks``), so
    |A∪B| = |A|+|B|−|A∩B| and no union array is ever built.

    The test is the integer form of i/(|A|+|B|−i) ≥ t_num/t_den,
    (t_num+t_den)·i ≥ t_num·(|A|+|B|): exact at every set size, and it
    references the intersection once, so the filter evaluates
    ``array_intersect`` once per candidate. ``jaccard`` (a double) costs a
    second intersection only for surviving rows, and only when the caller
    selects it."""
    sa = sets.alias("sa")
    sb = sets.alias("sb")
    i = F.size(F.array_intersect("sa.toks", "sb.toks"))
    s = F.size("sa.toks") + F.size("sb.toks")
    return (
        pairs.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .where((t_num + t_den) * i >= t_num * s)
        .select("id_a", "id_b", (i.cast("double") / (s - i)).alias("jaccard"))
    )


def distinct_set_violations(sets_df: DataFrame, col: str = "toks") -> int:
    """Return 1 if ANY row's ``col`` array carries duplicates, else 0 —
    the duplicate-free precondition of ``prefix_filtered_pairs`` and
    ``verify_jaccard``. A bounded probe (``limit(1)`` before the count —
    finding one witness is enough and stops the scan early), NOT a
    violation count. Kept OUT of the production path so compliant
    callers' plans don't pay for an idempotent re-distinct; tests run it
    against each caller's set frame."""
    return (
        sets_df.where(F.size(col) != F.size(F.array_distinct(col)))
        .limit(1)
        .count()
    )


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document via explode + bit-vote hash aggregation.

    Each token contributes ±1 per bit of its hash; bits with positive
    vote sums are set. Formulated as one explode + one groupBy with 64
    codegen'd conditional sums — a map-side-combining hash agg, not a
    per-row array scan, so it's the shape that survives 100 TB.
    Returns (id, fp).

    r8c PORTABLE family (rows→hash upgrade of dedup_simhash, mirroring
    minhash_signature): bit i of a token's 64-bit hash is bit (i mod 16)
    of chunk ⌊i/16⌋, where chunk k is hex chars [1+4k, 4+4k] of
    md5(token) parsed base-16. md5 + hex→int exist in every engine, so
    the whole fingerprint pipeline is differentially checkable; the
    previous family was Spark-only xxhash64.
    """

    def mask(i: int) -> int:
        m = 1 << i
        return m - (1 << 64) if i == 63 else m  # keep the sign bit in long range

    tok_chunks = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).select(
        "id",
        *[
            F.conv(F.substring(F.md5(F.col("tok")), 1 + 4 * k, 4), 16, 10)
            .cast("long")
            .alias(f"c{k}")
            for k in range(4)
        ],
    )
    votes = tok_chunks.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.col(f"c{i // 16}").bitwiseAND(F.lit(1 << (i % 16))) != 0, 1
                ).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(64)
        ]
    )
    fp: Column = F.lit(0).cast("long")
    for i in range(64):
        fp = fp.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.lit(mask(i)).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select("id", fp.alias("fp"))


@register(
    "dedup_ngram_jaccard",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
            FROM documents
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
            FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.9
    """,
    group="dedup",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard ≥ 0.9 pairs, prefix-filtered + exactly verified
    (hash-checked against the plain pairwise-Jaccard oracle).

    Candidate generation is the PPJoin prefix filter
    (``prefix_filtered_pairs``): only each doc's ~(1−t)·|s|+1 globally
    rarest tokens become join keys, so a stopword's frequency never
    multiplies the shuffle (an uncapped inverted index would emit df²
    rows per token), and the filter is lossless at the threshold.
    ``verify_jaccard`` then tests the exact Jaccard per candidate;
    verification cost is candidate-bound, not corpus².
    """
    d = load_table(spark, sf_dir, "documents")
    # One tokenization: the checkpointed set frame feeds the prefix kernel
    # and both verify sides. The candidate stream is NOT checkpointed — it
    # is consumed once by the verify join, and pinning a multi-M-row frame
    # starves a small session's execution memory.
    sets = (
        ensure_parallelism(d)
        .select(
            F.col("doc_id").alias("id"),
            F.array_distinct(F.split("text", " ")).alias("toks"),
        )
        .localCheckpoint()
    )
    cand = prefix_filtered_pairs(sets, t_num=9, t_den=10)
    return verify_jaccard(cand, sets, 9, 10).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in MapReduce
    and Beyond"): for every vertex u, connect each strictly-larger neighbor
    to m(u) = min(Γ(u) ∪ {u}). Input: undirected edge list (src, dst), no
    self-loops; output: the same, possibly with duplicate rows (at most
    one per input edge — small-star's ``distinct`` removes them, and the
    round's result set is unchanged). One window min over
    ``PARTITION BY src``: a single shuffle on the vertex id."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # v > u ≥ m, so emitted pairs are strictly descending: no self-loops.
    return sym.selectExpr(
        "src",
        "dst",
        "least(src, min(dst) OVER (PARTITION BY src)) AS m",
    ).where("dst > src").selectExpr("dst AS src", "m AS dst")


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient every edge larger→smaller; for each vertex
    u, connect its smaller neighbors — and u itself — to
    m(u) = min of those neighbors. One window min over the oriented
    ``src`` plus the closing ``distinct``: two shuffles."""
    ori = edges.selectExpr(
        "greatest(src, dst) AS src", "least(src, dst) AS dst"
    ).where("src != dst")
    return (
        ori.selectExpr("src", "dst", "min(dst) OVER (PARTITION BY src) AS m")
        .selectExpr(
            "inline(array(named_struct('src', dst, 'dst', m), "
            "named_struct('src', src, 'dst', m)))"
        )
        .where("src != dst")
        .distinct()
    )


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over undirected (id_a, id_b) edges via the
    alternating large-star/small-star algorithm (Kiveris et al.,
    MapReduce-native CC). Returns (id, comp) with comp = the component's
    minimum vertex id.

    Why this shape at 100 TB (r5 rewrite — VERDICT r4 item 5): the old
    min-label propagation re-evaluated the *edge-producing* upstream plan
    (MinHash → LSH → Jaccard verification) on every round because only the
    labels were checkpointed — 456 s at sf0.1. Now

    - the edge set is materialized ONCE up front (``localCheckpoint``), so
      the expensive candidate generation never re-runs;
    - each round is two star operations — a window min over the vertex
      id each, three shuffles per round in total — and provably converges
      in O(log d) alternating rounds instead of O(d) propagation rounds;
    - every round's output is checkpointed LAZILY and the convergence
      signature (count + id sums + order-insensitive hash-sum) is the
      materializing action — ONE job per round, not an eager-checkpoint
      pass followed by a signature pass (r12, the pagerank-kernel
      pattern);
    - vertices are derived from the materialized edge frame, so the
      caller's edge plan executes exactly once.

    Production note: ``localCheckpoint`` trades executor-loss resilience
    for speed; a multi-hour 100 TB run should use reliable
    ``checkpoint()`` to object storage instead.
    """
    e = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    # Lazy: consumed once by the final roots anti-join, whose action
    # materializes it off the already-checkpointed edge frame.
    vertices = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _signature(df: DataFrame):
        # decimal(38,0) sums: a long-typed sum of xxhash64 values overflows
        # under ANSI mode; decimal accumulation is exact and overflow-free
        # at any realistic edge count.
        return df.agg(
            F.count("*"),
            F.sum(F.col("src").cast("decimal(38,0)")),
            F.sum(F.col("dst").cast("decimal(38,0)")),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
        ).first()

    sig = None
    converged = False
    for _ in range(max_iter):
        # Lazy checkpoint: the signature read is the materializing
        # action, so each round costs one job (r12).
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        new_sig = _signature(e)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # Truncating silently would emit split clusters — wrong answers,
        # not slow ones. Alternating rounds converge in ~log₂(diameter)
        # (a 512-link chain takes <12), so hitting this cap means the
        # graph is pathological; fail loudly with the knob to turn.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (rounds cost O(edges) each on the "
            "materialized edge set)"
        )
    # At the fixed point every edge is (vertex, component-min); the minima
    # themselves never appear as src, so union them back as self-labels.
    labels = e.select(F.col("src").alias("id"), F.col("dst").alias("comp"))
    roots = vertices.join(
        labels.select("id"), "id", "left_anti"
    ).select("id", F.col("id").alias("comp"))
    return labels.unionByName(roots)

