"""Round-7: verbatim-substring decontamination — the exact-match arm of
eval-set hygiene. corpus_contamination_ngram catches paraphrase-level
overlap; the first check every lab actually runs is cruder and
stricter: does any eval prompt appear VERBATIM inside a training
document?

Scale design — LOSSLESS anchor-token blocking, not a nested-loop scan:
a document containing the probe verbatim necessarily contains every
INTERIOR whitespace-delimited token of the probe as one of its own
tokens (the probe's edge fragments may be word-cut, so they are
excluded). Each probe therefore blocks on its RAREST interior token
(by corpus document frequency): candidates = the equi-join of that
anchor against the corpus token index, and only candidates pay the
exact ``instr`` verification. Candidate volume per probe = the anchor's
df — the minimum achievable for single-token blocking — and the plan
is equi-joins end to end (no BroadcastNestedLoopJoin anywhere, which
the fleet-wide plan audit enforces).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, maybe_broadcast, table_bytes

#: Planted eval set: fixed-position substrings of every EVAL_STRIDE-th
#: document (long enough to be effectively unique). Deterministic, and
#: guarantees real hits: the source doc always contains its own probe.
EVAL_STRIDE = 25
PROBE_START = 8
PROBE_LEN = 60
MIN_PROBE_DOC_CHARS = 80


@register(
    "docs_eval_substring_contamination",
    oracle=f"""
        WITH eval_raw AS (
            SELECT doc_id AS eval_id,
                   substring(text, {PROBE_START}, {PROBE_LEN}) AS probe
            FROM documents
            WHERE doc_id % {EVAL_STRIDE} = 0
              AND length(text) >= {MIN_PROBE_DOC_CHARS}
        ), eval_set AS (
            -- anchor-token blocking needs >=1 non-empty INTERIOR token;
            -- probes without one are EXPLICITLY out of this op's scope
            -- (see docs_decontam_short_probes for the char-gram arm)
            SELECT * FROM eval_raw
            WHERE len(list_filter(
                      string_split(probe, ' ')[2:-2], x -> x <> '')) >= 1
        ), probe_toks AS (
            SELECT eval_id, tok FROM (
                SELECT eval_id,
                       unnest(string_split(probe, ' ')) AS tok,
                       generate_subscripts(string_split(probe, ' '), 1) AS i,
                       len(string_split(probe, ' ')) AS k
                FROM eval_set)
            WHERE i > 1 AND i < k AND tok <> ''
        ), doc_toks AS (
            SELECT DISTINCT doc_id,
                   unnest(list_distinct(string_split(text, ' '))) AS tok
            FROM documents
        ), df AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS df
            FROM doc_toks GROUP BY tok
        ), anchors AS (
            SELECT eval_id, tok AS anchor FROM (
                SELECT p.eval_id, p.tok,
                       row_number() OVER (
                           PARTITION BY p.eval_id
                           ORDER BY df.df, p.tok) AS rn
                FROM (SELECT DISTINCT eval_id, tok FROM probe_toks) p
                JOIN df ON df.tok = p.tok)
            WHERE rn = 1
        ), candidates AS (
            SELECT DISTINCT dt.doc_id, a.eval_id
            FROM anchors a JOIN doc_toks dt ON dt.tok = a.anchor
        )
        SELECT c.eval_id,
               CAST(count(*) AS BIGINT) AS n_hits,
               CAST(min(c.doc_id) AS BIGINT) AS first_hit_doc,
               CAST(sum(CASE WHEN c.doc_id <> c.eval_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS cross_doc_hits
        FROM candidates c
        JOIN documents d ON d.doc_id = c.doc_id
        JOIN eval_set e ON e.eval_id = c.eval_id
        WHERE position(e.probe IN d.text) > 0
        GROUP BY c.eval_id
    """,
    group="decontam_ext",
)
def docs_eval_substring_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per planted eval probe: how many training documents contain it
    verbatim, the first such doc, and how many hits are CROSS-document
    (a cross hit is real contamination; the self-hit is the planted
    floor proving the scan works).

    Scale shape (module docstring): rarest-interior-token blocking —
    one corpus token-df aggregate (shared with every other vocab op),
    per-probe anchor selection by min (df, token), an equi-join of
    anchors against the token index for candidates, and ``instr``
    verification on candidates only. Every join is an equi-join; the
    eval side broadcasts while it fits the session threshold.

    Scope (ADVICE r7): blocking is provably lossless ONLY for probes
    with at least one non-empty interior token — a probe whose window
    splits into <3 tokens has no anchor. Such probes are EXPLICITLY
    filtered out of the eval set here (both engines), not silently
    dropped downstream; the char-gram-blocked companion op
    (``docs_decontam_short_probes``) covers them losslessly.

    PRECONDITION (ADVICE r16): ``doc_id`` must be a UNIQUE KEY of
    ``documents``. The r16 optimization dropped two ``.distinct()``
    calls as semantic no-ops, and both proofs lean on that uniqueness:
    the exploded (doc_id, tok) stream is duplicate-free only if each
    doc_id appears on one row, and the candidate (doc_id, eval_id)
    stream only if additionally each eval_id has one anchor row. On a
    corpus with duplicate doc_id rows, ``df`` and ``n_hits`` would
    silently double-count while the DuckDB oracle (which keeps its
    DISTINCTs) diverges. The fixture generator guarantees uniqueness
    (doc_id is the row index; ``tests/test_fixture_keys.py`` pins it);
    production callers dedup upstream.
    """
    d = load_table(spark, sf_dir, "documents")
    probe_col = F.substring("text", PROBE_START, PROBE_LEN)
    toks_col = F.split(probe_col, " ")
    has_interior = (
        F.size(
            F.filter(
                F.slice(toks_col, 2, F.greatest(F.size(toks_col) - 2, F.lit(0))),
                lambda x: x != "",
            )
        )
        >= 1
    )
    eval_set = (
        d.where(
            (F.col("doc_id") % EVAL_STRIDE == 0)
            & (F.length("text") >= MIN_PROBE_DOC_CHARS)
            & has_interior
        )
        .select(
            F.col("doc_id").alias("eval_id"),
            probe_col.alias("probe"),
        )
    )
    parts = F.split("probe", " ")
    probe_toks = (
        eval_set.select(
            "eval_id",
            F.posexplode(parts).alias("i0", "tok"),
            F.size(parts).alias("k"),
        )
        .where(
            (F.col("i0") > 0)
            & (F.col("i0") < F.col("k") - 1)
            & (F.col("tok") != "")
        )
        .select("eval_id", "tok")
        .distinct()
    )
    # r16 (optimization round): no `.distinct()` — `array_distinct`
    # already makes the exploded (doc_id, tok) stream unique (one row per
    # doc, per-doc-unique tokens), so the old distinct was a semantic
    # no-op costing a full-corpus shuffle+dedup on BOTH consumers of this
    # stream (guide §2.1). Noop-profiled at the 10× arm: 2.15 s → 0.73 s
    # per consumption; oracle (which keeps its own DISTINCT) unchanged.
    # (A probe-token pre-filter before the df aggregate was ALSO tried
    # and rejected: the broadcast string-join costs more than the full
    # small-vocab partial aggregate, 1.80 s vs 0.88 s.)
    doc_toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).where(F.col("tok") != "")
    df_ = doc_toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    anchors = (
        probe_toks.join(df_, "tok")
        .groupBy("eval_id")
        .agg(F.min_by("tok", F.struct("df", "tok")).alias("anchor"))
    )
    # One anchor row per probe (every EVAL_STRIDE-th doc), so the build side
    # grows with the corpus: gate the hint on that share of the corpus
    # bytes, an upper bound on the anchors' size.
    docs_bytes = table_bytes(sf_dir, "documents")
    anchors = maybe_broadcast(
        anchors, None if docs_bytes is None else docs_bytes // EVAL_STRIDE
    )
    # r16: candidate `.distinct()` dropped for the same reason — the
    # token stream is (doc_id, tok)-unique and each eval_id has exactly
    # one anchor, so the equi-join's (doc_id, eval_id) output is already
    # duplicate-free. The distinct's Exchange was, however, what spread
    # the CPU-bound `instr` verification across the session's cores:
    # without it the whole scan→explode→join→instr pipeline runs at scan
    # parallelism (the 10× arm's corpus is ONE parquet file → 25.8 s).
    # Keep the width with an EXPLICIT-N repartition of the narrow
    # candidate pairs (the playbook-§0/§3 pattern — AQE would coalesce
    # this ~120 MB shuffle below core count and starve the verify): same
    # session first-run 5.05 s, and the shuffle now moves 16-byte pairs
    # instead of the old distinct's full dedup pass.
    candidates = (
        doc_toks.join(anchors, doc_toks.tok == F.col("anchor"))
        .select("doc_id", "eval_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    verified = (
        candidates.join(d.select("doc_id", "text"), "doc_id")
        .join(eval_set, "eval_id")
        .where(F.expr("instr(text, probe) > 0"))
    )
    return verified.groupBy("eval_id").agg(
        F.count("*").cast("bigint").alias("n_hits"),
        F.min("doc_id").cast("bigint").alias("first_hit_doc"),
        F.sum((F.col("doc_id") != F.col("eval_id")).cast("long"))
        .cast("bigint")
        .alias("cross_doc_hits"),
    )
