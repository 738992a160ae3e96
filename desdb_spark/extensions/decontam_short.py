"""Round-8: short-probe decontamination — the char-gram arm that covers
exactly the probes ``docs_eval_substring_contamination`` scopes OUT
(ADVICE r7): a probe with no non-empty interior whitespace token has no
token anchor, so token blocking cannot see it. Code snippets, URLs,
hashes, and CJK-ish unsegmented text all produce such probes.

Lossless blocking for space-free probes, by a containment argument one
level down: a document containing a SPACE-FREE probe verbatim contains
it inside one maximal space-free run — i.e. inside ONE of its
whitespace tokens, which is then at least as long as the probe. So for
probes of length ≥ GRAM, every char GRAM-gram of the probe appears
among the char GRAM-grams of the corpus' long (≥ GRAM chars) tokens,
and blocking each probe on its RAREST gram against the long-token gram
index is lossless at the cost of the anchor gram's document frequency.
Natural text has very few ≥16-char tokens, so the index is a sliver of
the corpus; the probe side broadcasts while it fits the session
threshold. Equi-joins end to end —
``instr`` verification only on candidates — the same 100 TB discipline
as the token-anchor op.

The fixture corpus has no long tokens, so the op PLANTS them the way
``dedup_canonical_text`` plants variants: every PROBE_STRIDE-th doc
contributes a synthetic code-like twin whose text embeds the doc's
space-squeezed prefix as one long token; that same string is the probe.
Both engines synthesize identically, so the op is hash-checked end to
end, self-hits guaranteed by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, maybe_broadcast, table_bytes

GRAM = 16
PROBE_STRIDE = 25
SYNTH_OFFSET = 3_000_000
_BLOB_CHARS = 48
_MIN_DOC_CHARS = 80


@register(
    "docs_decontam_short_probes",
    oracle=f"""
        WITH blobs AS (
            SELECT doc_id,
                   replace(substring(text, 1, {_BLOB_CHARS}), ' ', '') AS blob
            FROM documents
            WHERE doc_id % {PROBE_STRIDE} = 0
              AND length(text) >= {_MIN_DOC_CHARS}
        ), probes AS (
            SELECT doc_id AS eval_id, blob AS probe
            FROM blobs WHERE length(blob) >= {GRAM}
        ), corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {SYNTH_OFFSET},
                   'BEGIN ' || blob || ' END'
            FROM blobs WHERE length(blob) >= {GRAM}
        ), longtoks AS (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS tok
                FROM corpus)
            WHERE length(tok) >= {GRAM}
        ), idx AS (
            SELECT DISTINCT doc_id, substring(tok, CAST(i AS INT), {GRAM}) AS gram
            FROM (SELECT doc_id, tok,
                         unnest(generate_series(1, length(tok) - {GRAM} + 1)) AS i
                  FROM longtoks)
        ), df AS (
            SELECT gram, CAST(count(*) AS BIGINT) AS df FROM idx GROUP BY gram
        ), pgrams AS (
            SELECT DISTINCT eval_id,
                   substring(probe, CAST(i AS INT), {GRAM}) AS gram
            FROM (SELECT eval_id, probe,
                         unnest(generate_series(1, length(probe) - {GRAM} + 1)) AS i
                  FROM probes)
        ), anchors AS (
            SELECT eval_id, gram AS anchor FROM (
                SELECT p.eval_id, p.gram,
                       row_number() OVER (
                           PARTITION BY p.eval_id
                           ORDER BY df.df, p.gram) AS rn
                FROM pgrams p JOIN df ON df.gram = p.gram)
            WHERE rn = 1
        ), candidates AS (
            SELECT DISTINCT i.doc_id, a.eval_id
            FROM anchors a JOIN idx i ON i.gram = a.anchor
        )
        SELECT c.eval_id,
               CAST(count(*) AS BIGINT) AS n_hits,
               CAST(min(c.doc_id) AS BIGINT) AS first_hit_doc,
               CAST(sum(CASE WHEN c.doc_id <> c.eval_id + {SYNTH_OFFSET}
                             THEN 1 ELSE 0 END) AS BIGINT) AS cross_hits
        FROM candidates c
        JOIN corpus d ON d.doc_id = c.doc_id
        JOIN probes p ON p.eval_id = c.eval_id
        WHERE position(p.probe IN d.text) > 0
        GROUP BY c.eval_id
    """,
    group="decontam_short",
)
def docs_decontam_short_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per space-free probe: how many corpus documents contain it
    verbatim, the first such doc, and how many hits are NOT the planted
    synthetic twin (a cross hit is real contamination; the planted twin
    is the guaranteed floor proving the scan works).

    Scale shape (module docstring): one long-token char-gram index over
    the corpus (tiny — only ≥GRAM-char tokens), per-probe rarest-gram
    anchor by min (df, gram), equi-join for candidates, ``instr`` on
    candidates only. Lossless for all space-free probes of length ≥
    GRAM — exactly the class the token-anchor op excludes.
    """
    d = load_table(spark, sf_dir, "documents")
    blob = F.regexp_replace(F.substring("text", 1, _BLOB_CHARS), " ", "")
    blobs = d.where(
        (F.col("doc_id") % PROBE_STRIDE == 0)
        & (F.length("text") >= _MIN_DOC_CHARS)
    ).select("doc_id", blob.alias("blob"))
    probes = blobs.where(F.length("blob") >= GRAM).select(
        F.col("doc_id").alias("eval_id"), F.col("blob").alias("probe")
    )
    corpus = d.select("doc_id", "text").unionByName(
        blobs.where(F.length("blob") >= GRAM).select(
            (F.col("doc_id") + SYNTH_OFFSET).alias("doc_id"),
            F.concat(F.lit("BEGIN "), "blob", F.lit(" END")).alias("text"),
        )
    )
    longtoks = (
        corpus.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .where(F.length("tok") >= GRAM)
        .distinct()
    )
    grams_of = f"transform(sequence(1, length({{c}}) - {GRAM} + 1), i -> substring({{c}}, i, {GRAM}))"
    idx = (
        longtoks.select(
            "doc_id", F.explode(F.expr(grams_of.format(c="tok"))).alias("gram")
        )
        .distinct()
    )
    df_ = idx.groupBy("gram").agg(F.count("*").cast("bigint").alias("df"))
    pgrams = (
        probes.select(
            "eval_id", F.explode(F.expr(grams_of.format(c="probe"))).alias("gram")
        )
        .distinct()
    )
    anchors = (
        pgrams.join(df_, "gram")
        .groupBy("eval_id")
        .agg(F.min_by("gram", F.struct("df", "gram")).alias("anchor"))
    )
    # One anchor row per probe (every PROBE_STRIDE-th doc), so the build side
    # grows with the corpus: gate the hint on that share of the corpus
    # bytes, an upper bound on the anchors' size.
    docs_bytes = table_bytes(sf_dir, "documents")
    anchors = maybe_broadcast(
        anchors, None if docs_bytes is None else docs_bytes // PROBE_STRIDE
    )
    candidates = (
        idx.join(anchors, idx.gram == F.col("anchor"))
        .select("doc_id", "eval_id")
        .distinct()
    )
    verified = (
        candidates.join(corpus, "doc_id")
        .join(probes, "eval_id")
        .where(F.expr("instr(text, probe) > 0"))
    )
    return verified.groupBy("eval_id").agg(
        F.count("*").cast("bigint").alias("n_hits"),
        F.min("doc_id").cast("bigint").alias("first_hit_doc"),
        F.sum(
            (F.col("doc_id") != F.col("eval_id") + SYNTH_OFFSET).cast("long")
        )
        .cast("bigint")
        .alias("cross_hits"),
    )
