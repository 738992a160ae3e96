"""Mining ops: hard negatives vs a NumPy brute force, whitening must
produce identity covariance, temperature weights must sum to 1 and
flatten the distribution."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from desdb_spark.extensions import similarity
from desdb_spark.extensions.mining_ext import (
    ANCHOR_MOD,
    TAU,
    corpus_temperature_mix,
    emb_whiten_project,
    knn_hard_negatives,
)
from desdb_spark.session import load_table
from tests.conftest import SF_DIR


def _load_embeddings(spark):
    pdf = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "label", F.col("embedding").cast("array<double>").alias("e"))
        .toPandas()
    )
    ids = pdf["vec_id"].to_numpy()
    labels = pdf["label"].to_numpy()
    X = np.stack(pdf["e"].to_numpy())
    return ids, labels, X


def test_hard_negatives_match_numpy_bruteforce(spark):
    ids, labels, X = _load_embeddings(spark)
    S = (X @ X.T) / np.outer(
        np.linalg.norm(X, axis=1), np.linalg.norm(X, axis=1)
    )
    S = np.sign(S) * np.floor(np.abs(S) * 1e6 + 0.5) / 1e6
    got = {
        r.anchor_id: (r.negative_id, r.cos_sim)
        for r in knn_hard_negatives(spark, SF_DIR).collect()
    }
    anchors = [i for i, v in enumerate(ids) if v % ANCHOR_MOD == 0]
    assert len(got) == len(anchors) > 0
    for ai in anchors:
        mask = labels != labels[ai]
        row = np.where(mask, S[ai], -2.0)
        m = row.max()
        cand = np.nonzero(row == m)[0]
        want_id = ids[cand].min()
        assert got[ids[ai]] == (want_id, m), ids[ai]
        # and it really is a different label
        assert labels[list(ids).index(want_id)] != labels[ai]


def test_hard_negatives_forced_lsh_tier(spark, monkeypatch):
    """The past-the-cap tier under external evidence (the
    knn_cosine_topk_forced_lsh pattern): a zero exact-tier cap forces the
    label-masked bucketed kernel. Contract pinned: every emitted pair
    is cross-label with the EXACT rounded cosine of that pair (bucket
    kernels are dense/exact; only candidate coverage is approximate),
    bounded above by the exact tier's argmax, and at fixture scale the
    LSH geometry recovers the exact result in full — the same
    every-top-pair-shares-a-band regime the forced knn test pins."""
    ids, labels, X = _load_embeddings(spark)
    S = (X @ X.T) / np.outer(
        np.linalg.norm(X, axis=1), np.linalg.norm(X, axis=1)
    )
    S = np.sign(S) * np.floor(np.abs(S) * 1e6 + 0.5) / 1e6
    pos = {v: i for i, v in enumerate(ids)}
    exact = {
        r.anchor_id: (r.anchor_label, r.negative_id, r.cos_sim)
        for r in knn_hard_negatives(spark, SF_DIR).collect()
    }
    monkeypatch.setattr(similarity, "MAX_EXACT_INDEX_ROWS", 0)
    forced = {
        r.anchor_id: (r.anchor_label, r.negative_id, r.cos_sim)
        for r in knn_hard_negatives(spark, SF_DIR).collect()
    }
    assert forced, "forced tier returned nothing"
    for aid, (alab, nid, cos) in forced.items():
        # cross-label and the pair's cosine is the exact rounded value
        assert labels[pos[nid]] != alab, (aid, nid)
        assert cos == S[pos[aid], pos[nid]], (aid, nid)
        # never better than the exact argmax
        assert cos <= exact[aid][2], (aid, cos, exact[aid])
    # Fixture-scale recall: the adaptive geometry (16 bands x 2 bits at
    # this n) puts every anchor's argmax in a shared band — full
    # agreement, the measured value this test freezes.
    assert forced == exact


def test_rounded_cosine_block_half_away_on_negative_boundaries():
    """The shared kernel's rounding is half-AWAY-from-zero at 6 dp (the
    DuckDB-compatible convention every oracle assumes): -x.xxxxx5 moves
    AWAY from zero, not toward it (banker's/floor rounding would differ
    exactly on these boundaries and silently red a hash somewhere)."""
    from desdb_spark.extensions.similarity import rounded_cosine_block

    # Unit vectors scaled so the cosine lands exactly on a .5 ulp at
    # 6 dp: cos = dot because all norms are 1.
    def cos_of(x):
        Q = np.array([[1.0, 0.0]])
        M = np.array([[x, np.sqrt(1 - x * x)]])
        return rounded_cosine_block(
            Q, np.array([1.0]), M, np.linalg.norm(M, axis=1)
        )[0, 0]

    assert cos_of(0.1234565) == 0.123457  # positive half rounds up
    assert cos_of(-0.1234565) == -0.123457  # negative half rounds AWAY
    assert cos_of(0.1234564) == 0.123456
    assert cos_of(-0.1234564) == -0.123456


def test_vector_topk_matches_per_row_reference(monkeypatch):
    """The shared kernel against a per-row loop: duplicated index rows
    make exact rounded ties (broken by id, which is shuffled so position
    order is not id order), a zero row and a masked entry must never be
    selected, and a row with fewer than k candidates keeps only what it
    has. Query blocks are forced small so the reference also checks the
    block stitching."""
    from desdb_spark.extensions import similarity

    rng = np.random.default_rng(3)
    base = rng.normal(size=(6, 4))
    M = np.vstack([base, base[:3], np.zeros((1, 4))])  # ties + zero row
    ids = rng.permutation(100)[: len(M)]
    Q = np.vstack([rng.normal(size=(4, 4)), base[:1], np.zeros((1, 4))])
    q_ids = rng.permutation(100)[: len(Q)]
    norms = np.linalg.norm(M, axis=1)
    S = similarity.rounded_cosine_block(Q, np.linalg.norm(Q, axis=1), M, norms)

    def reference(k, keep, min_sim):
        out = []
        for i in range(len(Q)):
            cand = [
                (-S[i, j], ids[j], j) for j in range(len(M))
                if keep[i, j] and S[i, j] > -2.0
                and (min_sim is None or S[i, j] >= min_sim)
            ]
            out += [(i, j, -ns) for ns, _, j in sorted(cand)[:k]]
        return out

    monkeypatch.setattr(similarity, "KERNEL_BLOCK_ROWS", 4)
    for k, mask, min_sim in [
        (3, None, None),
        (1, (np.less, q_ids, ids), None),
        (20, (np.not_equal, q_ids % 2, ids % 2), None),
        (None, None, 0.1),
    ]:
        keep = np.ones(S.shape, bool) if mask is None else mask[0](
            mask[1][:, None], mask[2][None, :]
        )
        r, c, s = similarity.vector_topk(Q, ids, M, norms, k=k, mask=mask,
                                         min_sim=min_sim)
        got = list(zip(r.tolist(), c.tolist(), s.tolist()))
        want = reference(len(M) if k is None else k, keep, min_sim)
        if k is None:  # no order promised without k
            got, want = sorted(got), sorted(want)
        assert got == want, (k, mask, min_sim)


def test_zero_norm_embedding_has_no_cosine(spark, tmp_path, monkeypatch):
    """An all-zeros embedding is valid non-NULL data whose cosine is
    0/0 = NaN; unscrubbed, it crashed the hard-negative argmax (NaN fails
    every comparison, so the candidate set went empty) and could poison
    top-k partition cuts (NaN sorts LARGEST under np.partition).
    Contract: NULL and zero-norm vectors alike have no cosine — kernels
    run to completion and the zero vector never appears on either side
    of an emitted pair, in either tier, nor as a bitext anchor or match
    (which once emitted its -2 sentinel as a cosine)."""
    import os
    import shutil

    from desdb_spark.extensions.bitext_mine import (
        ANCHOR_LABEL,
        CAND_LABEL,
        emb_bitext_mine_margin,
    )
    from desdb_spark.extensions.similarity import (
        knn_cosine_topk,
        rounded_cosine_block,
    )
    from desdb_spark.session import TABLES

    # Unit: the scrub maps the NaN row/column to the -2 sentinel.
    Q = np.array([[0.0, 0.0], [1.0, 0.0]])
    S = rounded_cosine_block(Q, np.linalg.norm(Q, axis=1), Q,
                             np.linalg.norm(Q, axis=1))
    assert S[0, 0] == -2.0 and S[0, 1] == -2.0 and S[1, 0] == -2.0
    assert S[1, 1] == 1.0

    # Integration: plant a zero vector on an anchor id, a non-anchor, and
    # the first vector of each bitext side.
    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "zero_fixture")
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        if t == "embeddings":
            df = spark.read.parquet(f"{src}/{t}.parquet")
            firsts = df.groupBy("label").agg(F.min("vec_id").alias("v"))
            zero_ids = {0, 1} | {
                r.v for r in firsts.where(F.col("label").isin(ANCHOR_LABEL, CAND_LABEL))
                .collect()
            }
            assert len(zero_ids) == 4
            dim = df.selectExpr("size(embedding) AS d").first().d
            zero = F.array_repeat(
                F.lit(0.0).cast(dict(df.dtypes)["embedding"][6:-1]), dim
            )
            df = df.withColumn(
                "embedding",
                F.when(F.col("vec_id").isin(*zero_ids), zero).otherwise(
                    F.col("embedding")
                ),
            )
            df.write.parquet(f"{dst}/{t}.parquet")
        else:
            shutil.copyfile(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")

    def rows_without_zero_ids(df):
        rows = df.collect()
        assert rows, "kernel returned nothing on the planted fixture"
        for r in rows:
            ids_in_row = {getattr(r, c) for c in r.__fields__
                          if c.endswith("_id") or c.startswith("vec_")}
            assert not (ids_in_row & zero_ids), r

    rows_without_zero_ids(knn_hard_negatives(spark, dst))
    rows_without_zero_ids(knn_cosine_topk(spark, dst))
    rows_without_zero_ids(emb_bitext_mine_margin(spark, dst))
    monkeypatch.setattr(similarity, "MAX_EXACT_INDEX_ROWS", 0)
    rows_without_zero_ids(knn_hard_negatives(spark, dst))


def test_whitening_gives_identity_covariance(spark):
    rows = emb_whiten_project(spark, SF_DIR).collect()
    assert len(rows) == 64
    for r in rows:
        assert abs(r.whitened_mean) < 1e-3, r
        assert abs(r.whitened_var - 1.0) < 1e-2, r


def test_temperature_mix_sums_to_one_and_flattens(spark):
    rows = corpus_temperature_mix(spark, SF_DIR).collect()
    probs = {r.source: r.sample_prob for r in rows}
    toks = {r.source: r.n_tokens for r in rows}
    assert abs(sum(probs.values()) - 1.0) < 1e-4
    assert abs(sum(r.expected_tokens for r in rows) - 1_000_000) < len(rows)
    # tau < 1 compresses ratios: the prob ratio between the biggest and
    # smallest source must be strictly smaller than their token ratio.
    big = max(toks, key=toks.get)
    small = min(toks, key=toks.get)
    if toks[big] > toks[small]:
        assert probs[big] / probs[small] < toks[big] / toks[small]
        want = (toks[big] / toks[small]) ** TAU
        assert abs(probs[big] / probs[small] - want) / want < 1e-3
