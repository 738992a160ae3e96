"""Seeded input generation.

Every input the program sees is written here from ``--seed``: the sf0.1-shaped
fixture tables (same schemas and row counts as the project's test fixtures),
the per-batch curation corpora and the pre-generated lake upsert batches. The
same seed gives byte-identical files; nothing is read from outside the run
directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 row counts of the fixture tables.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
PART_WORDS = (
    "anvil blue bolt cold gear gizmo hot large new old plate red ring rod small "
    "widget"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
EMB_DIM = 64

_US_PER_DAY = 86_400 * 1_000_000
_D1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_D2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    # Planted exact duplicates and near duplicates (a few words replaced) so
    # every dedup tier has clusters to find.
    for i in rng.choice(n, n // 500, replace=False):
        out[i] = out[(i + 1) % n]
    for i in rng.choice(n, n // 50, replace=False):
        toks = out[(i + 7) % n].split()
        for j in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
            toks[j] = VOCAB[rng.integers(0, len(VOCAB))]
        out[i] = " ".join(toks)
    return out


def documents_table(rng: np.random.Generator, n: int = ROWS["documents"]) -> pa.Table:
    text = _docs(rng, n)
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": text,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int = ROWS["embeddings"]) -> pa.Table:
    e = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(e), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def fixture_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0])
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    ck = np.arange(n["customer"], dtype=np.int64)
    t["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n["customer"])],
        }
    )
    sk = np.arange(n["supplier"], dtype=np.int64)
    t["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    pk = np.arange(n["part"], dtype=np.int64)
    pw = rng.integers(0, len(PART_WORDS), (n["part"], 2))
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in pw],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])[
                rng.integers(0, 6, n["part"])
            ],
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2),
        }
    )
    ok = np.arange(n["orders"], dtype=np.int64)
    order_days = rng.integers(0, 2404, n["orders"])
    t["orders"] = pa.table(
        {
            "o_orderkey": ok,
            # A few customers never order (the anti-join fixture shape).
            "o_custkey": rng.integers(0, n["customer"] - 1, n["orders"]).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
            "o_totalprice": _cents(rng, 1000.0, 500_000.0, n["orders"]),
            "o_orderdate": _ts(_D1995 + order_days * _US_PER_DAY),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n["orders"])],
        }
    )
    nl = n["lineitem"]
    flags = rng.integers(0, 6, nl)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], nl).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], nl).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
            "l_linestatus": np.array(["F", "O"])[flags % 2],
            "l_shipdate": _ts(_D1995 + rng.integers(1, 2500, nl) * _US_PER_DAY),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(30 * _US_PER_DAY / ne, ne)
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": _ts(_D2024 + np.cumsum(gaps).astype(np.int64)),
            "user_id": rng.integers(0, 1500, ne).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": _cents(rng, 0.0, 200.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = documents_table(rng)
    t["embeddings"] = embeddings_table(rng)
    return t


def write_fixtures(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(seed).items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_curation_batch(
    seed: int, batch: int, docs: pa.Table, embs: pa.Table, n_docs: int, n_vecs: int,
    out_dir: str,
) -> None:
    """One crawl batch derived from the base corpus: a seeded resample, a
    per-batch token suffix on every word (new token sets, so no memo keyed on
    file fingerprints or content can serve it) and a per-batch sign flip on the
    embeddings (cosines within the batch are preserved exactly)."""
    rng = np.random.default_rng([seed, 1, batch])
    os.makedirs(out_dir, exist_ok=True)
    di = np.sort(rng.choice(docs.num_rows, n_docs, replace=False))
    d = docs.take(pa.array(di))
    suffix = f"_b{batch}"
    text = [" ".join(w + suffix for w in t.split()) for t in d.column("text").to_pylist()]
    write_table(
        pa.table(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": text,
                "lang": d.column("lang"),
                "source": d.column("source"),
                "n_chars": np.array([len(t) for t in text], dtype=np.int64),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    vi = np.sort(rng.choice(embs.num_rows, n_vecs, replace=False))
    e = embs.take(pa.array(vi))
    flip = np.where(rng.random(EMB_DIM) < 0.5, -1.0, 1.0).astype(np.float32)
    vecs = np.stack(e.column("embedding").to_numpy(zero_copy_only=False)) * flip
    write_table(
        pa.table(
            {
                "vec_id": np.arange(n_vecs, dtype=np.int64),
                "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
                "label": e.column("label"),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )


def lake_batch(
    seed: int, i: int, n_keys: int, next_new_key: int, max_rows: int
) -> pa.Table:
    """Upsert batch ``i``: range-local updates drawn from the live key range
    [0, n_keys) plus fresh inserts starting at ``next_new_key``. Batch size is
    seeded; a third of the rows are inserts."""
    rng = np.random.default_rng([seed, 2, i])
    rows = int(rng.integers(max_rows // 2, max_rows + 1))
    n_ins = rows // 3
    n_upd = rows - n_ins
    span = max(n_keys // 8, n_upd * 4)
    lo = int(rng.integers(0, max(1, n_keys - span)))
    upd = lo + rng.choice(span, n_upd, replace=False)
    ins = next_new_key + np.arange(n_ins)
    k = np.concatenate([upd, ins]).astype(np.int64)
    return pa.table(
        {"k": k, "cents": rng.integers(100_000, 50_000_000, rows).astype(np.int64)}
    )
