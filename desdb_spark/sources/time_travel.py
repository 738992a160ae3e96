"""Round-8: manifest-based snapshot versioning with time-travel reads —
the core mechanism of every lakehouse table format (Delta/Iceberg/Hudi,
all public designs): a table version is a MANIFEST (a tiny JSON list of
immutable data files), an append commits new files plus a new manifest,
and "AS OF v" reads are simply "read the files v's manifest names".
Readers never list the directory — the manifest is the source of truth,
which is what makes concurrent appends and time travel safe on object
storage where listing is slow and eventually consistent.

Scale shape: data files are written executor-parallel and never
rewritten (append = new files + new manifest, exactly the format's
O(1)-metadata commit); a manifest is KBs regardless of table size; the
versioned read hands Spark an explicit file list, so planning cost is
proportional to the snapshot's file count, not the directory's history.

The op is hash-checked: both snapshots' aggregates must equal DuckDB
computing the same split directly from the source table — proving both
snapshot isolation (v1 is unaffected by the append) and the append's
completeness (v2 equals the full table).
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, read_parquet

#: v1 = orders strictly before the pivot; the v2 append adds the rest.
PIVOT_DATE = "1998-01-01"


def _table_root(spark: SparkSession) -> str:
    from desdb_spark.sources.sinks import _stage_dir

    return _stage_dir(spark, "tt_orders")


def write_data_files(
    df: DataFrame, root: str, version: int, stats_col=None
) -> list:
    """Write ``df`` as immutable data files under data_v{n}/ and return
    their manifest entries: plain paths; {path, min, max} dicts when
    ``stats_col`` is a single column name (that column's per-file zone
    map, read from the parquet footer); or {path, stats: {col: [min,
    max]}} dicts when ``stats_col`` is a LIST of names (the
    multi-dimension zone map a Z-ordered layout needs — Iceberg/Delta
    likewise keep per-file bounds for every clustering column). Writing
    commits nothing — a version exists only once :func:`commit_manifest`
    names these files."""
    out = os.path.join(root, f"data_v{version}")
    df.write.mode("overwrite").parquet(out)
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    if stats_col is None:
        return files

    import pyarrow.parquet as pq

    multi = not isinstance(stats_col, str)
    cols = list(stats_col) if multi else [stats_col]
    entries = []
    for p in files:
        md = pq.ParquetFile(p).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats = {}
        for c in cols:
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                mins.append(st.min)
                maxs.append(st.max)
            stats[c] = [str(min(mins)), str(max(maxs))]
        if multi:
            entries.append({"path": p, "stats": stats})
        else:
            entries.append(
                {"path": p, "min": stats[cols[0]][0], "max": stats[cols[0]][1]}
            )
    return entries


def commit_manifest(root: str, version: int, entries: list) -> list:
    """Commit manifest/v{n}.json naming exactly ``entries`` — the
    atomic-rename-equivalent step every lakehouse format ends a
    transaction with. Callers choose the semantics: append passes
    prior + new, MERGE passes untouched + rewritten."""
    os.makedirs(os.path.join(root, "manifest"), exist_ok=True)
    manifest = {"version": version, "files": entries}
    with open(os.path.join(root, "manifest", f"v{version}.json"), "w") as fh:
        json.dump(manifest, fh)
    return entries


def read_manifest(root: str, version: int) -> list:
    with open(os.path.join(root, "manifest", f"v{version}.json")) as fh:
        return json.load(fh)["files"]


def write_version(
    df: DataFrame, root: str, version: int, stats_col: str | None = None
) -> list:
    """Append ``df`` as a new snapshot: write immutable data files, then
    commit manifest/v{n}.json = prior entries + new entries. Returns the
    committed entry list."""
    entries = write_data_files(df, root, version, stats_col=stats_col)
    prior: list = [] if version == 1 else read_manifest(root, version - 1)
    return commit_manifest(root, version, prior + entries)


def read_as_of(spark: SparkSession, root: str, version: int) -> DataFrame:
    """Time-travel read: the file list comes from the manifest, never
    from a directory listing."""
    entries = read_manifest(root, version)
    files = [e["path"] if isinstance(e, dict) else e for e in entries]
    return read_parquet(spark, *files)


def read_pruned(
    spark: SparkSession, root: str, version: int, lo: str
):
    """Manifest-level zone-map pruning: skip every file whose recorded
    max < ``lo`` BEFORE Spark ever sees it — file-level skipping decided
    from KBs of manifest, the I/O lever row-group stats can't give you
    because they require opening each footer. Pruning is lossless by
    construction (a skipped file cannot contain a qualifying row; files
    that straddle the bound are read and re-filtered). Returns
    (DataFrame, n_total_files, n_scanned_files)."""
    with open(os.path.join(root, "manifest", f"v{version}.json")) as fh:
        entries = json.load(fh)["files"]
    keep = [e["path"] for e in entries if e["max"] >= lo]
    df = read_parquet(spark, *keep).where(F.col("o_orderdate") >= lo)
    return df, len(entries), len(keep)


#: Pruned-read predicate bound: the tail of the orders date range.
PRUNE_LO = "2000-01-01"


@register(
    "source_manifest_pruned_read",
    oracle=f"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               min(o_orderdate) AS min_date,
               max(o_orderdate) AS max_date
        FROM orders WHERE o_orderdate >= DATE '{PRUNE_LO}'
    """,
    group="time_travel",
)
def source_manifest_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest zone-map pruning end to end: write orders range-
    clustered on o_orderdate (disjoint per-file date ranges) with
    per-file min/max recorded in the manifest, then answer a date-tail
    query reading ONLY the files whose range overlaps. The hashed
    aggregate equals DuckDB filtering the source directly — pruning is
    lossless whatever the sampled range boundaries are — while the
    pruning RATIO (files skipped) is pinned in tests/test_time_travel.py
    because sampled file boundaries are environment-dependent and have
    no place in a value hash.

    Scale shape: the query's I/O is proportional to the date selection,
    decided from a KB manifest with zero footer opens and zero
    directory listings — at 100 TB this is the difference between
    touching 3 files and listing 3 million.
    """
    from desdb_spark.sources.sinks import _stage_dir

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    root = _stage_dir(spark, "ttp_orders")
    clustered = o.repartitionByRange(4, "o_orderdate").sortWithinPartitions(
        "o_orderdate"
    )
    write_version(clustered, root, 1, stats_col="o_orderdate")
    df, _total, _scanned = read_pruned(spark, root, 1, PRUNE_LO)
    return df.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    )


@register(
    "source_time_travel_read",
    oracle=f"""
        SELECT 1 AS version,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               max(o_orderdate) AS max_date
        FROM orders WHERE o_orderdate < DATE '{PIVOT_DATE}'
        UNION ALL
        SELECT 2,
               CAST(count(*) AS BIGINT),
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT),
               max(o_orderdate)
        FROM orders
    """,
    group="time_travel",
)
def source_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a two-version manifest table (v1 = pre-pivot orders, v2 =
    v1 + the append of the rest), then time-travel read BOTH versions
    and aggregate each — hashed against DuckDB splitting the source
    directly, so v1's isolation from the append and v2's completeness
    are both inside the differential gate.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    root = _table_root(spark)
    write_version(o.where(F.col("o_orderdate") < PIVOT_DATE), root, 1)
    write_version(o.where(F.col("o_orderdate") >= PIVOT_DATE), root, 2)

    def snap_agg(version: int) -> DataFrame:
        return read_as_of(spark, root, version).agg(
            F.lit(version).alias("version"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
            F.max("o_orderdate").alias("max_date"),
        )

    return snap_agg(1).unionByName(snap_agg(2))
