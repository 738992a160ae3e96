"""Round-7: custom Python DataSource WRITER — the write half of Spark
4's Python DataSource API (the read half is sources/filecatalog.py).
A user-defined format gets full ``df.write.format(...)`` integration:
Spark plans the job, fans partitions out to executors, calls the
writer once per task (returning a commit message), and ``commit`` runs
once on the driver with every task's message — the two-phase commit
shape every table format builds on.

The demo format ("kvtext") is deliberately trivial — one
``key=value;…`` line per row — because the op under test is the
PROTOCOL: task-parallel writes, per-task commit messages, driver-side
commit manifest, and a reader that restores typed rows from the
written files. The registered op round-trips an orders projection and
hash-checks the re-read aggregate against DuckDB on the source.

r12b: both halves moved onto the ARROW batch path the API provides —
the writer subclasses ``DataSourceArrowWriter`` (the task iterator
yields ``pyarrow.RecordBatch``, formatted to lines with vectorized
pandas string ops) and the reader yields ``RecordBatch`` objects
parsed with one vectorized regex extract per file. Same bytes on
disk, same commit protocol, but the per-row Python hop — the thing
that made the old shape 7.5 s for a 150k-row round-trip at sf0.1 —
is gone (~4x); this is exactly the "swap the toy encoding for Arrow
without touching the protocol" upgrade the original docstring
promised, and the shape a real 100 TB custom format must use.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from desdb_spark.registry import register
from desdb_spark.session import load_table

FORMAT_NAME = "kvtext"
_SCHEMA_DDL = "o_orderkey bigint, o_orderstatus string, o_total_cents bigint"
_LINE_RE = r"^o_orderkey=(-?\d+);o_orderstatus=([^;]*);o_total_cents=(-?\d+)$"


class _KvCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int) -> None:
        self.path = path
        self.rows = rows


class KvTextWriter(DataSourceArrowWriter):
    def __init__(self, options: dict) -> None:
        self.root = options["path"]

    def write(self, iterator) -> _KvCommit:
        """Runs ONCE PER TASK on the executor: stream the partition's
        Arrow batches to a task-private file (no coordination until
        commit). Formatting is vectorized pandas string concatenation —
        no per-row Python."""
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.root, exist_ok=True)
        path = os.path.join(self.root, f"part-{pid:05d}.kvtext")
        n = 0
        with open(path, "w") as fh:
            for batch in iterator:
                pdf = batch.to_pandas()
                lines = (
                    "o_orderkey="
                    + pdf["o_orderkey"].astype(str)
                    + ";o_orderstatus="
                    + pdf["o_orderstatus"].astype(str)
                    + ";o_total_cents="
                    + pdf["o_total_cents"].astype(str)
                    + "\n"
                )
                fh.write("".join(lines))
                n += len(pdf)
        return _KvCommit(path, n)

    def commit(self, messages) -> None:
        """Driver-side: publish the manifest — the atomic-visibility
        point a real format (Delta/Iceberg commit) builds on."""
        with open(os.path.join(self.root, "_MANIFEST"), "w") as fh:
            for m in messages:
                fh.write(f"{os.path.basename(m.path)}\t{m.rows}\n")

    def abort(self, messages) -> None:
        for m in messages:
            try:
                os.remove(m.path)
            except OSError:
                pass


class KvTextReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.root = options["path"]

    def partitions(self):
        with open(os.path.join(self.root, "_MANIFEST")) as fh:
            files = [ln.split("\t")[0] for ln in fh if ln.strip()]
        return [InputPartition(f) for f in sorted(files)]

    def read(self, partition: InputPartition):
        """One vectorized parse per task file, yielded as an Arrow
        RecordBatch (the API's batch fast path); a malformed line
        fails loudly via the int cast instead of silently dropping."""
        import pandas as pd
        import pyarrow as pa

        with open(os.path.join(self.root, partition.value)) as fh:
            raw = fh.read().splitlines()
        if not raw:
            return
        parts = pd.Series(raw).str.extract(_LINE_RE)
        if parts.isna().any().any():
            bad = pd.Series(raw)[parts.isna().any(axis=1)].iloc[0]
            raise ValueError(f"malformed kvtext line: {bad!r}")
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(parts[0].astype("int64"), type=pa.int64()),
                pa.array(parts[1], type=pa.string()),
                pa.array(parts[2].astype("int64"), type=pa.int64()),
            ],
            names=["o_orderkey", "o_orderstatus", "o_total_cents"],
        )


class KvTextDataSource(DataSource):
    """df.write.format("kvtext") / spark.read.format("kvtext")."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        return _SCHEMA_DDL

    def writer(self, schema: StructType, overwrite: bool) -> KvTextWriter:
        return KvTextWriter(dict(self.options))

    def reader(self, schema: StructType) -> DataSourceReader:
        return KvTextReader(dict(self.options))


def register_kvtext(spark: SparkSession) -> None:
    spark.dataSource.register(KvTextDataSource)


@register(
    "sink_python_datasource",
    # Round-trip proof, the sink discipline: the re-read aggregate must
    # equal DuckDB's aggregate over the source table — a lossy custom
    # writer, a dropped task file, or a bad manifest fails the hash.
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
        FROM orders
    """,
    group="pyds_sink",
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an orders projection through the custom Python DataSource
    writer (task-parallel files + driver commit manifest), read it back
    through the matching reader, and return the content aggregate.

    Scale shape: the writer is the PROTOCOL demo — each task streams
    its partition to its own file and coordination happens only at the
    driver commit, exactly how distributed table formats write. Both
    directions ride the API's Arrow batch path (vectorized format /
    parse, no per-row Python). Money rides as exact integer cents
    through the text roundtrip, so the hash needs no float tolerance.
    """
    import tempfile

    register_kvtext(spark)
    out = os.path.join(
        tempfile.gettempdir(),
        f"desdb_kvtext_{spark.sparkContext.applicationId}",
    )
    proj = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("bigint")
        .alias("o_total_cents"),
    )
    proj.write.format(FORMAT_NAME).mode("append").option("path", out).save()
    back = spark.read.format(FORMAT_NAME).option("path", out).load()
    return back.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
        F.sum("o_total_cents").cast("bigint").alias("sum_cents"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("n_statuses"),
    )
