"""Custom Python DataSource writer: commit manifest integrity and
repeat-invocation consistency."""

from __future__ import annotations

import os
import tempfile
import time

from desdb_spark.extensions.ann_pq import ann_pq_codebook_stats
from desdb_spark.session import thread_pool
from desdb_spark.sources.pyds_sink import sink_python_datasource
from tests.conftest import SF_DIR


def test_writer_commit_manifest_and_idempotency(spark, tables):
    (first,) = sink_python_datasource(spark, SF_DIR).collect()
    assert first.n_rows == tables["orders"].count()

    out = os.path.join(
        tempfile.gettempdir(),
        f"desdb_kvtext_{spark.sparkContext.applicationId}",
    )
    manifest = os.path.join(out, "_MANIFEST")
    assert os.path.exists(manifest)
    entries = [
        ln.strip().split("\t") for ln in open(manifest) if ln.strip()
    ]
    # every manifest entry names an existing file with the declared rows
    total = 0
    for fname, rows in entries:
        path = os.path.join(out, fname)
        assert os.path.exists(path), fname
        n = sum(1 for _ in open(path))
        assert n == int(rows), fname
        total += n
    assert total == first.n_rows

    # a second run in the same session must produce the identical result
    (second,) = sink_python_datasource(spark, SF_DIR).collect()
    assert (second.n_rows, second.n_orders, second.sum_cents, second.n_statuses) == (
        first.n_rows,
        first.n_orders,
        first.sum_cents,
        first.n_statuses,
    )


def test_kvtext_rides_the_arrow_batch_path(spark, tables):
    """Both DataSource halves must stay on the Arrow path (r12b: the
    per-row Python hop made the round-trip 7.5 s at sf0.1; the batch
    path is ~1.5 s). A refactor that silently drops back to yielding
    tuples or subclassing plain DataSourceWriter re-pays it."""
    import pyarrow as pa
    from pyspark.sql.datasource import DataSourceArrowWriter

    from desdb_spark.sources.pyds_sink import (
        KvTextReader,
        KvTextWriter,
        sink_python_datasource,
    )

    assert issubclass(KvTextWriter, DataSourceArrowWriter)

    # The reader must yield RecordBatch objects, not per-row tuples.
    import tempfile

    sink_python_datasource(spark, SF_DIR).collect()
    out = os.path.join(
        tempfile.gettempdir(),
        f"desdb_kvtext_{spark.sparkContext.applicationId}",
    )
    reader = KvTextReader({"path": out})
    parts = reader.partitions()
    assert parts
    batches = list(reader.read(parts[0]))
    assert batches and all(isinstance(b, pa.RecordBatch) for b in batches)
    assert batches[0].schema.names == [
        "o_orderkey",
        "o_orderstatus",
        "o_total_cents",
    ]


def test_sink_resolves_after_a_thread_pool_op(spark):
    """``ann_pq_codebook_stats`` fits on a driver thread pool. Afterwards
    the caller's py4j calls run on a JVM thread the pool opened, and the
    Python data source must still resolve through the active session
    there (``session.thread_pool``)."""
    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    assert ann_pq_codebook_stats(spark, sf).count() > 0
    assert spark._jvm.SparkSession.getActiveSession().isDefined()
    (row,) = sink_python_datasource(spark, sf).collect()
    assert row.n_rows > 0
    assert spark._jvm.SparkSession.getActiveSession().isDefined()


def test_thread_pool_leaves_the_caller_with_an_active_session(spark):
    """Workers that end on a JVM thread without an active session (cleared
    here) hand that thread to the caller's next py4j call. A raw pool
    leaves it there; ``thread_pool`` sets the session again after the
    join."""
    from concurrent.futures import ThreadPoolExecutor

    jvm_session = spark._jvm.SparkSession

    def clear(_):
        jvm_session.clearActiveSession()
        time.sleep(0.05)

    def active() -> list[bool]:
        return [jvm_session.getActiveSession().isDefined() for _ in range(6)]

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(clear, range(8)))
    assert not any(active())  # the probe sees the lost session
    jvm_session.setActiveSession(spark._jsparkSession)

    with thread_pool(spark, 4) as pool:
        list(pool.map(clear, range(8)))
    assert all(active())
