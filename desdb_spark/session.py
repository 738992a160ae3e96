"""SparkSession + table-loading substrate (SURVEY.md §7.1 M0).

Reference parity: desdb's ``Connection`` managed an Oracle session and the
set of server-side tables [desdb:desdb.py Connection — reconstructed, see
SURVEY.md §0]. Here the "connection" is a SparkSession and the "schema" is
the fixture parquet directory: ``load_tables`` registers every table as a
temp view so both the DataFrame API (EP2) and ``spark.sql`` passthrough
(EP1, desdb's ``quick()``) work against the same catalog. Every parquet
read in the package goes through ``read_parquet``, whose docstring states
the one-footer rule: a schema costs one driver footer read, not a Spark
job, so opening a connection runs no job per table.

Scale notes (100 TB): everything here is declarative — the reader never
materializes on the driver. The only session-level tuning baked in is AQE
(runtime shuffle-partition coalescing + skew-join splitting), which is the
correct default for unknown data volumes; per-table layout decisions
(partitioning, bucketing) belong to the writers in sources/sinks.py.
"""

from __future__ import annotations

import functools
import logging
import os
from contextlib import contextmanager
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, _parse_datatype_json_string

#: All fixture tables, in FK-dependency order (TESTDATA.md / FIXTURES.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: HotSpot's Tier4 (C2) invocation thresholds at 10x their JDK 17 defaults
#: (5000/600/15000) and its loop (OSR) threshold at 3x (40000);
#: ``get_spark`` says why.
JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=120000"
)


def spark_cpus() -> int | None:
    """``$SPARK_GRAFT_CPUS`` as a positive core count; ``None`` (all cores)
    when unset, and with a warning when it is set to anything but a
    positive integer (empty included)."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return None
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n > 0:
        return n
    logging.getLogger(__name__).warning(
        "SPARK_GRAFT_CPUS=%r is not a positive integer; using all cores", raw
    )
    return None


def get_spark(
    app_name: str = "desdb-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    The events fixture stores ``timestamp[ns]``; how the parquet reader
    surfaces it has drifted across PySpark 4.1.2 builds (``nanosAsLong`` →
    bigint in older builds; the conf is silently ignored in the current one,
    which reads TIMESTAMP(NANOS) as timestamp_ntz). The conf is still set
    as best-effort for older builds; the dtype-conditional
    ``normalize_events_ts`` is the real shim — never rely on the conf.

    The JVM runs ``JIT_POLICY``: HotSpot's Tier4 (C2) invocation
    thresholds at 10x their JDK 17 defaults and its back-edge (loop)
    threshold at 3x. A desdb session runs a few queries and exits, and in
    such a cold session C2 compiler threads were the largest CPU consumer
    (25.6 of 51.9 JVM CPU-s on a curation batch). Under the policy, code
    that is hot only briefly (Catalyst rules, Janino, the planner) stays
    in C1 code and never pays for a C2 compile, while executor row loops
    still reach C2 through their back-edge counts. The loop threshold is
    held at 3x because each fresh plan brings new generated classes whose
    loops start over in C1: at 10x, warm passes over the llm suite spent
    about 8 CPU-s more per pass in executor tasks. C1-only cut cold CPU
    further but doubled warm pass times. The policy goes in as
    ``spark.driver.defaultJavaOptions`` so a caller's
    ``spark.driver.extraJavaOptions`` (perfbench's tmpdir) adds to it. It
    applies only when this call launches the JVM: not under spark-submit
    or ``PYSPARK_GATEWAY_PORT`` (the JVM already runs), and not when a
    session already exists. ``spark.driver.defaultJavaOptions`` in
    ``extra_conf`` replaces it, as with any Spark conf.

    ``SPARK_GRAFT_CPUS`` sets the local core count (``spark_cpus``).

    The first session of a process starts py4j's classic gateway
    (``PYSPARK_PIN_THREAD=false`` unless the caller set it). PySpark's
    default pinned-thread client hands every JVM-object release to a
    worker thread that polls once a second, and a ``_jdf`` that had a
    method called on it sits in a Python reference cycle, so it is only
    dropped at a cyclic collection. The JVM then keeps each finished
    query's plan — and through it the broadcast relations and
    checkpoint blocks that the context cleaner would free — for up to a
    second after Python let go, and how many JVM GCs that takes depends
    on the worker's phase. The classic client sends each release as soon
    as Python collects the handle. Thread-local JVM state (the active
    session, job groups, local properties) then follows the py4j
    connection rather than the Python thread; ``thread_pool`` keeps the
    active session across Python threads, and the engine sets no other.
    """
    os.environ.setdefault("PYSPARK_PIN_THREAD", "false")
    builder = (
        SparkSession.builder.master(f"local[{spark_cpus() or '*'}]")
        .appName(app_name)
        .config("spark.driver.defaultJavaOptions", JIT_POLICY)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def thread_pool(spark: SparkSession, workers: int):
    """A ``ThreadPoolExecutor`` for driver-side fan-out (concurrent fits,
    overlapping plan tiers) that keeps ``spark`` the JVM's active session.

    Under the classic py4j gateway (``get_spark``) each concurrent Python
    thread opens its own gateway connection, served by its own JVM thread,
    and a later call from the caller reuses whichever connection came back
    last. The active session is a JVM thread-local, so after a pool the
    caller's calls can land on a JVM thread that has none: Spark then
    resolves a Python data source through no session
    (``DATA_SOURCE_NOT_FOUND`` at ``save``), and driver code that reads
    ``SQLConf.get`` outside a query would see the default conf. Each worker sets ``spark`` active when it starts, and
    the caller sets it again after the join. Every thread pool in the
    package comes through here (``tests/test_plan_audit.py`` lints for
    it)."""
    from concurrent.futures import ThreadPoolExecutor

    def activate() -> None:
        spark._jvm.SparkSession.setActiveSession(spark._jsparkSession)

    pool = ThreadPoolExecutor(max_workers=workers, initializer=activate)
    try:
        yield pool
    finally:
        pool.shutdown(wait=True)
        activate()


def scoped_export_dir(name: str) -> str:
    """Static-per-checkout path for a differential-oracle export sink.

    A fixed world-readable path would let a stale export, another user,
    or a concurrent harness feed the DuckDB oracle data the op never
    produced. The path lives under the checkout's gitignored
    ``_scratch/exports/``, not /tmp: it stays a STATIC string at import
    time (the oracle SQL embeds it), each checkout owns its own tree, and
    repo-directory permissions gate every write — under /tmp an adversary
    could pre-create the predictable path as world-writable and inject
    rows copying the visible run_token, a silent wrong-pass. The user
    suffix keeps two users of one checkout apart; a concurrent harness in
    the same checkout is caught by the run_token column each export
    carries (the hashed report includes n_runs = count(distinct
    run_token), so a torn/mixed read fails deterministically)."""
    import getpass

    try:
        user = getpass.getuser()
    except Exception:  # no USER/LOGNAME and no passwd entry (bare container)
        user = f"uid{os.getuid()}" if hasattr(os, "getuid") else "nouser"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(repo, "_scratch", "exports", f"{name}_{user}")


def table_fingerprint(sf_dir: str, name: str) -> tuple:
    """Cheap identity of a table's files: (path, mtime_ns, size) per file.

    Local-filesystem stat only; non-local paths (or stat failures) degrade
    to a constant path-only key rather than raising, so ``memo`` cannot see
    a rewrite there. Object-store users should call ``clear_memo`` after
    rewrites.
    """
    root = os.path.join(sf_dir.rstrip("/"), f"{name}.parquet")
    try:
        if os.path.isfile(root):
            st = os.stat(root)
            return ((root, st.st_mtime_ns, st.st_size),)
        out = []
        for dirpath, _, files in os.walk(root):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out.append((p, st.st_mtime_ns, st.st_size))
        return tuple(out) or ((root, None, None),)
    except OSError:
        return ((root, None, None),)


#: The session memo: slot (sf_dir, table, kind) -> (stamp, value).
_MEMO: dict[tuple, tuple] = {}


def memo(spark: SparkSession, sf_dir: str, table: str, kind: str, build):
    """``build()``'s value for ``table``'s current files, built once per
    session.

    Each slot ``(sf_dir, table, kind)`` holds one entry, stamped with
    ``(applicationId, table_fingerprint(sf_dir, table))``. A lookup with
    the same stamp returns the stored value. Any other stamp (the table
    was rewritten, or the entry belongs to a stopped application) drops
    the entry, calls ``build()`` and stores the result; if ``build()``
    raises, the slot stays empty.

    Eviction drops the reference only, never ``unpersist``/``destroy``:
    a frame built from the old checkpoint or broadcast may still be
    executed. The JVM object is freed at the next GC once nothing holds
    it (``get_spark``'s classic py4j gateway releases it synchronously).

    The fingerprint stats local files only, so a rewrite on an object
    store is invisible here: call ``clear_memo`` after it.
    """
    slot = (sf_dir.rstrip("/"), table, kind)
    stamp = (spark.sparkContext.applicationId, table_fingerprint(sf_dir, table))
    entry = _MEMO.get(slot)
    if entry is not None and entry[0] == stamp:
        return entry[1]
    _MEMO.pop(slot, None)
    value = build()
    _MEMO[slot] = (stamp, value)
    return value


def clear_memo() -> None:
    _MEMO.clear()


def table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk bytes of one fixture table's parquet files — a free
    (driver-side stat, no Spark job) monotone scale statistic for
    broadcast gates. ``None`` when the size is unknowable (non-local
    path / stat failure), which gates must treat as too big: at real
    scale the data lives where stat fails, and the safe degradation is
    the planner's join choice, never a forced broadcast."""
    return dir_bytes(os.path.join(sf_dir.rstrip("/"), f"{name}.parquet"))


def dir_bytes(path: str) -> int | None:
    """``table_bytes`` for an arbitrary local file/directory (engine-
    written side tables: deletion vectors, staged batches)."""
    try:
        if os.path.isfile(path):
            return os.stat(path).st_size
        total = 0
        seen = False
        for dirpath, _, files in os.walk(path):
            for f in files:
                total += os.stat(os.path.join(dirpath, f)).st_size
                seen = True
        return total if seen else None
    except OSError:
        return None


def maybe_broadcast(df: DataFrame, est_bytes: int | None) -> DataFrame:
    """``F.broadcast(df)`` while ``est_bytes`` is within the session's
    ``spark.sql.autoBroadcastJoinThreshold``; the bare frame (planner's
    choice) when it is bigger, unknowable (``None``) or the threshold is
    ``-1``. The threshold is read through Spark's own conf parsing, so
    one setting bounds the planner's broadcasts and this gate together.

    The broadcast rule for the whole engine:

    - A table scan (a filtered or projected ``load_table``) gets no hint.
      The planner sizes it from the same file bytes ``table_bytes`` reads.
    - A derived frame bounded by construction (a per-label aggregate, an
      op-constant query set) keeps a plain ``F.broadcast``. The planner's
      estimate of an aggregate inherits its input's size, so it cannot
      see the bound.
    - A derived frame that grows with the corpus comes through here, with
      ``est_bytes`` from ``table_bytes``/``dir_bytes`` or from a row or
      element count the op already holds.

    The hint is a pure planner directive, so gating it can never change
    results — only the join strategy."""
    if est_bytes is None:
        return df
    threshold = (
        df.sparkSession._jsparkSession.sessionState()
        .conf()
        .autoBroadcastJoinThreshold()
    )
    return F.broadcast(df) if 0 <= est_bytes <= threshold else df


def pin_session_confs(spark: SparkSession) -> None:
    """Pin runtime-settable confs any fixture read depends on: the driver
    may hand us a session built without UTC timezone / AQE. The UTC pin is
    load-bearing for events: ``normalize_events_ts`` casts timestamp_ntz →
    timestamp, which is wall-clock-exact only under UTC. ``nanosAsLong``
    stays as best-effort for older builds that reject TIMESTAMP(NANOS)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # A stock session means nobody tuned parallelism: 200 shuffle tasks per
    # op is pure scheduling overhead at fixture scale. Respect any
    # non-default setting (bench pins 4, selfcheck 8).
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", "32")


def values_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Tiny literal result frame via an inline SQL ``VALUES`` scan.

    ``spark.createDataFrame(list, ddl)`` routes small fitted-scalar
    results through RDD ``parallelize`` + per-row schema verification and
    costs 1.4-3 s of job/py4j overhead PER CALL even for 5 rows (measured
    at the bench session confs; an ``orderBy`` on the parallelized frame
    adds another ~1.3 s). The same rows as an inline ``VALUES`` string
    plan as a ``LocalRelation`` — zero jobs, ~0.2 s to materialize, and a
    later ``orderBy`` stays floor-bound. Driver-scale safe by contract:
    callers only emit bounded fitted-scalar grids (a handful of rows).

    Supported cell types: int, bool, str, None, float. Floats embed as
    ``CAST('<repr>' AS DOUBLE)`` — repr() is the shortest round-trip
    decimal and Spark's string→double parse is correctly rounded, so the
    exact IEEE bits survive (a bare decimal literal would instead parse
    as DECIMAL and change semantics). Non-finite doubles use Spark's named literals.

    ``ddl`` is parsed by Spark's own DDL parser, so parameterized types
    (``decimal(10,2)``) and quoted names are handled; every field must be
    a scalar type — a ``VALUES`` row of literals cannot express arrays,
    maps or structs, so those raise ``ValueError``.
    """
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructType,
        VariantType,
        _parse_datatype_string,
    )

    schema = _parse_datatype_string(ddl)
    if not isinstance(schema, StructType):
        raise ValueError(f"values_frame: {ddl!r} is not a field list")
    nested = (ArrayType, MapType, StructType, VariantType)
    for f in schema.fields:
        if isinstance(f.dataType, nested):
            raise ValueError(
                f"values_frame: field {f.name!r} has non-scalar type "
                f"{f.dataType.simpleString()}; only scalar fields are supported"
            )
    if not rows:
        return spark.createDataFrame([], schema)

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return repr(v)
        if isinstance(v, float):
            if v != v:
                return "CAST('NaN' AS DOUBLE)"
            if v in (float("inf"), float("-inf")):
                return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
            return f"CAST('{v!r}' AS DOUBLE)"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        raise TypeError(f"values_frame: unsupported literal {type(v).__name__}")

    vals = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    names = [f"`{f.name.replace('`', '``')}`" for f in schema.fields]
    sel = ", ".join(
        f"CAST({n} AS {f.dataType.simpleString()}) AS {n}"
        for n, f in zip(names, schema.fields)
    )
    return spark.sql(
        f"SELECT {sel} FROM (VALUES {vals}) AS t({', '.join(names)})"
    )


def normalize_events_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp column to a session-TZ ``timestamp``,
    whatever the parquet reader surfaced it as.

    The fixture stores ``timestamp[ns]``, which different PySpark builds
    surface differently (observed drift within this project's lifetime):

    - ``bigint`` — when ``spark.sql.legacy.parquet.nanosAsLong`` is honored:
      nanos→micros via integer division (exact, no double round-trip).
    - ``timestamp_ntz`` — current PySpark 4.1.2 ignores the legacy conf and
      reads TIMESTAMP(NANOS) as NTZ truncated to micros. Cast to ``timestamp``
      under the pinned UTC session TZ — wall-clock identical, µs-exact with
      the DuckDB oracle (verified: 2024-01-01 00:09:58.778549 both paths).
    - ``timestamp`` — already normalized; pass through.

    Works on both batch and streaming DataFrames (pure column expression).
    Every code path that reads events parquet — batch ``load_table`` or a
    ``readStream`` source — MUST route through this instead of hand-rolling
    the conversion, or environment drift breaks it silently (VERDICT r4).
    """
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    elif dt == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


@functools.cache
def _footer_jvm(jvm) -> SimpleNamespace:
    """The JVM classes ``_footer_schema`` calls, resolved once per gateway:
    py4j pays a round trip for each package level of a lookup."""
    parquet = jvm.org.apache.parquet
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    return SimpleNamespace(
        Path=jvm.org.apache.hadoop.fs.Path,
        hidden=jvm.org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName,
        Footer=parquet.hadoop.Footer,
        input_file=parquet.hadoop.util.HadoopInputFile.fromStatus,
        skip_row_groups=parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        read_footer=pq.ParquetFooterReader.readFooter,
        read_schema=pq.ParquetFileFormat.readSchemaFromFooter,
        Converter=pq.ParquetToSparkSchemaConverter,
    )


def _footer_schema(spark: SparkSession, paths) -> StructType | None:
    """The data schema Spark's non-merging inference would give ``paths``,
    read from one footer on the driver; ``None`` when Spark must infer it.
    ``read_parquet`` states the rule."""
    jss = spark._jsparkSession
    conf = jss.sessionState().conf()
    if conf.isParquetSchemaMergingEnabled():
        return None
    j = _footer_jvm(spark._jvm)
    hconf = jss.sessionState().newHadoopConf()

    def leaves(fs, path):
        # InMemoryFileIndex's listing: a root file lists itself, and every
        # listed name passes Spark's hidden-name filter.
        for st in fs.listStatus(path):
            p = st.getPath()
            if j.hidden(p.getName()):
                continue
            if st.isDirectory():
                yield from leaves(fs, p)
            else:
                yield p.toString(), p.getName(), st

    found = []
    for raw in paths:
        root = j.Path(raw)
        fs = root.getFileSystem(hconf)
        if not fs.exists(root):  # missing, or a glob pattern: Spark resolves it
            return None
        found.extend(leaves(fs, root))
    if not found:
        return None
    # ParquetUtils.inferSchema without merging: the first _common_metadata,
    # else the first _metadata, else the first data file, in path order.
    rank = {"_common_metadata": 0, "_metadata": 1}
    _, _, st = min(found, key=lambda leaf: (rank.get(leaf[1], 2), leaf[0]))
    footer = j.Footer(
        st.getPath(), j.read_footer(j.input_file(st, hconf), j.skip_row_groups)
    )
    schema = j.read_schema(footer, j.Converter(conf))
    return _parse_datatype_json_string(schema.json())


def parquet_schema(spark: SparkSession, *paths: str) -> StructType:
    """``spark.read.parquet(*paths).schema`` without its Spark job (see
    ``read_parquet``): the footer's data schema, made nullable and with
    the discovered partition columns, as Spark resolves the relation."""
    return read_parquet(spark, *paths).schema


def read_parquet(
    spark: SparkSession, *paths: str, merge_schema: bool = False
) -> DataFrame:
    """``spark.read.parquet(*paths)`` whose schema costs one footer read on
    the driver instead of a Spark job.

    The one-footer rule, for the whole engine: every parquet read goes
    through here (``tests/test_plan_audit.py`` lints for it). Spark's
    non-merging schema inference reads the footer of one file — the first
    ``_common_metadata``, else the first ``_metadata``, else the first data
    file, in path order over the listed leaves — but it reads it in a
    one-task Spark job. This reads the same footer on the driver, with
    Spark's own ``ParquetFileFormat.readSchemaFromFooter`` and a
    ``ParquetToSparkSchemaConverter`` built from this session's SQL conf,
    so the row-metadata preference, INT96, NTZ inference and
    ``binaryAsString`` match Spark's by construction. It is the same
    footer I/O the job did, so the cost at scale does not change; a
    ``Connection`` that registers ten tables saves ten jobs.

    The read then passes the schema to ``spark.read.schema(...)``, and
    Spark still discovers partition columns (a hive ``ts_day=`` directory
    keeps its inferred DATE type). Spark infers the schema itself when
    schema merging is on (``merge_schema`` or
    ``spark.sql.parquet.mergeSchema``), when a path does not exist as
    written (a glob pattern, or a missing path) or when the paths hold no
    data file, so an empty or missing directory raises Spark's own
    error."""
    if merge_schema:
        return spark.read.option("mergeSchema", "true").parquet(*paths)
    schema = _footer_schema(spark, paths)
    if schema is None:
        return spark.read.parquet(*paths)
    return spark.read.schema(schema).parquet(*paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with schema normalization applied (memoized:
    a repeat read skips file listing, schema inference and analysis)."""
    pin_session_confs(spark)

    def read() -> DataFrame:
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        return normalize_events_ts(df) if name == "events" else df

    return memo(spark, sf_dir, name, "frame", read)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all fixture tables and register them as temp views.

    Views make ``spark.sql(...)`` passthrough work — the engine analogue of
    desdb's arbitrary-SQL ``Connection.quick()`` (SURVEY.md §2A A1).
    """
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs
