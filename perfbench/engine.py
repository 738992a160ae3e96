"""Session set-up, result canonicalization and process bookkeeping.

Everything here calls the engine only through its public module functions:
``session.get_spark``/``load_tables``, ``registry.all_operators`` and
``api.Connection``.
"""

from __future__ import annotations

import datetime as _dt
import gc
import hashlib
import importlib
import math
import os
import sys
import time
from dataclasses import dataclass

import numpy as np

#: Session configuration on top of ``get_spark``'s defaults, the same for
#: every workload and every commit measured. Paths are filled in per run.
SESSION_CONF = {
    # Fits a 15 GB machine shared with other jobs.
    "spark.driver.memory": "4g",
    "spark.ui.showConsoleProgress": "false",
}


def session_conf(work: str) -> dict[str, str]:
    """``SESSION_CONF`` plus the run directory's scratch paths, so that Spark
    writes nothing outside the checkout."""
    tmp = os.path.join(work, "tmp")
    return {
        **SESSION_CONF,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


#: Most full collections (each followed by a pause for Spark's cleaner)
#: made while the heap in use still shrinks, before it is read.
CLEANUP_ROUNDS = 8


@dataclass
class Engine:
    """One set-up of the program: the session, its tables and the registry."""

    spark: object
    ops: dict
    conn: object
    timings: dict


def purge_engine_modules() -> None:
    """Forget every imported engine module, so the next set-up pays the
    import cost a fresh process pays."""
    for name in [m for m in sys.modules if m == "desdb_spark" or m.startswith("desdb_spark.")]:
        del sys.modules[name]


def set_up(sf_dir: str, conf: dict[str, str]) -> Engine:
    """Build a session, register the tables, import the registry and run a
    first action, timing each step; ``cpu`` is the CPU seconds the whole
    set-up took in this process, the JVM and its workers."""
    t = {}
    me = os.getpid()
    c0 = cpu_s([me] + descendants(me))
    t0 = time.perf_counter()
    session = importlib.import_module("desdb_spark.session")
    spark = session.get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    t["get_spark"] = t1 - t0
    api = importlib.import_module("desdb_spark.api")
    conn = api.Connection(sf_dir, spark=spark)
    t2 = time.perf_counter()
    t["load_tables"] = t2 - t1
    ops = importlib.import_module("desdb_spark.registry").all_operators()
    t3 = time.perf_counter()
    t["registry_import"] = t3 - t2
    spark.range(1).count()
    t["first_action"] = time.perf_counter() - t3
    t["total"] = time.perf_counter() - t0
    t["cpu"] = cpu_s([me] + descendants(me)) - c0
    return Engine(spark, ops, conn, t)


def floor_s(spark, n: int = 5) -> list[float]:
    """Wall times of ``n`` no-work actions: the local-mode action floor."""
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).count()
        out.append(time.perf_counter() - t0)
    return out


def retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use once everything unreferenced is
    collected: what the session keeps alive (table memos, checkpoints,
    broadcasts, caches)."""
    gc.collect()  # drop Python handles, so py4j releases their JVM objects
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = None
    for _ in range(CLEANUP_ROUNDS):
        jvm.java.lang.System.gc()
        now = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if used is not None and abs(now - used) < 1.0:
            break
        used = now
        # Spark's ContextCleaner frees the blocks of collected RDDs and
        # broadcasts on its own thread; give it time before collecting again.
        time.sleep(0.5)
    return now


def jvm_memory_mb(spark) -> tuple[float, float]:
    """(heap used, storage memory used) of the driver JVM, in MiB."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = (rt.totalMemory() - rt.freeMemory()) / 2**20
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    storage = 0.0
    it = status.valuesIterator()
    while it.hasNext():
        pair = it.next()
        storage += (pair._1() - pair._2()) / 2**20
    return heap, storage


# -- result canonicalization -------------------------------------------------


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "-"
    if hasattr(v, "item") and not hasattr(v, "__len__"):  # numpy scalar
        v = v.item()
    if isinstance(v, float):
        return str(int(v)) if v == int(v) and abs(v) < 1e15 else repr(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat() + "T00:00:00"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        items = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(_cell(x) for x in items) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _column(col) -> list[str]:
    """Canonical strings of one column: integers as digits, integral floats
    as integers, other floats by repr, timestamps in ISO form, nulls as -."""
    import pandas as pd

    kind = col.dtype.kind
    na = col.isna().to_numpy()
    if kind == "M":
        vals = col.dt.tz_localize(None) if col.dt.tz is not None else col
        out = [t.isoformat() for t in vals.astype("datetime64[ns]")]
    elif kind in "iub" and not na.any():
        return col.astype("int64" if kind != "b" else "bool").astype(str).tolist()
    elif kind == "f":
        v = col.to_numpy()
        fin = ~na & (np.abs(np.nan_to_num(v)) < 1e15)
        integral = fin & (v == np.round(np.nan_to_num(v)))
        out = [
            str(int(x)) if i else repr(float(x))
            for x, i in zip(v.tolist(), integral.tolist())
        ]
    else:
        return [_cell(None if (isinstance(x, float) or x is pd.NA) and pd.isna(x) else x)
                for x in col.tolist()]
    return ["-" if n else s for s, n in zip(out, na.tolist())]


def canonical(df) -> tuple[int, str]:
    """(row count, order-insensitive value hash) of a pandas frame or a
    NumPy record array, columns taken in name order."""
    import pandas as pd

    if not isinstance(df, pd.DataFrame):
        df = pd.DataFrame.from_records(df)
    cols = [_column(df[c]) for c in sorted(df.columns, key=str)]
    rows = sorted("|".join(r) for r in zip(*cols)) if cols else [""] * len(df)
    return len(df), hashlib.md5("\n".join(rows).encode()).hexdigest()


#: Float cells compare within this relative tolerance when the exact
#: hashes differ: a double sum's last bits depend on summation order, which
#: differs between engines and partitionings.
FLOAT_REL_TOL = 1e-9


def _decimals(x: float) -> int | None:
    """Decimal places ``x`` was rounded to, if it looks rounded (0-6)."""
    for d in range(7):
        if abs(round(x, d) - x) <= 1e-9 * max(1.0, abs(x)):
            return d
    return None


def _float_eq(x: float, y: float) -> bool:
    """Equal within ``FLOAT_REL_TOL``, or both rounded to the same decimal
    place and one unit apart there: a sum that is exactly on a rounding tie
    (a half cent, say) rounds either way depending on the summation order."""
    if x != x or y != y:
        return x != x and y != y
    if math.isclose(x, y, rel_tol=FLOAT_REL_TOL):
        return True
    d = _decimals(x)
    return d is not None and d == _decimals(y) and abs(x - y) <= 1.000001 * 10.0**-d


class Expected:
    """An expected result and its canonical hash."""

    def __init__(self, df) -> None:
        self.df = df
        self.canon = canonical(df)

    def matches(self, got) -> bool:
        return canonical(got) == self.canon or _close(got, self.df)


def _close(got, want) -> bool:
    """Row-by-row comparison after sorting, float cells within
    ``FLOAT_REL_TOL``, every other cell exactly."""
    import pandas as pd

    frames = [g if isinstance(g, pd.DataFrame) else pd.DataFrame.from_records(g)
              for g in (got, want)]
    if len(frames[0]) != len(frames[1]):
        return False
    cols = [sorted(f.columns, key=str) for f in frames]
    if [str(c) for c in cols[0]] != [str(c) for c in cols[1]]:
        return False
    a, b = (f[c].sort_values(c, kind="stable").itertuples(index=False)
            for f, c in zip(frames, cols))
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not _float_eq(x, y):
                    return False
            elif _cell(x) != _cell(y):
                return False
    return True


# -- processes ---------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for c in _children(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


def cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds of the processes and their reaped
    children. The kernel charges time the hypervisor takes (steal) to no
    process, so this reads the same on a loaded host."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_clock():
    """A clock of the CPU seconds this client thread plus the driver JVM and
    its Python workers have used."""
    jvm = jvm_pid()

    def clock() -> float:
        return time.thread_time() + cpu_s([jvm] + descendants(jvm))

    return clock


def steal_ticks() -> int:
    """CPU time taken by the hypervisor from this machine since boot, in
    clock ticks: the ambient-load signal of a shared host."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set sizes (VmHWM), in MiB."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def jvm_pid() -> int | None:
    """Pid of the driver JVM this process launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def stop_all(spark) -> None:
    """Stop the session and the JVM, then wait for every process this one
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # noqa: BLE001 — still shut the JVM down
            print(f"spark.stop failed: {e}", file=sys.stderr)
    started += descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception as e:  # noqa: BLE001
            print(f"gateway shutdown failed: {e}", file=sys.stderr)
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 — escalate below
            proc.kill()
            proc.wait(timeout=10)
    # Python workers are the JVM's children; they exit when it does, and
    # may have been re-parented by then, so wait on the pids seen earlier.
    deadline = time.time() + 20
    left = [p for p in set(started) if _alive(p)]
    while left and time.time() < deadline:
        time.sleep(0.2)
        left = [p for p in left if _alive(p)]
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
