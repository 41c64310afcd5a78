"""SparkSession factory with the configs this engine depends on.

Scale notes (100 TB design): these configs are the *local* profile. On a
real cluster the same builder is used but `master`, shuffle partitions
(~2-3x total cores, or AQE-coalesced from a high initial number), and
executor memory come from spark-submit. Nothing in the engine hard-codes
local assumptions beyond this factory.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from .pydaemon import stamp

# Configs that are *required for correctness* on the driver's testdata and
# must therefore also be applied at runtime to sessions we did not build
# (the verify driver passes us its own SparkSession).
RUNTIME_CONFS = {
    # events.parquet stores TIMESTAMP(NANOS); Spark 4.x refuses it unless
    # read as raw int64 nanos (SURVEY §1.3). catalog.load converts to
    # timestamp_micros exactly via integer `div 1000`.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for pandas_udf / applyInPandas / mapInPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime re-plan (partition coalescing, skew-join splitting,
    # broadcast conversion) — the main lever that makes one logical plan
    # survive 0.001x..1000x data-size changes.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic wall-clock values: events.ts is built with
    # timestamp_micros() (LTZ semantics) — pin the session to UTC so
    # collected values equal DuckDB's timezone-naive reading of the file.
    "spark.sql.session.timeZone": "UTC",
}


_scratch_root: str | None = None

#: the directory that holds the ``secdb_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def scratch_dir(tag: str, fresh: bool = True, under: str | None = None) -> str:
    """A fresh directory for files the engine stages (sink round trips,
    stream inputs, the default warehouse).  Every directory lives under
    one ``secdb_*`` root per process, made on the first call under
    ``tempfile.gettempdir()`` (so ``TMPDIR`` moves it) and removed when
    the process exits.  Each call gets its own directory, so a repeated
    op never reads what an earlier call wrote.

    ``fresh=False`` gives ``<root>/<tag>`` on every call, not made here:
    the home of data that each write replaces.  ``under`` makes the
    directory there, outside the root, and removes it at exit too: a
    path whose length does not depend on ``TMPDIR``."""
    global _scratch_root
    if under is not None:
        path = tempfile.mkdtemp(prefix=f"secdb_{tag}_", dir=under)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        return path
    if _scratch_root is None:
        _scratch_root = tempfile.mkdtemp(prefix="secdb_")
        atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
    if not fresh:
        return os.path.join(_scratch_root, tag)
    return tempfile.mkdtemp(prefix=f"{tag}_", dir=_scratch_root)


#: key -> ((applicationId, (path, stat) of each input), value); see `memo`
_MEMO: dict = {}
_MEMO_MAX = 4


def _release(value) -> None:
    """Unpersist a DataFrame that leaves the store.  This frees a cached
    frame's blocks; a localCheckpoint's blocks stay readable by callers
    still holding the frame, and Spark's ContextCleaner frees them once
    the last reference is garbage-collected."""
    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:
            pass


def memo(spark: SparkSession, key: tuple, inputs, build):
    """``build()``'s result, reused by later calls with the same ``key``
    while nothing it read has changed: an entry hits only under the same
    Spark applicationId and the same ``(st_mtime_ns, st_size)`` for every
    path in ``inputs``, so a file rewritten at the same path is read
    again.  A miss runs ``build()`` and replaces the key's entry.  The
    store holds at most ``_MEMO_MAX`` entries, the oldest evicted first;
    a DataFrame that leaves it is unpersisted."""
    state = (
        spark.sparkContext.applicationId,
        tuple((p, stamp(p)) for p in inputs),
    )
    entry = _MEMO.get(key)
    if entry is not None and entry[0] == state:
        return entry[1]
    value = build()
    if key in _MEMO:
        _release(_MEMO.pop(key)[1])
    while len(_MEMO) >= _MEMO_MAX:
        _release(_MEMO.pop(next(iter(_MEMO)))[1])  # oldest first
    _MEMO[key] = (state, value)
    return value


def clear_memos() -> None:
    """Empty the `memo` store, so the next call of every memoized kernel
    runs cold."""
    while _MEMO:
        _release(_MEMO.popitem()[1][1])


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply required dynamic configs to an existing session (driver-owned)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — builder path already set it
    return spark


def get_spark(app_name: str = "secdb_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's config profile."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Input-split sizing knob. Measured A/B at sf0.1 (3 bench runs per
        # setting): 2 MB splits speed the flagship agg ~40% in isolation
        # (3 tasks -> ~6 on an 11 MB file) but LOSE overall (median 2.70 s
        # vs 2.54 s) — extra map tasks tax every shuffle/window query. The
        # default stays; the env knob remains for bigger local corpora.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        # saveAsTable targets (bucketed tables, layout tests) land in the
        # scratch root, not the repo working dir (static conf — builder-time
        # only)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE") or scratch_dir("wh"),
        )
    )
    # Python workers run the mapInPandas / applyInPandas / pandas_udf
    # kernels, the XBRL parse and the SQLite sink.  A trivial Python RDD job
    # took 96 / 112 / 199 ms at 1 / 4 / 8 partitions with none of the three
    # confs below, 63 / 67 / 114 ms with the first two and 23 / 27 / 36 ms
    # with all three; a JVM-only job takes 23-28 ms (4 vCPU, SCALE.md §83).
    b = (
        # pyspark's worker calls importlib.invalidate_caches() on every
        # task, which re-read each zip archive on its path (pyspark.zip,
        # py4j, the spark-core jar): 75-97 ms per task.  This daemon
        # re-reads an archive only when it changes.
        b.config("spark.python.daemon.module", "secdb_spark.pydaemon")
        # Workers import the daemon, and kernels pickled by reference (the
        # XBRL parse), from the package root whatever the working directory.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    # Unix-domain sockets between the JVM and the workers remove a ~40 ms
    # delayed-ACK stall per task that TCP_NODELAY did not.  Spark names
    # each socket "<dir>/.<uuid4>.sock" and AF_UNIX paths hold 107 bytes,
    # so the directory is a short one under /tmp: under a long TMPDIR (a
    # perfbench run's, a pytest tmp_path) the bind would fail every Python
    # task.  Without a writable /tmp the session keeps TCP.  A running
    # session keeps its sockets, so only a new one gets a directory.
    if SparkSession.getActiveSession() is None:
        try:
            sock_dir = scratch_dir("sock", under="/tmp")
        except OSError:
            pass
        else:
            b = b.config("spark.python.unix.domain.socket.enabled", "true").config(
                "spark.python.unix.domain.socket.dir", sock_dir
            )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    return apply_runtime_confs(b.getOrCreate())
