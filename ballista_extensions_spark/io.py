"""Table loading — the engine's scan layer.

Reference equivalent: ``ctx.read_parquet("data/", Default::default())``
(examples/datafusion.rs:26, examples/ballista_client.rs:36) — schema from
parquet footers, directory scans. Spark's parquet source gives the same
plus vectorized reads, predicate pushdown and partition pruning for free.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession


def _install_zip_stat_check() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when it changed (CPython < 3.13; idempotent).

    PySpark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of every task in a
    reused Python worker. Before 3.13 (gh-103200) each zipimporter then
    eagerly re-parses its whole archive directory in pure Python: a
    worker holds a dozen importers over ``pyspark.zip`` plus some over
    the Spark jar: ~0.2 s of CPU per task on a 4-core x86 box, against
    a UDF body of a few ms. The replacement applies the rule
    ``FileFinder`` applies to directories: re-read when the archive's
    (device, inode, size, mtime) differs from the stamp taken before
    this importer's last re-read, otherwise keep the listing. An
    importer not yet stamped re-reads once. Every operator closure a
    worker unpickles imports this package, so from the next task on
    the worker skips the re-read. Needs ``spark.python.worker.reuse``
    (the default): a fresh worker per task pays its imports anyway."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_bx_stat_checked", False):
        return

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is not None and stamp == getattr(self, "_bx_stamp", None):
            return
        self._bx_stamp = stamp  # stat before read: a racing write re-reads
        reread(self)

    invalidate_caches._bx_stat_checked = True
    invalidate_caches.__wrapped__ = reread
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_stat_check()


def _freeze_worker_heap() -> None:
    """In a Python worker, move the import-time heap out of the cyclic
    GC's reach (``gc.freeze``) once; a no-op on the driver.

    PySpark's daemon runs a full ``gc.collect()`` after every task of a
    reused worker. With pyspark, pandas, pyarrow and this package loaded
    that walks ~73,400 tracked objects: 31-44 ms of CPU per task on a
    4-core x86 box, against 0.2-0.3 ms once they are frozen. The worker
    imports this package while it unpickles the first operator closure,
    with the task's context set, so ``TaskContext.get()`` tells a worker
    from the driver. Frozen objects are still freed when their reference
    count drops to zero; only a cycle among them is never collected.
    The module-level heap lives as long as the worker anyway, and what
    later tasks allocate is collected as before."""
    import gc

    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    import pandas  # noqa: F401 — every worker operator loads them
    import pyarrow  # noqa: F401

    gc.collect()
    gc.freeze()


_freeze_worker_heap()

#: Driver-provided tables (TESTDATA.md). One parquet file per table at
#: sf0.001/0.01/0.1; at production scale each would be a partitioned
#: directory — ``spark.read.parquet`` handles both identically.
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

#: Runtime SQL confs the engine requires regardless of who built the
#: SparkSession (the driver's correctness harness builds its own, without
#: our session factory): ns-parquet reads for events, non-ANSI wrapping
#: long arithmetic for the MinHash affine rehash family, a stable
#: timezone for cross-engine timestamp parity, Arrow transfer and the
#: streaming checkpoint manager. All are runtime-settable SQL confs,
#: applied idempotently on first table load.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for toPandas()/pandas UDFs: required by the
    # connected-components driver fast path (two int64 columns move as
    # Arrow buffers, not Row objects) and assumed by every mapInPandas
    # operator. Runtime-settable, so safe on a foreign driver session.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Streaming checkpoint writes (offsets, commits, source logs, state
    # deltas) rename a temp file into place. The default FileContext
    # manager's rename asks RawLocalFileSystem for both paths' link
    # status, which without Hadoop's native library forks a ``readlink``
    # process per path. The FileSystem manager renames with
    # ``File.renameTo`` (POSIX rename(2), atomic on local disk and HDFS)
    # and writes the same files. Runtime-settable: read from the
    # session's Hadoop conf when a stream starts.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def ensure_engine_confs(spark: SparkSession) -> None:
    """Apply the engine's required runtime confs to an arbitrary session,
    and ship the package to Python workers."""
    for k, v in _REQUIRED_CONFS.items():
        try:
            if spark.conf.get(k, None) == v:
                continue
        except Exception:  # noqa: BLE001 — get unsupported here; try set
            pass
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001
            # Read-only/static conf on this session type (managed or
            # Connect environments can pin confs). Skip rather than
            # crash every load_table: operators tolerate defaults where
            # they can, and a hard incompatibility surfaces at the
            # operator with its own diagnostic.
            pass
    _ship_package(spark)


def _pkg_zip() -> str:
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"ballista_extensions_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "ballista_extensions_spark",
                            os.path.relpath(full, pkg_dir),
                        )
                        zf.write(full, rel)
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """addPyFile a zip of this package so executor Python workers can
    unpickle pandas-UDF/mapInPandas closures (which reference the module
    by name) even when the driver process was started outside the repo
    and the workers' PYTHONPATH doesn't include it. Spark Connect
    sessions have no client-side SparkContext — there the zip travels
    through the session-scoped artifact channel (addArtifacts)."""
    try:
        sc = spark.sparkContext
    except Exception:  # Spark Connect: artifact API instead of addPyFile
        if getattr(spark, "_bx_pkg_shipped", False):
            return
        if hasattr(spark, "addArtifacts"):
            spark.addArtifacts(_pkg_zip(), pyfile=True)
        spark._bx_pkg_shipped = True
        return
    if getattr(sc, "_bx_pkg_shipped", False):
        return
    sc.addPyFile(_pkg_zip())
    sc._bx_pkg_shipped = True


def default_parallelism(spark: SparkSession) -> int:
    """The session's target partition count, readable on classic AND
    Spark Connect sessions (Connect exposes no SparkContext; the shuffle
    partition conf is the equivalent sizing signal there)."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


#: DataFrame handles per (session, sf_dir, table). A DataFrame is an
#: immutable plan, so handing the same object to every caller is safe and
#: skips the per-call file listing + footer schema read (~80 ms each —
#: ~10 s across a 91-query bench sweep). Keyed by the SESSION OBJECT
#: identity (not just applicationId: multiple SparkSessions share one
#: context/appId, and a DataFrame cached under another session would
#: register temp views in that session's catalog, invisible to the
#: caller) plus applicationId (a restarted context never sees stale
#: plans). The cached DataFrame holds a reference to its session, so the
#: id() can't be recycled while the entry lives.
#:
#: ASSUMPTION: the tables under sf_dir are immutable for the life of the
#: application (true for the driver-generated test data and for the
#: append-only production layout this engine targets). spark.read.parquet
#: snapshots the file listing at creation, so a table REWRITTEN IN PLACE
#: within the same app would be served stale from this cache — call
#: ``invalidate_table_cache(sf_dir)`` after regenerating data in place.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def invalidate_table_cache(sf_dir: str | None = None) -> None:
    """Drop cached scan handles (all, or just those under ``sf_dir``) so
    the next ``load_table`` re-lists files and re-reads footers. Needed
    only when input parquet is rewritten in place within one application —
    the memoized repartition decision on the old handles dies with them."""
    if sf_dir is None:
        _TABLE_CACHE.clear()
        return
    real = os.path.realpath(sf_dir)
    for key in [k for k in _TABLE_CACHE if k[2] == real]:
        del _TABLE_CACHE[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Columns are pruned and filters pushed down by
    Catalyst as long as callers keep the plan declarative."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:  # Spark Connect: no client-side SparkContext
        app_id = spark.conf.get("spark.app.id", "connect")
    key = (
        id(spark),
        app_id,
        os.path.realpath(sf_dir),
        name,
    )
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    ensure_engine_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # Normalize ts to TimestampType regardless of the generator's
        # physical encoding (data regenerated between rounds has shipped
        # both): TIMESTAMP(NANOS) scans as long ns-since-epoch under
        # nanosAsLong — integer-divide to µs (DIV, not /, to stay exact
        # above 2^53), the same ns->µs truncation every µs-native engine
        # applies; TIMESTAMP(MICROS) scans as TIMESTAMP_NTZ — a cast under
        # the UTC session tz is a pure reinterpretation (same wall clock,
        # matches DuckDB's naive read of the same file).
        from pyspark.sql import functions as F  # local: io imports stay light
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
            )
        elif not isinstance(ts_type, T.TimestampType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _TABLE_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Scan all driver tables lazily (no IO until an action runs)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    buckets: int = 16,
    sort_by: str | list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Bucketing pre-shuffles data by key at write time so later equi-joins
    and aggregations on that key are exchange-free — the 100 TB answer to
    repeated joins on the same key (co-located joins). Both sides must
    share the bucket count for the shuffle to be elided; for multi-key
    joins the bucket columns must match the join keys (a single-column
    bucket spec under a two-key join makes Spark re-shuffle BOTH sides).
    """
    keys = [key] if isinstance(key, str) else list(key)
    writer = df.write.mode("overwrite").format("parquet")
    writer = writer.bucketBy(buckets, keys[0], *keys[1:])
    if sort_by:
        sorts = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(sorts[0], *sorts[1:])
    writer.saveAsTable(table)


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition iff the input is under-parallel for CPU-heavy per-row
    operators (small local files are single-row-group parquet -> 1 task
    regardless of maxPartitionBytes). At production scale inputs already
    carry many partitions, so this is a no-op — the check costs only plan
    analysis, not a job."""
    target = min_parts or default_parallelism(df.sparkSession)
    # memoized per DataFrame object: the getNumPartitions probe compiles
    # the physical plan (~13 ms), and cached load_table handles are shared
    # across every query in a sweep.
    memo = getattr(df, "_bx_par_memo", None)
    if memo is None:
        memo = {}
        try:
            df._bx_par_memo = memo
        except Exception:  # Connect DataFrames may reject attribute set
            pass
    out = memo.get(target)
    if out is None:
        try:
            n_parts = df.rdd.getNumPartitions()
        except Exception:
            # Spark Connect: no RDD probe client-side. Under-parallel
            # inputs only arise from tiny single-row-group local files;
            # let AQE handle sizing rather than force a blind shuffle.
            n_parts = target
        out = df.repartition(target) if n_parts < target else df
        memo[target] = out
    return out
