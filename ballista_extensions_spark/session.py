"""SparkSession factory with pinned configs.

Spark-side equivalent of the reference's session wiring: the Ballista
scheduler installs a session builder with extension planner + codecs
(reference examples/ballista_scheduler.rs:27-56, examples/datafusion.rs:18-25).
Our operators compose Catalyst built-ins, so the factory mostly pins
configs that matter for correctness and scale. It injects one class,
through Hadoop's own ``fs.file.impl`` hook: ``jvm/NoForkLocalFileSystem``.
Without libhadoop, Hadoop's local file system forks ``/bin/chmod`` for
every file and directory Spark writes through ``file:`` (stream
checkpoints, state-store deltas, sinks, persisted stores); that class
sets the same modes with a syscall and keeps the ``.crc`` checksums.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile

import pyspark
from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

_LOCAL_FS = "ballista_extensions_spark.jvm.NoForkLocalFileSystem"
_LOCAL_FS_SRC = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "NoForkLocalFileSystem.java"
)


def _spark_jars() -> str:
    """The jars the driver JVM runs with: ``$SPARK_HOME/jars`` when set
    (PySpark launches from there), else PySpark's own."""
    return os.path.join(
        os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__), "jars"
    )


def _local_fs_jar() -> str | None:
    """The jar holding ``_LOCAL_FS``, compiled once per source, PySpark
    version and jars directory into the temp dir; None when ``javac`` or
    the jars are missing or the source does not compile against them."""
    javac = shutil.which("javac")
    jars = _spark_jars()
    if javac is None or not os.path.isdir(jars):
        return None
    with open(_LOCAL_FS_SRC, "rb") as f:
        src = f.read()
    key = hashlib.sha256(src + f"\0{pyspark.__version__}\0{jars}".encode()).hexdigest()
    jar = os.path.join(tempfile.gettempdir(), f"bx-nofork-{key[:16]}.jar")
    if os.path.exists(jar):
        return jar
    with tempfile.TemporaryDirectory() as out:
        done = subprocess.run(
            [javac, "--release", "17", "-cp", os.path.join(jars, "*"),
             "-d", out, _LOCAL_FS_SRC],
            capture_output=True,
        )
        if done.returncode != 0:
            return None
        tmp = f"{jar}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for cls in glob.glob(os.path.join(out, "**", "*.class"), recursive=True):
                zf.write(cls, os.path.relpath(cls, out))
        os.replace(tmp, jar)
    return jar


def _local_fs_confs(master: str) -> dict[str, str]:
    """Confs that make ``file:`` resolve to ``_LOCAL_FS``, for masters
    whose JVMs all run on the driver's machine (where the jar is), and
    only when the driver JVM is not yet running or already has the jar."""
    if not master.startswith("local"):
        return {}
    jar = _local_fs_jar()
    if jar is None:
        return {}
    if SparkContext._jvm is not None:
        # SparkSubmit set the launch confs as the JVM's system properties.
        # (Reading them costs ~1 ms; py4j resolving java.lang.System to
        # read java.class.path costs ~45 ms.)
        launched = SparkConf().get("spark.driver.extraClassPath", "")
        if jar not in launched.split(os.pathsep):
            return {}
    return {
        "spark.driver.extraClassPath": jar,
        "spark.executor.extraClassPath": jar,
        "spark.hadoop.fs.file.impl": _LOCAL_FS,
    }


def get_session(app_name: str = "ballista_extensions_spark") -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local test/bench mode uses ``local[$SPARK_GRAFT_CPUS]`` (default 32
    threads). On a real cluster the same configs apply; AQE re-plans
    shuffles at runtime (partition coalescing + skew-join splitting), and
    the broadcast threshold keeps dimension joins shuffle-free.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # One shuffle partition per core locally; a real cluster would use
        # 2-3x total cores — AQE coalesces either way.
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for the pandas-UDF boundary (similarity / multimodal ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep timestamp semantics stable across engines (oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no ns type —
        # read as long and convert in io.load_table (µs truncation, same
        # as DuckDB's ns->µs narrowing).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ANSI off: TPC-H-ish doubles; we validate explicitly in operators.
        .config("spark.sql.ansi.enabled", "false")
        # No Python call-site capture: otherwise every Column/F.col call
        # sends 10 more py4j commands (origin set/clear, a conf read) that
        # only decorate error messages. PySpark caches the first value it
        # reads per process, so it must be set before any DataFrame call.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Local mode: the driver JVM is also the executor, so it holds
        # every localCheckpoint block of every concurrently-live frame
        # plus broadcast build memory. 16g of the box's 128 GiB is the
        # honest local sizing; on a real cluster blocks live on
        # executors and the driver needs far less.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in _local_fs_confs(master).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
