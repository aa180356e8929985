"""The session's ``file:`` FileSystem (jvm/NoForkLocalFileSystem.java):
``file:`` resolves to it, written files and directories keep Hadoop's
modes, ``setPermission`` takes a syscall for rwx bits and Hadoop's own
path for the sticky bit, ``rename`` does not replace an existing file,
and the source compiles warning-free against Spark's jars."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess

import pytest

from ballista_extensions_spark import session

pytestmark = pytest.mark.skipif(
    shutil.which("javac") is None, reason="no javac: file: keeps Spark's default"
)


def _local_fs(spark):
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)


def _path(spark, p) -> object:
    return spark._jvm.org.apache.hadoop.fs.Path(f"file://{p}")


def _modes(root) -> tuple[set[str], set[str]]:
    dirs, files = {oct(stat.S_IMODE(os.stat(root).st_mode))}, set()
    for parent, ds, fs in os.walk(root):
        dirs |= {oct(stat.S_IMODE(os.stat(os.path.join(parent, d)).st_mode)) for d in ds}
        files |= {oct(stat.S_IMODE(os.stat(os.path.join(parent, f)).st_mode)) for f in fs}
    return dirs, files


def test_file_scheme_resolves_to_no_fork_class(spark):
    assert _local_fs(spark).getClass().getName() == session._LOCAL_FS


def test_written_modes_match_hadoop_defaults(spark, tmp_path):
    """A parquet write and a two-batch stateful stream (checkpoint,
    state-store deltas, parquet sink): files 0644 (``.crc`` included),
    directories 0755, Hadoop's modes under its default umask 022."""
    pq = str(tmp_path / "pq")
    spark.range(100).write.parquet(pq)

    src = tmp_path / "src"
    for k in range(2):
        spark.range(k * 5, k * 5 + 10).coalesce(1).write.parquet(str(src / f"b{k}"))
        os.replace(
            next((src / f"b{k}").glob("part-*.parquet")), src / f"b{k}.parquet"
        )
        shutil.rmtree(src / f"b{k}")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    q = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .dropDuplicates(["id"])
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 15
    deltas = {f for _, _, fs in os.walk(ckpt) for f in fs if f.endswith(".delta")}
    assert {"1.delta", "2.delta"} <= deltas

    for root in (pq, ckpt, out):
        assert _modes(root) == ({"0o755"}, {"0o644"}), root


def test_set_permission_rwx_and_sticky(spark, tmp_path):
    fs, perm = _local_fs(spark), spark._jvm.org.apache.hadoop.fs.permission.FsPermission
    f = tmp_path / "f"
    f.write_bytes(b"x")
    fs.setPermission(_path(spark, f), perm(0o600))
    assert stat.S_IMODE(os.stat(f).st_mode) == 0o600
    d = tmp_path / "d"
    d.mkdir()
    fs.setPermission(_path(spark, d), perm(0o1777))  # sticky: Hadoop's own path
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o1777


def test_rename_onto_existing_file_returns_false(spark, tmp_path):
    fs = _local_fs(spark)
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    a.write_bytes(b"a")
    b.write_bytes(b"b")
    assert fs.rename(_path(spark, a), _path(spark, b)) is False
    assert (a.read_bytes(), b.read_bytes()) == (b"a", b"b")
    assert fs.rename(_path(spark, a), _path(spark, c)) is True
    assert not a.exists() and c.read_bytes() == b"a"


def test_source_compiles_lint_clean(tmp_path):
    """Against the jars the JVM runs with, so an API change fails here
    instead of leaving ``file:`` on Spark's default. (``path`` lint is
    off: it reports Class-Path entries of other jars' manifests.)"""
    jars = session._spark_jars()
    done = subprocess.run(
        ["javac", "-Xlint:all,-path", "-Werror", "--release", "17",
         "-cp", os.path.join(jars, "*"), "-d", str(tmp_path), session._LOCAL_FS_SRC],
        capture_output=True, text=True,
    )
    assert done.returncode == 0, done.stderr
