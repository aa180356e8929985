"""Regression: queries must run under a session the engine did NOT
build (the driver's harness creates its own SparkSession — Spark 4
defaults ANSI on, no ns-parquet conf, arbitrary timezone). load_table
applies the required runtime confs idempotently."""

from __future__ import annotations

import pytest


@pytest.fixture()
def foreign_session(spark):
    """A sibling session with hostile-but-realistic defaults."""
    s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    return s


def test_events_reads_under_foreign_session(foreign_session, sf_dir):
    from ballista_extensions_spark.io import load_table

    assert load_table(foreign_session, sf_dir, "events").count() > 0


def test_minhash_wrapping_arith_under_foreign_session(foreign_session, sf_dir):
    """The affine rehash multiplies arbitrary 64-bit hashes — ANSI mode
    would raise ARITHMETIC_OVERFLOW; load_table must disable it."""
    from ballista_extensions_spark.queries import get_queries

    rows = get_queries()["dedup_near_minhash"](foreign_session, sf_dir).collect()
    assert rows is not None  # completing without overflow is the contract


def test_entry_under_foreign_session(foreign_session):
    import __spark_entry__ as m

    assert len(m.entry(foreign_session).collect()) > 0


_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _checkpoint_manager(session, path) -> str:
    jvm = session._jvm
    cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    return cfm.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(path)),
        session._jsparkSession.sessionState().newHadoopConf(),
    ).getClass().getName()


def test_checkpoint_manager_is_filesystem_based(
    spark, foreign_session, sf_dir, tmp_path
):
    """Streams checkpoint through the FileSystem-based manager on the
    engine's session and on a foreign one after one load_table (the
    default FileContext manager forks ``readlink`` per rename without
    libhadoop). A class name Spark cannot load fails here rather than at
    every replay's stream start."""
    from ballista_extensions_spark.io import load_table

    for session in (spark, foreign_session):
        load_table(session, sf_dir, "events")
        assert _checkpoint_manager(session, tmp_path) == _FS_MANAGER


def test_session_sends_no_call_site_origins(spark, documents, monkeypatch):
    """The engine's session turns PySpark's per-call origin capture off:
    Column and ``F.col`` calls send no ``PySparkCurrentOrigin`` set/clear
    round-trips. PySpark caches the flag per process on its first read,
    so the test clears that cache and lets it re-read this session."""
    import pyspark.errors.utils as origin
    from py4j.clientserver import ClientServerConnection
    from pyspark.sql import functions as F

    monkeypatch.setattr(origin, "_enable_debugging_cache", None)
    sent: list[str] = []
    send = ClientServerConnection.send_command
    monkeypatch.setattr(ClientServerConnection, "send_command",
                        lambda self, command: sent.append(command) or send(self, command))
    F.col("x").alias("y")
    documents.select("doc_id")
    documents.filter(F.col("doc_id") > 1)
    assert sent, "no py4j command was counted"
    assert not [c for c in sent if "PySparkCurrentOrigin" in c]
    assert origin.is_debugging_enabled() is False
