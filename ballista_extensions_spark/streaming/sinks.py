"""Streaming sinks: the idempotent foreachBatch pattern, and the one
per-batch layout every foreachBatch sink and store writes and reads.

Structured Streaming guarantees at-least-once foreachBatch invocation;
exactly-once END-TO-END requires the sink write to be idempotent per
(batchId) — on retry after a failure the same batch must overwrite, not
append. The pattern here: each batch owns the directory
``path/__batch_id=N`` and overwrites it (``write_batch``), so replaying
batch N replaces exactly batch N's output and nothing else. Writing
straight into that directory needs no dynamic-partition staging pass
and no ``partitionBy``.

``read_batches`` reads such a tree back with the caller's named schema
and ``__batch_id`` as a partition column, so no footer-inference job
runs; bounded by ``before=N`` it is the state as of before batch N,
which is what a redelivered batch N must probe. ``committed_before``
is the bootstrap rule for state that may legitimately be empty: a
batch counts once Spark's job commit has written its ``_SUCCESS``.

``first_occurrence_sink`` and the stores in ``storededup`` keep their
cross-batch state in this layout: the rows earlier batches committed.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

_BATCH = "__batch_id"


def write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Overwrite ``path/__batch_id=N`` with ``df``. An empty ``df``
    leaves a schema-only file."""
    df.write.mode("overwrite").parquet(f"{path}/{_BATCH}={batch_id}")


def read_batches(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    before: int | None = None,
    batch_id: int | None = None,
) -> DataFrame:
    """The batches under ``path`` read with ``schema`` plus the int
    ``__batch_id`` partition column: those with ``__batch_id < before``
    when ``before`` is given (a partition prune), only batch
    ``batch_id`` when that is given (only its directory is listed). A
    missing ``path`` means no batch ever committed and reads as an
    empty frame; an existing one that cannot be read raises when the
    frame is used, because an empty store would accept every duplicate
    for good."""
    if isinstance(schema, str):
        schema = f"{schema}, {_BATCH} int"
    else:
        schema = StructType([*schema, StructField(_BATCH, IntegerType())])
    if not os.path.isdir(path):
        # limit(0) plans as an empty local relation, which the
        # optimizer folds out of the joins and unions that read it
        return spark.createDataFrame([], schema).limit(0)
    reader = spark.read.schema(schema)
    if batch_id is not None:
        return reader.option("basePath", path).parquet(
            f"{path}/{_BATCH}={batch_id}"
        )
    df = reader.parquet(path)
    return df if before is None else df.filter(F.col(_BATCH) < before)


def committed_before(path: str, before: int) -> bool:
    """True iff some batch ``j < before`` under ``path`` committed: its
    directory holds ``_SUCCESS``, which Spark writes last on job commit.
    A crashed write leaves at most a ``_temporary`` tree there."""
    prefix = f"{_BATCH}="
    return os.path.isdir(path) and any(
        d.startswith(prefix)
        and int(d[len(prefix):]) < before
        and os.path.isfile(os.path.join(path, d, "_SUCCESS"))
        for d in os.listdir(path)
    )


def idempotent_parquet_sink(path: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function writing each micro-batch to
    ``path/__batch_id=N`` in overwrite mode — replaying a batch id
    overwrites only that batch's directory (exactly-once effect).

    Usage::

        q = (df.writeStream
               .foreachBatch(idempotent_parquet_sink("/data/out"))
               .start())
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(batch_df, path, batch_id)

    return sink


def first_occurrence_sink(
    path: str, key_col: str, id_col: str
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function keeping the first occurrence of every
    ``key_col`` value in the stream: batch N writes to
    ``path/__batch_id=N`` one ``(key_col, id_col)`` row per key that no
    earlier batch committed, carrying the key's smallest ``id_col`` in
    batch N (the deterministic tiebreak an id-ordered replay pins
    down). It is the streaming form of keeping the ``MIN(id)`` row per
    key, first batch first.

    The state is the sink's own output, read by ``read_batches`` with
    ``before=N``: a redelivered batch N probes the same rows and
    overwrites only its own directory, and a restart needs no state
    store. Keys compare null-safe, so NULL is one key. Key and id keep
    their input types; the id type must be orderable."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        first = batch_df.groupBy(key_col).agg(F.min(id_col).alias(id_col))
        seen = read_batches(
            batch_df.sparkSession, path, first.schema, before=batch_id
        ).select(F.col(key_col).alias("__seen"))
        first = first.join(
            seen, F.col(key_col).eqNullSafe(F.col("__seen")), "left_anti"
        )
        write_batch(first, path, batch_id)

    return sink
