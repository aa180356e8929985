"""Streaming sinks: the idempotent foreachBatch pattern.

Structured Streaming guarantees at-least-once foreachBatch invocation;
exactly-once END-TO-END requires the sink write to be idempotent per
(batchId) — on retry after a failure the same batch must overwrite, not
append. The pattern here: each batch owns the directory
``path/__batch_id=N`` and overwrites it, so replaying batch N replaces
exactly batch N's output and nothing else, and readers of ``path``
discover ``__batch_id`` as a partition column. Writing straight into
that directory needs no dynamic-partition staging pass and no
``partitionBy``.

``first_occurrence_sink`` keeps its cross-batch state in that same
layout: the keys a batch may not emit again are the rows earlier
batches committed under ``path``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType


def idempotent_parquet_sink(path: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function writing each micro-batch to
    ``path/__batch_id=N`` in overwrite mode — replaying a batch id
    overwrites only that batch's directory (exactly-once effect). An
    empty batch leaves a schema-only file.

    Usage::

        q = (df.writeStream
               .foreachBatch(idempotent_parquet_sink("/data/out"))
               .start())
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{path}/__batch_id={batch_id}"
        )

    return write_batch


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

    The state is the sink's own output, read with a named schema and
    pruned to ``__batch_id < N``: a redelivered batch N probes the same
    rows and overwrites only its own directory, and a restart needs no
    state store. Keys compare null-safe, so NULL is one key. A missing
    ``path`` means nothing was seen yet; an existing one that cannot be
    read raises. Key and id keep their input types; the id type must
    be orderable."""
    write = idempotent_parquet_sink(path)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        first = batch_df.groupBy(key_col).agg(F.min(id_col).alias(id_col))
        if os.path.isdir(path):
            schema = StructType([
                batch_df.schema[key_col],
                StructField("__batch_id", IntegerType()),
            ])
            seen = (
                batch_df.sparkSession.read.schema(schema)
                .parquet(path)
                .filter(F.col("__batch_id") < batch_id)
                .select(F.col(key_col).alias("__seen"))
            )
            first = first.join(
                seen, F.col(key_col).eqNullSafe(F.col("__seen")), "left_anti"
            )
        write(first, batch_id)

    return write_batch
