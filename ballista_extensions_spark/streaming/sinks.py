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
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


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
