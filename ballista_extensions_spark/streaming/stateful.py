"""Custom stateful streaming operators via applyInPandasWithState —
the arbitrary-state mechanism for operators Spark's built-in windowing
can't express (SURVEY.md §7: 'applyInPandasWithState for custom stateful
operators').

State is per group key, Arrow-batched, persisted in the state store and
bounded by timeouts — the streaming analogue of the reference's
extension-operator pattern: you supply the per-partition kernel, Spark
supplies distribution, fault tolerance and state management.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stream_first_occurrence(
    df: DataFrame, key_col: str, id_col: str
) -> DataFrame:
    """First-occurrence flagging with cross-batch state — the streaming
    dedup-routing primitive: for every row, ``is_first`` is true iff no
    row with the same ``key_col`` value appeared EARLIER in the stream
    (earlier micro-batch, or smaller ``id_col`` within the same batch —
    the deterministic tiebreak an id-ordered replay pins down).

    State per key is ONE value of the id's own type (the minimum id
    seen — 8 B/key for long ids), so a billion-key corpus stays cheap
    in the state store — the streaming analogue of the batch
    ``MIN(id) OVER (PARTITION BY key)`` and the decision point of a
    dedup-at-ingest pipeline (first occurrence flows on, repeats route
    to the duplicate sink). Emits every input row exactly once (append
    semantics). Key and id types are propagated from ``df``'s schema
    (string URLs, binary digests and numeric ids all work); the id
    type must be orderable (min semantics)."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    id_type, key_type = types[id_col], types[key_col]

    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        # concat the group's batch chunks: the first-occurrence flag
        # belongs to the min id across the WHOLE batch, which a
        # chunk-at-a-time pass could hand to the wrong chunk's min.
        # (single-chunk groups — the overwhelmingly common case —
        # skip the concat: this kernel runs once per KEY, so per-call
        # pandas overhead is the stateful stage's unit cost)
        chunks = list(pdfs)
        pdf = (
            chunks[0]
            if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True)
        )
        seen = state.get[0] if state.exists else None
        ids = pdf[id_col]
        batch_min = ids.min()
        if hasattr(batch_min, "item"):  # numpy scalar -> plain python
            batch_min = batch_min.item()
        first_id = batch_min if seen is None else None
        state.update((batch_min if seen is None else min(seen, batch_min),))
        yield pd.DataFrame(
            {
                id_col: ids,
                key_col: pdf[key_col],
                "is_first": [
                    first_id is not None and i == first_id for i in ids
                ],
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=(
            f"{id_col} {id_type}, {key_col} {key_type}, is_first boolean"
        ),
        stateStructType=f"min_id {id_type}",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
