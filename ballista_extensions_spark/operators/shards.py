"""Deterministic training-shard emission — the last stage of a
pretraining data pipeline: after curation/selection, give the trainer
a SEEDED global document shuffle cut into fixed-token-budget shards,
with a manifest row per shard that pins assignment, intra-shard order
and content byte-for-byte.

Reference parity note: the reference engine (a DataFusion/Ballista
extension showcase, src/physical/sample_exec.rs) stops at sampling;
shard emission is the standard downstream stage every published
pretraining pipeline adds (fixed-size shards + manifest, cf. the
deterministic-data-order requirement in Biderman et al.,
arXiv:2201.07311 §3 "Pythia" reproducibility).

Design for 100 TB:

- **Seeded shuffle without a sort**: the shuffle key is
  ``((polyhash(doc_id) + 1) * mult(seed)) mod P`` where ``polyhash``
  is the BASE=31 mod 1e9+7 char fold (the same family as
  operators/qualityclassifier.py, so DuckDB replays it bit-exactly;
  xxhash64 would be faster but has no oracle twin) and ``mult(seed)``
  a nonzero seed-derived ring constant. Multiplying mod a prime is a
  bijection whose induced ORDER differs per multiplier — a genuinely
  different permutation per seed. (Merely appending/prepending the
  seed to the hashed string only shifts every key by a shared
  constant, which preserves relative order except at the single mod
  wrap — a no-op shuffle; caught by test_different_seed_reshuffles.)
- **Global order with bounded driver state**: rank and running token
  total come from ONE fused two-phase pass (the
  operators/prefix.py plan): range-partition by (shuffle_key, doc_id),
  per-partition ``row_number``/``sum`` windows in parallel, a single
  O(partitions) (count, token_sum) collect folded into exclusive
  offsets, broadcast back. No single-task global window at any size.
- **Shard assignment is arithmetic, not state**: ``shard_id =
  exclusive_cum_tokens DIV capacity`` — a document that straddles a
  boundary belongs to the shard it starts in (shards may overflow by
  at most one document's tokens — the standard greedy contract;
  capacity is a target, not a cap).
- **Order-sensitive content hash**: per-shard
  ``SUM((doc_hash * w(rank)) mod P) mod P`` with position weight
  ``w(rank) = ((rank - 1) mod (P - 1)) + 1`` — never zero and full
  period, so every document's content affects the hash at ANY rank
  (a plain ``rank mod P`` weight zeroes out documents whose rank is
  an exact multiple of P, reachable past 1e9 docs at the design
  scale — ADVICE r14); ``doc_hash`` is the polynomial hash of
  ``"<doc_id>:<text>"``. Every summand < P² fits int64; the final
  aggregation is a map-side-combined groupBy carrying one row per
  (shard, partition).

Everything is deterministic given (corpus, seed, capacity): re-running
with the same seed is byte-identical, a different seed reshuffles
(tests/test_shards.py pins both).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ballista_extensions_spark.operators.prefix import (
    _OFF,
    _PID,
    _range_partitioned,
)

__all__ = [
    "SHARD_BASE",
    "SHARD_PRIME",
    "assign_training_shards",
    "polyhash_sql_duckdb",
    "polyhash_sql_spark",
    "ranked_stream",
    "training_shard_manifest",
    "write_training_shards",
]

SHARD_BASE = 31
SHARD_PRIME = 1_000_000_007


def position_weight_sql(rank_expr: str = "rank") -> str:
    """THE content-hash position weight, one home for all engines and
    callers (code-review r15 — the r14 weight fix had to touch four
    files): ``((rank - 1) % (P - 1)) + 1`` — never zero, full period
    P-1, so every document's content affects the hash at ANY rank.
    Pure integer arithmetic spelled identically in Spark SQL and
    DuckDB."""
    return f"((({rank_expr} - 1) % ({SHARD_PRIME} - 1)) + 1)"


def seed_multiplier(seed: int) -> int:
    """Nonzero ring constant derived from the seed: the shuffle key is
    ``((polyhash(id) + 1) * seed_multiplier(seed)) mod P``. The
    constant is a ring POWER (MINSTD base 48271), not a hash of the
    seed string: consecutive seeds hash to constants differing by ~1,
    which shifts every key by a near-uniform tiny amount and preserves
    the permutation (the first cut of this function did exactly that —
    caught by test_different_seed_reshuffles); consecutive powers
    differ multiplicatively, which rewraps every key mod P."""
    return pow(48271, (int(seed) % (SHARD_PRIME - 1)) + 1, SHARD_PRIME)


def polyhash_sql_spark(s_sql: str) -> str:
    """Spark-SQL fragment: left-fold polynomial hash of a string
    expression (``acc*31 + ascii(char) mod P``, acc0=0). Stays inside
    whole-stage codegen; the char array is built once per row (the
    split is an argument to ``transform``, not inside the lambda —
    the HOF re-evaluation pitfall)."""
    return (
        f"aggregate(transform(split({s_sql}, ''), c -> ascii(c)), "
        f"CAST(0 AS BIGINT), "
        f"(a, x) -> (a * {SHARD_BASE} + x) % {SHARD_PRIME})"
    )


def polyhash_sql_duckdb(s_sql: str) -> str:
    """The identical fold in DuckDB spelling (same order, same
    literals — the oracle twin; mirrors qualityclassifier's proven
    generate_series/ascii idiom)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series(1, length({s_sql})), "
        f"i -> CAST(ascii(({s_sql})[i]) AS BIGINT))), "
        f"(a, x) -> (a * {SHARD_BASE} + x) % {SHARD_PRIME})"
    )


def _doc_frame(
    df: DataFrame,
    seed: int,
    text_col: str,
    id_col: str,
    cost_col: str | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Narrow per-document projection: id, token count, seeded shuffle
    key, content hash — ONE pass over the text column, no shuffle.
    NULL-text documents are excluded up front (they hold no tokens;
    same discipline as token_budget_select). ``cost_col`` names a
    PRECOMPUTED per-document token count (e.g. BPE tokens from the
    applier) to budget by instead of the whitespace count; a NULL or
    negative precomputed cost fails the job fast (same discipline as
    budget_prefix_select — a NULL n_tokens would otherwise group into
    a phantom NULL shard and a negative one breaks greedy
    monotonicity, both silently; ADVICE r14). The guard is one
    predicate inside the same projection — no extra pass."""
    from ballista_extensions_spark.operators.text import tokens

    mult = seed_multiplier(seed)
    id_str = f"CAST({id_col} AS STRING)"
    doc_str = f"concat(CAST({id_col} AS STRING), ':', {text_col})"
    key = (
        f"(({polyhash_sql_spark(id_str)} + 1) * {mult}) % {SHARD_PRIME}"
    )
    if cost_col is not None:
        cost = F.when(
            F.col(cost_col).isNull() | (F.col(cost_col) < 0),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"ranked_stream: cost_col {cost_col!r} "
                        "must be non-null and >= 0, got "
                    ),
                    F.coalesce(
                        F.col(cost_col).cast("string"), F.lit("NULL")
                    ),
                    F.lit(f" at {id_col}="),
                    F.col(id_col).cast("string"),
                )
            ).cast("long"),
        ).otherwise(F.col(cost_col))
    else:
        cost = F.size(tokens(F.col(text_col)))
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        cost.cast("long").alias("n_tokens"),
        F.expr(key).alias("shuffle_key"),
        F.expr(polyhash_sql_spark(doc_str)).alias("doc_hash"),
        # payload columns ride the range shuffle instead of a second
        # corpus-scale join back onto the assignment (curriculum
        # ordering carries the classifier logit this way)
        *[F.col(c) for c in carry_cols],
    )


def ranked_stream(
    df: DataFrame,
    seed: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    rank_offset: int = 0,
    token_offset: int = 0,
    cost_col: str | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The seeded global document stream: returns
    ``(id, n_tokens, shuffle_key, doc_hash, rank, cum[, carry_cols])``
    where
    ``rank`` is the document's 1-based position in the seeded global
    shuffle order and ``cum`` the INCLUSIVE running token total at
    this document. Fused two-phase rank+cumsum (one range shuffle,
    one O(partitions) driver collect, broadcast offsets) — see module
    docstring. Shard assignment (:func:`assign_training_shards`) and
    sequence packing (operators/packing.py) are both arithmetic over
    this frame.

    ``rank_offset``/``token_offset`` start the global rank and the
    running token total past an EXISTING shard set — the incremental
    path (:func:`extend_training_shards`): the new batch is shuffled
    among itself and appended after the history, continuing the last
    partial shard, identical to re-sharding (history ‖ batch) with
    per-epoch keys. ``carry_cols`` names payload columns of ``df`` to
    ride the range shuffle (avoids a second corpus-scale join back
    onto the assignment)."""
    base = _doc_frame(df, seed, text_col, id_col, cost_col, carry_cols)
    order = ["shuffle_key", id_col]
    part = _range_partitioned(base, order, num_partitions)
    w = (
        Window.partitionBy(_PID)
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.withColumn(
        "__bx_lrn",
        F.row_number()
        .over(Window.partitionBy(_PID).orderBy(*[F.col(c) for c in order]))
        .cast("long"),
    ).withColumn("__bx_lcum", F.sum("n_tokens").over(w))
    # ONE per-partition totals job for both prefixes — O(partitions)
    # driver state, independent of corpus size
    totals = (
        local.groupBy(_PID)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("n_tokens").alias("__t"),
        )
        .collect()
    )
    totals.sort(key=lambda r: r[_PID])
    offsets, acc_n, acc_t = [], int(rank_offset), int(token_offset)
    for r in totals:
        offsets.append((int(r[_PID]), acc_n, acc_t))
        acc_n += int(r["__n"])
        acc_t += int(r["__t"] or 0)
    off_df = df.sparkSession.createDataFrame(
        offsets, schema=f"{_PID} int, __bx_rnoff long, {_OFF} long"
    )
    joined = local.join(F.broadcast(off_df), _PID)
    return (
        joined.withColumn("rank", (F.col("__bx_lrn") + F.col("__bx_rnoff")))
        .withColumn("cum", (F.col("__bx_lcum") + F.col(_OFF)).cast("long"))
        .drop(_PID, "__bx_lrn", "__bx_lcum", "__bx_rnoff", _OFF)
    )


def assign_training_shards(
    df: DataFrame,
    capacity: int,
    seed: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    rank_offset: int = 0,
    token_offset: int = 0,
    cost_col: str | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document shard assignment: returns
    ``(id, n_tokens, shuffle_key, doc_hash, rank, shard_id[,
    carry_cols])`` — :func:`ranked_stream` plus the greedy arithmetic
    ``shard_id = exclusive_cum DIV capacity`` (a document that
    straddles a boundary belongs to the shard it starts in)."""
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    return (
        ranked_stream(
            df,
            seed,
            text_col,
            id_col,
            num_partitions,
            rank_offset,
            token_offset,
            cost_col,
            carry_cols,
        )
        .withColumn(
            "shard_id",
            F.expr(f"CAST((cum - n_tokens) DIV {int(capacity)} AS BIGINT)"),
        )
        .drop("cum")
    )


def extend_training_shards(
    df: DataFrame,
    manifest: DataFrame,
    capacity: int,
    seed: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    cost_col: str | None = None,
) -> DataFrame:
    """Incremental shard emission — the daily-increment path every
    cross-run store in this repo follows (sigstore/phashstore/
    annstore): given the EXISTING manifest, shard only the new batch,
    continuing rank, running token total and the last partial shard;
    history is never re-ranked or re-read. Returns the manifest rows
    of the shards the batch touches (the increment — merge with
    unchanged history rows by shard_id, summing into the boundary
    shard). Driver state: two scalars off the manifest (max rank,
    token total) + the O(partitions) offsets. Epoch keying: pass a
    per-batch seed; determinism is per (history-state, batch, seed).

    ``cost_col`` MUST match the unit the manifest was built with: a
    BPE-budgeted manifest (``training_shard_manifest_bpe``) continues
    in BPE tokens, a whitespace-budgeted one in whitespace tokens —
    the manifest's token total is the continuation offset, so mixing
    units silently corrupts the budget (ADVICE r14; plumbed through
    here for exactly that reason)."""
    row = manifest.agg(
        F.max("max_rank").alias("r"), F.sum("n_tokens").alias("t")
    ).collect()[0]
    rank_off = int(row["r"] or 0)
    tok_off = int(row["t"] or 0)
    return manifest_agg(
        assign_training_shards(
            df,
            capacity,
            seed,
            text_col,
            id_col,
            num_partitions,
            rank_offset=rank_off,
            token_offset=tok_off,
            cost_col=cost_col,
        )
    )


def manifest_agg(assigned: DataFrame, *extra) -> DataFrame:
    """THE manifest aggregation over an assignment frame — single home
    for the content-hash formula (code-review r14: three copies had
    grown; a change applied to one copy but not the others would
    silently break same_seed_byte_identical or oracle parity). One
    map-side-combined groupBy; O(corpus_tokens / capacity) rows.
    ``extra``: additional aggregate Columns over carried payload
    columns (e.g. the curriculum mean score)."""
    p = SHARD_PRIME
    return (
        assigned.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("rank").cast("long").alias("min_rank"),
            F.max("rank").cast("long").alias("max_rank"),
            # position weight: see position_weight_sql (ADVICE r14)
            (
                F.sum(
                    (F.col("doc_hash") * F.expr(position_weight_sql()))
                    % p
                )
                % p
            )
            .cast("long")
            .alias("content_hash"),
            *extra,
        )
        .orderBy("shard_id")
    )


def training_shard_manifest(
    df: DataFrame,
    capacity: int,
    seed: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    cost_col: str | None = None,
) -> DataFrame:
    """One manifest row per shard: doc count, token sum, rank range,
    and the order-sensitive content hash (module docstring).
    ``cost_col``: budget by a precomputed token count (e.g. BPE)."""
    return manifest_agg(
        assign_training_shards(
            df, capacity, seed, text_col, id_col, num_partitions,
            cost_col=cost_col,
        )
    )


def manifest_ctes_duckdb(
    capacity: int,
    seed: int,
    table: str = "documents",
    cost_sql: str | None = None,
    carry_cols: tuple[str, ...] = (),
) -> str:
    """The CTE chain of the manifest oracle (without WITH/final
    SELECT) so composition oracles can append it after their own
    upstream CTEs — ``table`` is any prior CTE exposing (doc_id,
    text[, cost columns]); ``cost_sql`` overrides the whitespace
    token count (e.g. a precomputed BPE count column); ``carry_cols``
    names payload columns of ``table`` passed through to the ranked/
    sharded CTEs (the Spark twin of ranked_stream's carry_cols)."""
    p = SHARD_PRIME
    mult = seed_multiplier(seed)
    key_hash = f"(({polyhash_sql_duckdb('s')} + 1) * {mult}) % {p}"
    doc_hash = polyhash_sql_duckdb("d")
    cost = (
        cost_sql
        if cost_sql is not None
        else "CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)"
    )
    carry = "".join(f", {c}" for c in carry_cols)
    return f"""strs AS (
      SELECT doc_id,
             {cost} AS n_tokens,
             CAST(doc_id AS VARCHAR) AS s,
             CAST(doc_id AS VARCHAR) || ':' || text AS d{carry}
      FROM {table} WHERE text IS NOT NULL),
    hashed AS (
      SELECT doc_id, n_tokens,
             {key_hash} AS shuffle_key,
             {doc_hash} AS doc_hash{carry}
      FROM strs),
    ranked AS (
      SELECT *,
             CAST(ROW_NUMBER() OVER
               (ORDER BY shuffle_key, doc_id) AS BIGINT) AS rank,
             CAST(SUM(n_tokens) OVER
               (ORDER BY shuffle_key, doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM hashed),
    sharded AS (
      SELECT *, (cum - n_tokens) // {int(capacity)} AS shard_id
      FROM ranked)"""


def manifest_select_duckdb(extra_cols_sql: str = "", ordered: bool = True) -> str:
    """The manifest's final SELECT over the ``sharded`` CTE —
    parameterized so composition oracles can append extra aggregates
    (curriculum mean score) instead of restating the column list.
    ``extra_cols_sql`` is inserted verbatim after ``content_hash``
    (lead with a comma)."""
    p = SHARD_PRIME
    order = "\n    ORDER BY shard_id" if ordered else ""
    return f"""
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MIN(rank) AS BIGINT) AS min_rank,
           CAST(MAX(rank) AS BIGINT) AS max_rank,
           CAST(SUM((doc_hash * {position_weight_sql()})
                % {p}) % {p} AS BIGINT) AS content_hash{extra_cols_sql}
    FROM sharded
    GROUP BY shard_id{order}
    """


MANIFEST_SELECT_DUCKDB = manifest_select_duckdb()


def manifest_oracle_sql(
    capacity: int, seed: int, table: str = "documents"
) -> str:
    """DuckDB twin of :func:`training_shard_manifest` — the exact-SQL
    replay of shuffle key, rank, running token total, shard
    assignment and content hash over the same parquet."""
    return (
        f"WITH {manifest_ctes_duckdb(capacity, seed, table)}"
        f"{MANIFEST_SELECT_DUCKDB}"
    )


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    capacity: int,
    seed: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    cost_col: str | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Emit the shards: parquet under ``out_dir/shards/`` partitioned
    by ``shard_id`` (each shard one directory; rows carry ``rank`` so
    the trainer replays the intra-shard order) plus the manifest at
    ``out_dir/manifest/``. ``repartition(n, shard_id)`` puts each
    shard in exactly one task (hash on shard_id), so every shard
    directory holds ONE file; the explicit ``n`` (the session's
    default parallelism — conf-driven on a cluster) keeps the write
    parallel: a bare ``repartition(col)`` is AQE-coalescible, and at
    bench scale AQE collapsed the whole multi-shard write into ONE
    task (r17 job profile: a 4.7 s single-task job). Returns the
    manifest DataFrame (read back from what was written).
    ``cost_col``: budget by a precomputed token count (e.g. BPE) —
    same unit caveat as :func:`extend_training_shards`. ``assigned``:
    a PRECOMPUTED frame from :func:`assign_training_shards` with the
    same (capacity, seed, cost_col) — callers that also aggregate over
    the assignment pass it so the checkpointed range shuffle is paid
    once (shard_replay_audit)."""
    from ballista_extensions_spark.io import default_parallelism

    if assigned is None:
        assigned = assign_training_shards(
            df, capacity, seed, text_col, id_col, cost_col=cost_col
        )
    keep = assigned.join(
        df.select(id_col, text_col), id_col
    )  # re-attach text for the emitted rows
    (
        keep.select(id_col, "rank", "n_tokens", "doc_hash", "shard_id", text_col)
        .repartition(default_parallelism(df.sparkSession), F.col("shard_id"))
        .sortWithinPartitions("shard_id", "rank")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(os.path.join(out_dir, "shards"))
    )
    # the manifest derives from the SAME checkpointed assignment the
    # shard rows came from — no second corpus scan/range shuffle
    # (code-review r14), and the manifest provably describes the bytes
    # just written rather than an independent reconstruction
    manifest_agg(assigned).write.mode("overwrite").parquet(
        os.path.join(out_dir, "manifest")
    )
    return df.sparkSession.read.parquet(os.path.join(out_dir, "manifest"))
