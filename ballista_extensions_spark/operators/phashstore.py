"""Persisted perceptual-hash signature store — the media twin of the
MinHash :mod:`sigstore` (text) and the IVF :mod:`annstore`
(embeddings), closing the store-level gap VERDICT r10 #8 named: a
streaming/batch media-dedup pipeline needs its accepted corpus's
perceptual fingerprints to SURVIVE restarts and to probe each new
crawl increment at cost ∝ the increment, never the corpus.

State model (two frames, optionally persisted as bucketed tables):

- ``members`` — ``(id, h)``: every accepted item's 64-bit perceptual
  hash (dHash for images, energy-dHash for audio, keyframe-dHash for
  video — the store is hasher-agnostic; only the 64-bit geometry is
  assumed). Bucketed+sorted BY ``h``: the hamming-0 probe equi-join
  and the near-pair expansion join both read the store pre-shuffled.
- ``banded`` — ``(h, band, slice)`` over the store's DISTINCT hashes
  (the round-11 hot-bucket discipline of
  :mod:`operators.imagedup`: a degenerate population sharing one hash
  contributes one banded row per band, never one per member).
  Bucketed+sorted BY ``(band, slice)`` — exactly the candidate join's
  keys, so the store side of the banded probe is exchange-free
  however large the accepted corpus grows — only the (small)
  increment's banded rows shuffle to the store's bucket layout.

Probe emits every (stored item, new item) pair within Hamming
``threshold``: hamming-0 from the members equi-join, 1..threshold from
the banded pigeonhole join over distinct hashes (recall exactly 1.0
for threshold < bands) followed by exact xor+bit_count verification —
precision and recall both exact, same contract as
``phash_near_dup_pairs``. Compaction appends the accepted increment's
members and bands only the hashes the store has never seen — a
per-bucket merge at scale, after which the next increment probes the
grown store with the identical exchange-free plan shape.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ballista_extensions_spark.operators.imagedup import (
    _band_slices,
    _members,
    _validate_banding,
    _verified_hash_pairs,
)


@dataclass(frozen=True)
class PHashStore:
    """Handle to media-dedup state: member hashes + banded distinct
    hashes. Frames may be in-memory or backed by bucketed tables;
    ``bands`` is frozen at build time (a different banding would make
    the (band, slice) keys incomparable)."""

    members: DataFrame  # (id, h)
    banded: DataFrame  # (h, band, slice) over DISTINCT stored hashes
    bands: int


def build_phash_store(
    hashes: DataFrame,
    *,
    bands: int = 8,
    id_col: str = "id",
    hash_col: str = "dhash",
    table_prefix: str | None = None,
    buckets: int = 16,
) -> PHashStore:
    """Build the store from the accepted corpus's (id, hash) frame
    (NULL hashes — undecodable media — are dropped). With
    ``table_prefix`` the two frames persist as ``{prefix}_members``
    (bucketed by h) and ``{prefix}_banded`` (bucketed by slice), and
    the returned handle reads from those tables — the cross-run form."""
    width, mask = _validate_banding(0, bands)
    members = _members(hashes, id_col, hash_col)
    banded = _band_slices(
        members.select("h").distinct(), width, mask, bands
    )
    store = PHashStore(members=members, banded=banded, bands=bands)
    if table_prefix is None:
        return store
    return _persist(hashes.sparkSession, store, table_prefix, buckets)


def _persist(
    spark: SparkSession, store: PHashStore, prefix: str, buckets: int
) -> PHashStore:
    from ballista_extensions_spark.io import write_bucketed

    # localCheckpoint first: compaction rewrites the very tables its
    # input frames read, and Spark rejects overwriting a table that
    # appears in the write's own plan (same discipline as sigstore).
    members = store.members.localCheckpoint()
    banded = store.banded.localCheckpoint()
    write_bucketed(
        members, f"{prefix}_members", "h", buckets=buckets, sort_by="h"
    )
    write_bucketed(
        banded, f"{prefix}_banded", ["band", "slice"], buckets=buckets,
        sort_by=["band", "slice"],
    )
    return PHashStore(
        members=spark.table(f"{prefix}_members"),
        banded=spark.table(f"{prefix}_banded"),
        bands=store.bands,
    )


def probe_phash_store(
    store: PHashStore,
    batch_hashes: DataFrame,
    *,
    threshold: int = 6,
    id_col: str = "id",
    hash_col: str = "dhash",
) -> DataFrame:
    """Every (stored_id, new_id, hamming) pair within ``threshold``
    between the store and a new increment — exact precision AND
    recall (pigeonhole + xor/bit_count verification). Ids need not be
    disjoint: an increment item whose id already exists in the store
    IS a finding, not a self-pair (cross-corpus semantics, like
    ``phash_cross_dup_pairs``). Cost ∝ increment × bucket collisions:
    the store side of both joins is pre-bucketed when persisted."""
    _validate_banding(threshold, store.bands)
    return _probe_members(
        store, _members(batch_hashes, id_col, hash_col), threshold
    )


def _probe_members(
    store: PHashStore, bm: DataFrame, threshold: int
) -> DataFrame:
    """:func:`probe_phash_store` for an increment already in
    ``imagedup._members`` form (id, h), passed materialized by the
    caller (see ``imagedup._member_near_dup_pairs``)."""
    width, mask = _validate_banding(threshold, store.bands)
    bsliced = _band_slices(bm.select("h").distinct(), width, mask,
                           store.bands)
    hp = _verified_hash_pairs(store.banded, bsliced, threshold,
                              same_corpus=False)
    eq = (
        store.members.alias("x")
        .join(bm.alias("y"), F.col("x.h") == F.col("y.h"))
        .select(
            F.col("x.id").alias("stored_id"),
            F.col("y.id").alias("new_id"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    near = (
        hp.join(store.members.alias("x"), F.col("x.h") == F.col("ha"))
        .join(bm.alias("y"), F.col("y.h") == F.col("hb"))
        .select(
            F.col("x.id").alias("stored_id"),
            F.col("y.id").alias("new_id"),
            "hamming",
        )
    )
    return eq.unionByName(near)


def compact_into_phash_store(
    store: PHashStore,
    batch_hashes: DataFrame,
    reject_ids: DataFrame | None = None,
    *,
    id_col: str = "id",
    hash_col: str = "dhash",
    table_prefix: str | None = None,
    buckets: int = 16,
) -> PHashStore:
    """Merge the increment's ACCEPTED items into the store: append
    their member rows, and band ONLY the hashes the store has never
    seen (append-only ingest ∝ increment — the store's distinct-hash
    set is never rescanned, just anti-joined). ``reject_ids`` (one
    column ``id``) removes near-dups of stored content before the
    merge. With ``table_prefix`` the merged state rewrites the
    bucketed tables — a per-bucket merge at scale.

    Idempotent under at-least-once redelivery (ADVICE r11): ids
    already in the store are anti-joined out of the increment, so
    re-compacting the same batch is a no-op in BOTH the in-memory and
    table-backed forms — the store is keyed by id and the first
    compaction of an id wins (a later row reusing an id is dropped,
    the same first-wins contract as ``storededup``'s replay path)."""
    bm = _members(batch_hashes, id_col, hash_col)
    if reject_ids is not None:
        bm = bm.join(reject_ids, "id", "left_anti")
    bm = bm.join(store.members.select("id"), "id", "left_anti")
    merged = PHashStore(
        members=store.members.unionByName(bm),
        banded=store.banded.unionByName(_fresh_banded(store, bm)),
        bands=store.bands,
    )
    if table_prefix is None:
        return merged
    return _persist(
        store.members.sparkSession, merged, table_prefix, buckets
    )


def _fresh_banded(store: PHashStore, members: DataFrame) -> DataFrame:
    """(h, band, slice) rows for the hashes of (id, h) ``members`` that
    ``store`` has never banded: the store bands each distinct hash
    once, and an increment adds rows only for its new hashes."""
    width, mask = _validate_banding(0, store.bands)
    fresh_h = (
        members.select("h")
        .distinct()
        .join(store.banded.select("h").distinct(), "h", "left_anti")
    )
    return _band_slices(fresh_h, width, mask, store.bands)
