"""Skew-mitigation helpers for hot-key joins at scale.

AQE's skew-join splitting (enabled by the session factory) handles most
runtime skew; explicit salting remains necessary when a *broadcastable*
side can be replicated against a salted fact side — e.g. joining a
100 TB event log against a dimension where 1% of keys carry 50% of rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with salting: the fact side gets a random salt in
    [0, salt_buckets); the (small) dim side is replicated once per salt
    value; the join key becomes (key, salt), spreading each hot key over
    salt_buckets tasks.

    The dim side is replicated via explode(sequence(...)) — keep it
    broadcast-sized x salt_buckets. Result columns = fact ++ dim (salt
    columns dropped); row multiplicity identical to the plain join.

    ``how`` must not need unmatched DIM-side rows: the dim side is
    replicated salt_buckets times, so a right/full outer join would
    emit every unmatched replica (salt_buckets copies of each
    unmatched dim row) — rejected loudly instead of multiplying rows.
    """
    if salt_buckets < 1:
        raise ValueError("salt_buckets must be >= 1")
    if how.lower().replace("_", "") in {
        "right", "rightouter", "full", "fullouter", "outer",
        "rightanti", "rightsemi",
    }:
        raise ValueError(
            f"how={how!r} needs unmatched/deduplicated dim-side rows; "
            "the salt replication would multiply them by salt_buckets"
        )
    salted_fact = fact.withColumn(
        "__salt", (F.rand(seed=7) * salt_buckets).cast("int")
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    joined = salted_fact.join(
        salted_dim,
        (salted_fact[key] == salted_dim[key])
        & (salted_fact["__salt"] == salted_dim["__salt"]),
        how,
    )
    return joined.drop(salted_dim[key]).drop(salted_fact["__salt"]).drop(
        salted_dim["__salt"]
    )
