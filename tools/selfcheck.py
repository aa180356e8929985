"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at a given sf dir on local Spark, runs the
matching ``oracle_sql()`` in DuckDB over the same parquet files, and
compares row count, column names, and order-insensitive values
(exact match required — our oracles are designed for bit-parity).

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb


# Spark dtype string -> acceptable DuckDB declared types.  The driver's
# hasher distinguishes value TYPES, not just values (round 10: DuckDB
# types bare SUM(BIGINT) as HUGEINT while Spark emits LONG, and five
# hash-exact-by-value queries failed the gate).  This map makes the
# local gate reproduce that discipline: a declared-type mismatch is a
# FAIL even when every value compares equal as a string.
# Families are defined by how values render after the driver's pandas
# conversion, because that is what its hasher sees.  All fixed-width
# integers render identically ("123"), so the int family is one class;
# DECIMAL converts to float64 in pandas, so it is benign against a Spark
# float/double (0.5 == 0.5) but NOT against an int ("3.0" != "3");
# HUGEINT also converts to float64, so against Spark LONG it renders
# "123.0" vs "123" — the round-10 breakage — and is never benign.
_DUCK_INTS = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
_DUCK_FLOATS = {"FLOAT", "REAL", "DOUBLE"}


def _type_ok(spark_t: str, duck_t: str) -> bool:
    """True when the DuckDB declared output type is a benign match for
    the Spark column type.  HUGEINT/UHUGEINT are never benign — they are
    exactly the silent widening that broke round 10."""
    duck_t = str(duck_t).upper()
    if "HUGEINT" in duck_t:
        return False
    spark_t = spark_t.lower()
    if spark_t in ("tinyint", "smallint", "int", "bigint"):
        return duck_t in _DUCK_INTS
    if spark_t in ("float", "double"):
        return duck_t in _DUCK_FLOATS or duck_t.startswith("DECIMAL")
    if spark_t.startswith("decimal"):
        return duck_t.startswith("DECIMAL")
    if spark_t == "string":
        return duck_t == "VARCHAR"
    if spark_t == "boolean":
        return duck_t == "BOOLEAN"
    if spark_t == "date":
        return duck_t == "DATE"
    if spark_t == "binary":
        return duck_t == "BLOB"
    if spark_t.startswith("timestamp"):
        return duck_t.startswith("TIMESTAMP")
    if spark_t.startswith("array"):
        return duck_t.endswith("[]") or duck_t.startswith("LIST")
    # nested struct/map and anything exotic: value compare still applies
    return True


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(",".join(_norm_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from ballista_extensions_spark.session import get_session

    spark = get_session("selfcheck")
    con = duckdb.connect()
    from ballista_extensions_spark.io import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        dt = time.time() - t0
        # Nested output columns are ungradable by the driver: its
        # canonicalizer sorts the collected pandas frame and cannot
        # factorize ndarray/dict cells (r16: packed_segment_ids died
        # with TypeError before any comparison). Fail them here the
        # way the r11 gate fails HUGEINT — one layer up.
        nested = [
            (c, t)
            for c, t in sdf.dtypes
            if t.startswith(("array", "map", "struct"))
        ]
        if nested:
            failures.append(name)
            print(
                f"FAIL {name}: nested output columns {nested} — the "
                "driver canonicalizer cannot hash these; serialize to "
                "scalar strings in both engines"
            )
            continue
        if name not in oracles:
            print(f"okNR {name}: rows={len(srows)} (rows-only, {dt:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append(name)
            print(f"FAIL {name}: columns {sorted(scols)} vs {sorted(dcols)}")
            continue
        stypes = dict(sdf.dtypes)
        dtypes = {c: t for c, t in zip(dcols, rel.types)}
        bad_types = [
            (c, stypes[c], str(dtypes[c]))
            for c in scols
            if not _type_ok(stypes[c], dtypes[c])
        ]
        if bad_types:
            failures.append(name)
            print(f"FAIL {name}: declared-type mismatch {bad_types}")
            continue
        if len(srows) != len(drows):
            failures.append(name)
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(drows)}")
            continue
        s_set = _rowset(scols, [[row[c] for c in scols] for row in srows])
        d_set = _rowset(dcols, drows)
        if s_set != d_set:
            failures.append(name)
            diff = [(a, b) for a, b in zip(s_set, d_set) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diff}")
            continue
        print(f"ok   {name}: rows={len(srows)} exact match ({dt:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
