"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY.md §5 notes it has none): algebraic invariants of the
operators over generated inputs. Each property batches its generated
rows into a single Spark job to keep runtime sane."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from ballista_extensions_spark.operators import dedup as D
from ballista_extensions_spark.operators import text as T

# printable-ish text without surrogates; includes whitespace runs
TEXTS = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    min_size=0,
    max_size=80,
)

SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@SETTINGS
@given(texts=st.lists(TEXTS, min_size=1, max_size=20))
def test_dedup_exact_partitions_input(spark, texts):
    """sum(n_copies) == input rows, and representatives are minimal ids."""
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    rows = D.dedup_exact(df).collect()
    assert sum(r.n_copies for r in rows) == len(texts)
    firsts = {}
    for i, t in enumerate(texts):
        firsts.setdefault(t, i)
    assert sorted(r.keep_id for r in rows) == sorted(firsts.values())


@SETTINGS
@given(texts=st.lists(TEXTS, min_size=1, max_size=15))
def test_normalize_idempotent(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    once = df.select("doc_id", T.normalize(F.col("text")).alias("n"))
    twice = once.select("doc_id", T.normalize(F.col("n")).alias("n"))
    a = {r.doc_id: r.n for r in once.collect()}
    b = {r.doc_id: r.n for r in twice.collect()}
    assert a == b


@SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="abcdef gh", min_size=0, max_size=60), min_size=2, max_size=12
    )
)
def test_jaccard_bounds_and_reflexivity(spark, texts):
    """Exact near-dup pairs: jaccard in [0,1]; a doc duplicated exactly
    yields jaccard 1 with itself-as-other-id (when shingles exist)."""
    rows = [(i * 10, t) for i, t in enumerate(texts)]
    rows.append((5, texts[0]))  # duplicate of doc 0 at a probe-visible id
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = D.near_dup_pairs_exact(df, threshold=0.0, probe_mod=10, n=2).collect()
    for p in pairs:
        assert 0.0 <= p.jaccard <= 1.0
    if len(texts[0].split()) >= 2:  # 2-gram shingles need >= 2 tokens
        dup = [p for p in pairs if p.doc_a == 0 and p.doc_b == 5]
        if dup:
            assert dup[0].jaccard == 1.0


@SETTINGS
@given(texts=st.lists(TEXTS, min_size=1, max_size=15))
def test_fingerprint_respects_normalization(spark, texts):
    """Equal normalized text => equal md5 and rolling fingerprints."""
    rows = []
    for i, t in enumerate(texts):
        rows.append((2 * i, t))
        rows.append((2 * i + 1, "  " + t + " "))  # whitespace variant, same norm
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.fp, r.roll)
        for r in df.select(
            "doc_id",
            T.fingerprint_md5(F.col("text")).alias("fp"),
            T.fingerprint_rolling("text").alias("roll"),
        ).collect()
    }
    norm = {
        r.doc_id: r.n
        for r in df.select("doc_id", T.normalize(F.col("text")).alias("n")).collect()
    }
    by_norm: dict[str, tuple] = {}
    for did, n in norm.items():
        if n in by_norm:
            assert by_norm[n] == got[did], f"fingerprint differs for equal norm {n!r}"
        else:
            by_norm[n] = got[did]


@SETTINGS
@given(
    fracs=st.lists(
        st.floats(min_value=0.05, max_value=1.0, allow_nan=False), min_size=1, max_size=3
    )
)
def test_sample_subset_property(spark, fracs):
    """Sampled rows are always a subset of the input; fraction 1 keeps
    everything."""
    from ballista_extensions_spark.operators.sample import sample

    base = spark.range(0, 200).withColumnRenamed("id", "k")
    universe = set(range(200))
    for i, f in enumerate(fracs):
        kept = {r.k for r in sample(base, f, seed=i).collect()}
        assert kept <= universe
    assert {r.k for r in sample(base, 1.0, seed=0).collect()} == universe


# -------------------------- avro codec (no Spark: pure-Python encoder)

_AVRO_PRIMS = [
    ("long", st.integers(min_value=-(2**63), max_value=2**63 - 1)),
    ("int", st.integers(min_value=-(2**31), max_value=2**31 - 1)),
    ("double", st.floats(allow_nan=False, allow_infinity=False)),
    ("boolean", st.booleans()),
    ("string", TEXTS),
    ("bytes", st.binary(max_size=40)),
]


@SETTINGS
@given(
    data=st.data(),
    types=st.lists(st.sampled_from(_AVRO_PRIMS), min_size=1, max_size=4),
    n_rows=st.integers(min_value=0, max_value=25),
    codec=st.sampled_from(["null", "deflate"]),
)
def test_avro_container_roundtrip(tmp_path_factory, data, types, n_rows, codec):
    """Pure-Python Avro OCF: arbitrary rows of nullable primitives
    survive write->read bit-exactly (zigzag varints at both extremes,
    empty strings/bytes, block framing, both codecs)."""
    from ballista_extensions_spark.sources import avro_py as A

    schema = {
        "type": "record",
        "name": "topLevelRecord",
        "fields": [
            {"name": f"f{i}", "type": ["null", t]}
            for i, (t, _strat) in enumerate(types)
        ],
    }
    rows = [
        {
            f"f{i}": data.draw(st.one_of(st.none(), strat))
            for i, (_t, strat) in enumerate(types)
        }
        for _ in range(n_rows)
    ]
    p = str(tmp_path_factory.mktemp("avro_prop") / "t.avro")
    n = A.write_container(p, schema, rows, codec=codec, objects_per_block=7)
    assert n == n_rows
    gen = A.read_container(p)
    assert next(gen) == schema
    assert list(gen) == rows


@SETTINGS
@given(texts=st.lists(TEXTS, min_size=1, max_size=15))
def test_repetition_stats_against_python_reference(spark, texts):
    """repetition_stats agrees with a direct Python computation of the
    same formulas on arbitrary text (whitespace runs, unicode, empties).

    The reference tokenizer is pinned to ASCII whitespace
    (``[ \\t\\n\\r\\f\\v]``): the engine splits with Java regex ``\\s``
    and the oracle with RE2 ``\\s``, both ASCII-only, whereas Python's
    ``re`` ``\\s`` also matches U+0085/U+00A0/…, which diverged on the
    Hypothesis example ``' 0\\x85'``."""
    import re

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {r["doc_id"]: r for r in T.repetition_stats(df).collect()}
    for i, t in enumerate(texts):
        toks = re.split(r"[ \t\n\r\f\v]+", t)
        if len(toks) < 3:
            assert i not in got
            continue
        bi = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        tri = [f"{a} {b} {c}" for a, b, c in zip(toks, toks[1:], toks[2:])]
        r = got[i]
        assert r["n_tokens"] == len(toks)
        assert r["distinct_ratio"] == len(set(toks)) / len(toks)
        assert r["dup_bigram_frac"] == 1.0 - len(set(bi)) / len(bi)
        assert r["dup_trigram_frac"] == 1.0 - len(set(tri)) / len(tri)
        top = max(toks.count(x) for x in set(toks))
        assert r["top_token_frac"] == top / len(toks)


@SETTINGS
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-100,
                max_value=100,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_quantize_int8_against_python_reference(spark, vecs):
    """quantize_int8 audit sums match a direct Python reference with
    the identical floor(x/scale + 0.5) rule."""
    import math

    from ballista_extensions_spark.operators.similarity import quantize_int8
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    df = spark.createDataFrame(list(enumerate(vecs)), schema)
    got = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    import numpy as np

    for i, v in enumerate(vecs):
        v = [float(np.float32(x)) for x in v]
        scale = max(abs(x) for x in v) / 127.0
        if scale == 0:
            q = [0] * len(v)
        else:
            q = [int(math.floor(x / scale + 0.5)) for x in v]
        r = got[i]
        assert r["checksum"] == sum(q)
        assert r["l1_norm"] == sum(abs(x) for x in q)
        assert r["n_saturated"] == sum(1 for x in q if abs(x) == 127)


@SETTINGS
@given(
    ivs=st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 30)),
        min_size=1,
        max_size=25,
    )
)
def test_interval_concurrency_invariants(spark, ivs):
    """Sweep line over random [s, s+d) intervals: the curve ends at 0,
    every level matches the brute-force overlap count at that boundary,
    and levels are non-negative."""
    from ballista_extensions_spark.operators.intervals import (
        interval_concurrency,
    )

    rows = [(s, s + d) for s, d in ivs]
    df = spark.createDataFrame(rows, "s long, e long")
    got = sorted(
        (r["t"], r["concurrent"])
        for r in interval_concurrency(df, "s", "e").collect()
    )
    assert got[-1][1] == 0
    for t, level in got:
        brute = sum(1 for s, e in rows if s <= t < e)
        assert level == brute
        assert level >= 0


@SETTINGS
@given(
    vals=st.lists(st.integers(0, 30), min_size=1, max_size=120),
    counters=st.integers(1, 6),
    k=st.integers(1, 5),
)
def test_exact_top_k_always_matches_naive(spark, vals, counters, k):
    """exact_top_k == the naive full group-by for ANY data, even when
    tiny counters force the fallback path (the operator's core claim)."""
    from collections import Counter

    from ballista_extensions_spark.operators.frequent import exact_top_k

    df = spark.createDataFrame([(v,) for v in vals], "v long").repartition(4)
    got = [
        (r["item"], r["cnt"])
        for r in exact_top_k(df, "v", k=k, counters=counters).collect()
    ]
    want = sorted(
        ((str(v), c) for v, c in Counter(vals).items()),
        key=lambda x: (-x[1], x[0]),
    )[:k]
    assert got == want


@SETTINGS
@given(
    counts=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(1, 40),
        min_size=1,
        max_size=4,
    ),
    raw_w=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.floats(0.05, 1.0, allow_nan=False),
        min_size=1,
        max_size=4,
    ),
)
def test_mixture_quota_arithmetic(spark, counts, raw_w):
    """Quotas are floor(w * min(n/w)) over groups present in BOTH the
    data and the weights; output counts hit them exactly."""
    import math

    from ballista_extensions_spark.operators.mixing import resample_to_mixture

    rows = [
        (g, i + 1000 * ord(g)) for g, n in counts.items() for i in range(n)
    ]
    df = spark.createDataFrame(rows, "g string, id long")
    out = resample_to_mixture(df, "g", raw_w, key_col="id")
    got = {
        r["g"]: r["n"]
        for r in out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    both = {g: raw_w[g] for g in raw_w if g in counts}
    if not both:
        assert got == {}
        return
    cap = min(counts[g] / w for g, w in both.items())
    want = {g: math.floor(w * cap) for g, w in both.items()}
    assert got == {g: n for g, n in want.items() if n > 0} or got == want


@SETTINGS
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 9), st.integers(-50, 50)),
        min_size=2,
        max_size=40,
    )
)
def test_group_ols_matches_fraction_closed_form(spark, pts):
    """group_ols equals the EXACT rational closed form evaluated through
    the same double expression tree (decimal sums are exact integers
    here, so operands agree bit-for-bit)."""
    from fractions import Fraction

    from ballista_extensions_spark.operators.regression import group_ols

    df = spark.createDataFrame(
        [("g", x, y) for x, y in pts], "g string, x long, y long"
    )
    got = group_ols(
        df, ["g"], F.col("x"), F.col("y"), y_dec="decimal(18,0)"
    ).collect()[0]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    den = Fraction(n) * sxx - Fraction(sx) * sx
    if den == 0:
        assert got["slope"] is None and got["intercept"] is None
        return
    # replay the double expression tree on exact-integer operands
    fn, fsx, fsy, fsxy, fsxx = map(float, (n, sx, sy, sxy, sxx))
    num_d = fn * fsxy - fsx * fsy
    den_d = fn * fsxx - fsx * fsx
    slope_d = num_d / den_d
    assert got["slope"] == slope_d
    assert got["intercept"] == (fsy - slope_d * fsx) / fn


# ------------------------------------------------ round-7 properties

@SETTINGS
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 30), st.integers(-50, 50)),
        min_size=1,
        max_size=40,
    ),
    probs=st.lists(
        st.sampled_from([0.1, 0.25, 0.5, 0.75, 0.9]),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
def test_grouped_percentile_disc_matches_window(spark, vals, probs):
    """grouped_percentile_disc == the per-group window PERCENTILE_DISC
    (value at rank ceil(p*n), deterministic tiebreak) on random data."""
    from ballista_extensions_spark.operators.prefix import (
        grouped_percentile_disc,
    )

    rows = [(f"g{g}", v, i) for i, (g, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, v long, tb long").repartition(3)
    got = {
        (r["g"], r["prob"]): r["v"]
        for r in grouped_percentile_disc(
            df, "g", "v", probs, tiebreak_cols=("tb",)
        ).collect()
    }
    # reference: python-side exact ceil(p*n) over sorted per-group values
    import math
    from collections import defaultdict
    from fractions import Fraction

    groups = defaultdict(list)
    for g, v, tb in rows:
        groups[g].append((v, tb))
    expect = {}
    for g, items in groups.items():
        items.sort()
        n = len(items)
        for p in probs:
            fr = Fraction(str(p))
            rank = max(1, math.ceil(fr * n))
            expect[(g, p)] = items[rank - 1][0]
    assert got == expect


# ------------------------------------------------ round-8 properties

@SETTINGS
@given(
    pts=st.lists(
        st.tuples(
            st.one_of(st.none(), st.floats(-50, 50, allow_nan=False), st.just(float("nan"))),
            st.one_of(st.none(), st.floats(-50, 50, allow_nan=False), st.just(float("nan"))),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_skyline_2d_matches_brute_force(spark, pts):
    """skyline_2d == the quadratic dominance scan on random points,
    with NULL/NaN rows excluded from dominance entirely."""
    from ballista_extensions_spark.operators.skyline import skyline_2d

    df = spark.createDataFrame(pts, "x double, y double")
    got = sorted((r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect())
    import math

    clean = [
        (x, y)
        for x, y in pts
        if x is not None and y is not None and not math.isnan(x) and not math.isnan(y)
    ]
    # per-x best y, then frontier = levels not dominated by any other level
    best: dict[float, float] = {}
    for x, y in clean:
        best[x] = max(best.get(x, float("-inf")), y)
    levels = sorted(best.items())
    want = sorted(
        (x, y)
        for x, y in levels
        if not any(ox < x and oy >= y or ox <= x and oy > y for ox, oy in levels)
    )
    assert got == want


@SETTINGS
@given(
    snap=st.dictionaries(st.integers(0, 12), st.integers(-99, 99), max_size=10),
    batches=st.lists(
        st.dictionaries(
            st.integers(0, 12),
            st.tuples(st.sampled_from("IUD"), st.integers(-99, 99)),
            max_size=8,
        ),
        min_size=1,
        max_size=3,
    ),
)
def test_cdc_merge_chain_matches_dict_replay(spark, snap, batches):
    """Chained cdc_merge over arbitrary I/U/D batches == a Python dict
    replay — upsert-on-absent-key, delete-on-absent-key no-op, and the
    output op column marking exactly the LAST batch's surviving touches
    ('K' for rows it left alone). Chaining feeds each merge's output
    (op column and all) straight into the next, the composability the
    frame-qualified references exist for."""
    from ballista_extensions_spark.operators.cdc import cdc_merge

    cur = spark.createDataFrame(
        list(snap.items()) or [(None, None)], "k long, v long"
    )
    if not snap:
        cur = cur.filter(F.col("k").isNotNull())
    state = dict(snap)
    last_touch: dict[int, str] = {}
    for batch in batches:
        rows = [(k, op, val) for k, (op, val) in batch.items()]
        ch = spark.createDataFrame(
            rows or [(None, None, None)], "ck long, op string, nv long"
        )
        if not rows:
            ch = ch.filter(F.col("ck").isNotNull())
        cur = cdc_merge(cur, ch, "k", "ck", {"v": "nv"})
        last_touch = {}
        for k, (op, val) in batch.items():
            if op == "D":
                state.pop(k, None)
                last_touch.pop(k, None)
            else:
                state[k] = val
                last_touch[k] = op
    got = {r["k"]: (r["v"], r["op"]) for r in cur.collect()}
    want = {k: (v, last_touch.get(k, "K")) for k, v in state.items()}
    assert got == want


@SETTINGS
@given(
    counts=st.lists(st.integers(0, 10_000), min_size=1, max_size=12),
    budget=st.integers(1, 5_000),
)
def test_largest_remainder_allocation_properties(spark, counts, budget):
    """Hamilton apportionment invariants: allocations sum EXACTLY to
    the budget, each group's share is within 1 of its exact
    proportional quota, and allocation is monotone-ish in count (a
    group never gets less than a group with a smaller count minus 1)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    total = sum(counts)
    if total == 0:
        return
    rows = [(f"s{i}", c) for i, c in enumerate(counts)]
    base = (
        spark.createDataFrame(rows, "source string, n_tokens long")
        .crossJoin(spark.createDataFrame([(total,)], "t long"))
        .select(
            "source",
            "n_tokens",
            F.expr(f"({budget} * n_tokens) div t").alias("floor_alloc"),
            F.expr(f"({budget} * n_tokens) % t").alias("rem"),
        )
    )
    short = base.agg((F.lit(budget) - F.sum("floor_alloc")).alias("k"))
    w = Window.orderBy(F.desc("rem"), F.asc("source"))
    out = {
        r["source"]: (r["n_tokens"], r["alloc"])
        for r in base.withColumn("rr", F.row_number().over(w))
        .crossJoin(F.broadcast(short))
        .select(
            "source",
            "n_tokens",
            (
                F.col("floor_alloc")
                + F.when(F.col("rr") <= F.col("k"), 1).otherwise(0)
            ).alias("alloc"),
        )
        .collect()
    }
    import math

    allocs = {s: a for s, (c, a) in out.items()}
    assert sum(allocs.values()) == budget
    from fractions import Fraction

    for s, (c, a) in out.items():
        # quota rule: allocation is the exact proportional share rounded
        # down or up, never further (Fraction keeps the bound exact)
        exact = Fraction(budget * c, total)
        assert math.floor(exact) <= a <= math.ceil(exact), (s, c, a, exact)
    # monotonicity: a larger count never receives MORE THAN 1 less than
    # a smaller count (floor quotas are ordered; the +1 bonus can favor
    # either side by at most one)
    by_count = sorted(out.values())
    for (c1, a1), (c2, a2) in zip(by_count, by_count[1:]):
        assert a2 >= a1 - 1, (c1, a1, c2, a2)


@SETTINGS
@given(
    arrs=st.lists(
        st.lists(st.integers(0, 255), min_size=1, max_size=6),
        min_size=1,
        max_size=6,
    ),
    channels=st.sampled_from([1, 2, 3, 4]),
    filter_type=st.sampled_from([0, 1, 2, 3, 4, None]),
)
def test_png_roundtrip_property(arrs, channels, filter_type):
    """encode_png/decode_png_to_array round-trip bit-exactly for every
    channel count and filter type over generated pixel grids, and the
    filter-0 size formula holds exactly."""
    import numpy as np

    from ballista_extensions_spark.operators import imagecodec as C
    from test_multimodal import png_file_size

    h = len(arrs)
    w = len(arrs[0])
    px = np.zeros((h, w, channels), dtype=np.uint8)
    for y, row in enumerate(arrs):
        for x in range(w):
            v = row[x % len(row)]
            for c in range(channels):
                px[y, x, c] = (v + 37 * c + 11 * y + 5 * x) % 256
    b = C.encode_png(px, filter_type=filter_type)
    assert (C.decode_png_to_array(b) == px).all()
    if filter_type == 0:
        assert len(b) == png_file_size(w, h, channels)
    gw, gh, gc = C.decode_image(b)
    assert (gw, gh, gc) == (w, h, channels)


@SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="ab cd ef", min_size=0, max_size=60),
        min_size=2,
        max_size=10,
    ),
    split=st.integers(1, 3),
)
def test_sigstore_ingest_equals_direct_pairs(spark, texts, split):
    """Signature-store ingest reproduces the direct frozen-cap pair
    computation on generated corpora for any store/batch split — the
    same equivalence the SQL oracle asserts, here over adversarial
    whitespace/short-token inputs."""
    from ballista_extensions_spark.operators import sigstore as SS
    from ballista_extensions_spark.operators.dedup import (
        _word_postings,
    )

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    stored = df.filter(F.col("doc_id") % (split + 1) != 0)
    batch = df.filter(F.col("doc_id") % (split + 1) == 0)
    store = SS.build_signature_store(stored, max_df=3)
    sig = SS.batch_signatures(store, batch)
    got = {
        (r.doc_stored, r.doc_new, round(r.jaccard, 12))
        for r in SS.ingest_against_store(
            store, sig, threshold=0.3
        ).collect()
    }
    # direct reference under the same frozen cap
    a_post = _word_postings(stored, "text", "doc_id", 3)
    b_post = _word_postings(batch, "text", "doc_id", 3)
    stop = (
        a_post.groupBy("s")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 3)
        .select("s")
    )
    a_cap = {
        (r.doc, r.s)
        for r in a_post.join(stop, "s", "left_anti").collect()
    }
    b_cap = {
        (r.doc, r.s)
        for r in b_post.join(stop, "s", "left_anti").collect()
    }
    from collections import defaultdict

    sa, sb = defaultdict(set), defaultdict(set)
    for doc, s in a_cap:
        sa[doc].add(s)
    for doc, s in b_cap:
        sb[doc].add(s)
    want = set()
    for da, ssa in sa.items():
        for db, ssb in sb.items():
            i = len(ssa & ssb)
            u = len(ssa | ssb)
            if u and i / u >= 0.3:
                want.add((da, db, round(i / u, 12)))
    # Precision is EXACT (every emitted pair is verified), so got is
    # always a subset of the true pair set. Recall is the banding
    # collision probability: a just-above-threshold pair can miss with
    # p = (1 - s^2)^64 (~0.2% at s=0.3), so exact equality would flake
    # on generated corpora — instead require every pair with strong
    # similarity (s >= 0.6: miss probability < 1e-13) to be found.
    assert got <= want
    strong = {t for t in want if t[2] >= 0.6}
    assert strong <= got


# URL components for the normalization fixpoint property: schemes and
# hosts case-shuffled, optional www, path segments, query params (some
# tracking), optional fragment.
_SEG = st.text(alphabet="abXY09.-_", min_size=1, max_size=6)
_URLS = st.builds(
    lambda scheme, www, host, segs, slashes, params, frag: (
        scheme
        + "://"
        + www
        + host
        + "".join("/" + s for s in segs)
        + "/" * slashes
        + ("?" + "&".join(params) if params else "")
        + ("#" + frag if frag else "")
    ),
    scheme=st.sampled_from(["http", "HTTP", "https", "HtTpS"]),
    www=st.sampled_from(["", "www.", "WWW.", "www.www.", "WWW.Www."]),
    host=st.sampled_from(
        ["ex.com", "Ex.COM", "a.b.ORG", "x9.net", "www-cdn.ex.com"]
    ),
    segs=st.lists(_SEG, min_size=0, max_size=3),
    slashes=st.integers(min_value=0, max_value=2),
    params=st.lists(
        st.sampled_from(
            ["a=1", "page=2", "utm_source=x", "utm_c=y", "q=z9"]
        ),
        min_size=0,
        max_size=4,
    ),
    frag=st.sampled_from(["", "top", "s-2"]),
)


@SETTINGS
@given(urls=st.lists(_URLS, min_size=1, max_size=25))
def test_url_normalize_is_idempotent_and_canonical(spark, urls):
    """normalize(normalize(u)) == normalize(u) (a canonicalizer must
    be a fixpoint — including stacked www. prefixes, which the r11
    code review caught breaking it), the output never retains
    fragments, utm_ params, uppercase scheme/host, a www. prefix, or
    trailing slashes."""
    from ballista_extensions_spark.operators.webprep import url_normalize

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(
        "url",
        url_normalize("url").alias("n1"),
        url_normalize(url_normalize("url")).alias("n2"),
    ).collect()
    for r in out:
        assert r["n2"] == r["n1"], (r["url"], r["n1"], r["n2"])
        n = r["n1"]
        assert "#" not in n and "utm_" not in n
        scheme, rest = n.split("://", 1)
        assert scheme == scheme.lower()
        hostend = len(rest)
        for sep in "/?#":
            if sep in rest:
                hostend = min(hostend, rest.index(sep))
        host = rest[:hostend]
        assert host == host.lower() and not host.startswith("www.")
        path = rest[hostend:].split("?")[0]
        assert not path.endswith("/") or path == ""


@SETTINGS
@given(texts=st.lists(TEXTS, min_size=1, max_size=20))
def test_dsir_fold_python_duckdb_spark_parity(spark, texts):
    """Three-engine bit-parity of the DSIR feature fold over
    GENERATED text (including unicode up to U+02FF, whitespace runs,
    empties) — the property every analytics13 oracle rests on. One
    Spark job per example batch."""
    import duckdb

    from ballista_extensions_spark.operators import dsir as DS

    py = [DS.py_feature_fold(t, DS.FROZEN_DSIR_RATIOS) for t in texts]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["logweight"]
        for r in DS.dsir_logweights(df).collect()
    }
    assert [got[i] for i in range(len(texts))] == py
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", list(enumerate(texts))
    )
    duck = [
        r[0]
        for r in con.execute(
            f"WITH w AS (SELECT doc_id, "
            f"{DS.words_sql_duckdb('text')} AS ws FROM t) "
            f"SELECT "
            f"{DS.feature_fold_sql_duckdb('ws', DS.FROZEN_DSIR_RATIOS)} "
            f"FROM w ORDER BY doc_id"
        ).fetchall()
    ]
    assert duck == py


# Unicode strings incl. combining marks, Hangul jamo, CJK and astral
# planes (no surrogates/control chars) — the NFC twin must hold beyond
# the fixture's six suffixes
_UNI = st.text(
    alphabet=st.characters(
        min_codepoint=32,
        max_codepoint=0x2FFFF,
        blacklist_categories=("Cs", "Cc"),
    ),
    min_size=0,
    max_size=40,
)


@SETTINGS
@given(texts=st.lists(_UNI, min_size=1, max_size=12))
def test_nfc_twin_matches_duckdb_and_python(spark, texts):
    """functions/udf.py:py_nfc_normalize ≡ DuckDB nfc_normalize ≡
    unicodedata.normalize('NFC') over arbitrary Unicode (the oracle-twin
    claim text_nfc_normalize_stats rests on, generalized past the
    fixture)."""
    import unicodedata

    import duckdb

    from ballista_extensions_spark.functions.udf import py_nfc_normalize

    df = spark.createDataFrame(
        list(enumerate(texts)), "i long, t string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select(
            "i", py_nfc_normalize(F.col("t")).alias("n")
        ).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        py = unicodedata.normalize("NFC", t)
        duck = con.execute(
            "SELECT nfc_normalize(?)", [t]
        ).fetchone()[0]
        assert got[i] == py == duck, (i, repr(t))


@SETTINGS
@given(texts=st.lists(TEXTS, min_size=1, max_size=12))
def test_polyhash_twin_matches_duckdb_and_python(spark, texts):
    """operators/shards.py polyhash: Spark fold ≡ DuckDB fold ≡ the
    Python mirror over arbitrary strings — the hash family every shard
    key/content hash and the classifier/DSIR features build on."""
    import duckdb

    from ballista_extensions_spark.operators.shards import (
        SHARD_BASE,
        SHARD_PRIME,
        polyhash_sql_duckdb,
        polyhash_sql_spark,
    )

    def polyhash_py(s: str) -> int:
        acc = 0
        for ch in s:
            acc = (acc * SHARD_BASE + ord(ch)) % SHARD_PRIME
        return acc

    df = spark.createDataFrame(
        list(enumerate(texts)), "i long, t string"
    )
    got = {
        r["i"]: r["h"]
        for r in df.select(
            "i", F.expr(polyhash_sql_spark("t")).alias("h")
        ).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        duck = con.execute(
            f"SELECT {polyhash_sql_duckdb('t')} FROM (SELECT ? AS t)",
            [t],
        ).fetchone()[0]
        assert got[i] == polyhash_py(t) == duck, (i, repr(t))
