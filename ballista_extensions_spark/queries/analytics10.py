"""Round-11 operator-surface queries (VERDICT r10 directive #8): the
persisted perceptual-hash signature store — production media-dedup
state at the STORE level, unifying the sigstore (text) / annstore
(embeddings) pattern with the perceptual-hash family so streaming
media dedup survives restarts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ballista_extensions_spark.io import ensure_parallelism, load_table
from ballista_extensions_spark.queries.analytics7 import _DHASH_CTE
from ballista_extensions_spark.queries.audits import check_rows, register_audit
from ballista_extensions_spark.queries.registry import register


@register(
    "image_signature_store_incremental",
    oracle=f"""
    WITH {_DHASH_CTE}
    SELECT a.doc_id AS stored_id, b.doc_id AS new_id,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming,
           CAST(1 AS INT) AS phase
    FROM dh a JOIN dh b
      ON a.doc_id % 2 = 0 AND b.doc_id % 4 = 1
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
    UNION ALL
    SELECT a.doc_id, b.doc_id,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT),
           CAST(2 AS INT)
    FROM dh a JOIN dh b
      ON (a.doc_id % 2 = 0 OR a.doc_id % 4 = 1) AND b.doc_id % 4 = 3
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
    """,
)
def image_signature_store_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-run media dedup via the persisted perceptual-hash store
    (operators/phashstore.py): half the corpus (even doc_ids) plays
    the ACCEPTED store — PNG media fixtures, REAL codec decode,
    64-bit dHash — and the odd half arrives as TWO crawl increments
    (doc_id % 4 == 1, then % 4 == 3). Phase 1 probes increment 1
    against the store (banded pigeonhole candidates over DISTINCT
    hashes + exact xor/bit_count verification, threshold 6); the
    increment is then compacted in (append members, band only
    never-seen hashes); phase 2 probes increment 2 against the GROWN
    store, so its matches legitimately include increment-1 items —
    the restart-survivable semantics the store exists for. The oracle
    replays both phases as brute-force Hamming over the dHash
    arithmetic, so a hash match proves candidate recall exactly 1.0
    and bit-exact verification for BOTH probe rounds, including the
    compaction boundary. Scale: probe cost ∝ increment × bucket
    collisions; with the store persisted bucketed by h / slice
    (tests/test_phashstore.py proves the exchange-free store side),
    per-increment cost never rescans the corpus."""
    from ballista_extensions_spark.operators.imagedup import image_dhash
    from ballista_extensions_spark.operators.multimodal import (
        docs_as_png_media,
    )
    from ballista_extensions_spark.operators.phashstore import (
        build_phash_store,
        compact_into_phash_store,
        probe_phash_store,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    hashes = image_dhash(
        docs_as_png_media(d)
    ).localCheckpoint(eager=False)
    stored = hashes.filter(F.col("id") % 2 == 0)
    inc1 = hashes.filter(F.col("id") % 4 == 1)
    inc2 = hashes.filter(F.col("id") % 4 == 3)

    store = build_phash_store(stored, bands=8, hash_col="dhash")
    p1 = probe_phash_store(store, inc1, threshold=6, hash_col="dhash")
    grown = compact_into_phash_store(store, inc1, hash_col="dhash")
    p2 = probe_phash_store(grown, inc2, threshold=6, hash_col="dhash")
    return p1.withColumn("phase", F.lit(1)).unionByName(
        p2.withColumn("phase", F.lit(2))
    )


_HTML_PAGE_SQL = """
      '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
      || '</title><script>var x=1;</script>'
      || '<style>.c{color:red}</style></head>'
      || '<body><nav>Home | About | Contact</nav>'
      || '<div class="content"><p>' || text
      || '</p></div><footer>(c) 2026 Example</footer></body></html>'
"""

_HTML_TEXT_SQL = """
      trim(regexp_replace(
        replace(replace(replace(replace(
          regexp_replace(
            regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(html,
                '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                '(?is)<nav[^>]*>.*?</nav>', ' ', 'g'),
                '(?is)<footer[^>]*>.*?</footer>', ' ', 'g'),
                '(?is)<title[^>]*>.*?</title>', ' ', 'g'),
            '<[^>]+>', ' ', 'g'),
          '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '), '&amp;', '&'),
        '\\s+', ' ', 'g'))
"""


@register(
    "html_extract_quality",
    oracle=f"""
    WITH pages AS (
      SELECT doc_id, {_HTML_PAGE_SQL} AS html FROM documents),
    ex AS (
      SELECT doc_id, html, {_HTML_TEXT_SQL} AS txt FROM pages)
    SELECT doc_id,
           CAST(length(html) AS BIGINT) AS n_raw,
           CAST(length(txt) AS BIGINT) AS n_text,
           CAST(length(txt) AS DOUBLE) / CAST(length(html) AS DOUBLE)
             AS retained_ratio,
           md5(txt) AS text_md5
    FROM ex
    """,
)
def html_extract_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal — the transform a crawl corpus passes
    BEFORE every dedup/quality operator in this engine: documents
    become deterministic HTML pages (head with title/script/style,
    nav, content div, footer — operators/webprep.py:docs_as_html),
    and the strip operator removes boilerplate elements WITH their
    content, strips remaining tags, decodes entities, and collapses
    whitespace (webprep.html_text — a pure regexp_replace chain inside
    the Java-regex/RE2 common subset). Output per page: raw and
    extracted lengths, the retained-content ratio a quality gate
    thresholds on, and the md5 of the extracted text a downstream
    exact-dedup keys on. The oracle rebuilds the identical page and
    replays the identical chain, so a hash match proves the extraction
    string-exactly (via md5) on every row. Scale: narrow projection,
    whole-stage codegen, zero Python; the only exchange is the
    ensure_parallelism guard on the single-file test input — on a real
    multi-file corpus the operator itself adds no shuffle."""
    from ballista_extensions_spark.operators.webprep import (
        docs_as_html,
        html_extract_stats,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return html_extract_stats(docs_as_html(d))


@register(
    "url_frontier_dedup",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.'
                   ELSE 'https://' END)
             || 'Site' || CAST(doc_id % 50 AS VARCHAR)
             || '.Example.COM/articles/' || CAST(doc_id % 100 AS VARCHAR)
             || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 4 = 0
                      THEN '?utm_source=feed&page='
                           || CAST(doc_id % 5 AS VARCHAR)
                           || '&utm_campaign=x'
                      WHEN doc_id % 4 = 1
                      THEN '?page=' || CAST(doc_id % 5 AS VARCHAR)
                      ELSE '' END)
             || (CASE WHEN doc_id % 7 = 0 THEN '#section-2'
                      ELSE '' END) AS url
      FROM documents),
    parts AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      FROM urls),
    comps AS (
      SELECT doc_id, scheme,
             regexp_replace(lower(regexp_extract(rest, '^([^/?#]+)', 1)),
                            '^(www\\.)+', '') AS host,
             regexp_replace(
               regexp_extract(regexp_replace(rest, '^[^/?#]+', ''),
                              '^([^?#]*)', 1),
               '/+$', '') AS path,
             regexp_extract(regexp_replace(rest, '^[^/?#]+', ''),
                            '\\?([^#]*)', 1) AS qs
      FROM parts),
    norm AS (
      SELECT doc_id,
             scheme || '://' || host || path ||
             (CASE WHEN len(list_filter(string_split(qs, '&'),
                     p -> p <> '' AND NOT starts_with(p, 'utm_'))) > 0
               THEN '?' || array_to_string(
                     list_filter(string_split(qs, '&'),
                       p -> p <> '' AND NOT starts_with(p, 'utm_')), '&')
               ELSE '' END) AS norm_url
      FROM comps)
    SELECT norm_url, MIN(doc_id) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM norm GROUP BY norm_url
    """,
)
def url_frontier_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL dedup — the stage that keeps a 100 TB crawl
    from fetching the same page twice: messy fixture URLs (mixed-case
    scheme/host, www prefixes, trailing slashes, utm_* tracking
    params, fragments — operators/webprep.py:docs_as_urls) are
    normalized with built-in string/array expressions
    (webprep.url_normalize: lowercase scheme+host, strip www., drop
    fragment, drop utm_* params preserving the rest's order, strip
    trailing slashes) and exact-deduped to (norm_url, canonical_id,
    n_dups). The oracle replays fixture construction AND the full
    normalization in SQL, so a hash match proves every canonical form
    character-exactly. Scale: one hash aggregation on a
    high-cardinality unskewed key with map-side partial combine; the
    normalization itself is codegen'd projection work."""
    from ballista_extensions_spark.operators.webprep import (
        docs_as_urls,
        url_dedup,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return url_dedup(docs_as_urls(d))


@register("compression_quality_stats")
def compression_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality proxy over the corpus
    (operators/text.py:compression_stats): per document the zlib/
    DEFLATE ratio of its utf-8 bytes — the production curation signal
    where a near-0 ratio flags templated/repetitive boilerplate and a
    near-1 ratio flags high-entropy noise; both tails are filter
    candidates (the Gopher/CCNet-family heuristic). No oracle by
    necessity: DEFLATE is not ANSI-SQL-expressible, so the driver
    records the rows-only check; the operator's CONTRACT is graded
    hash-exactly by compression_contract_audit, and the UDF is proven
    against Python zlib there. Scale: one Arrow-batched narrow pass,
    no shuffle."""
    from ballista_extensions_spark.operators.text import compression_stats

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return compression_stats(d)


_COMPRESSION_AUDIT_CHECKS = [
    "ratio_null_iff_empty",
    "ratio_in_bounds_for_real_docs",
    "repetitive_below_random",
    "matches_python_zlib",
    "deterministic_recompute",
]


@register_audit("compression_contract_audit", _COMPRESSION_AUDIT_CHECKS)
def compression_contract_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The compression operator's contract as driver-checkable rows
    (the sample_contract_audit pattern for a non-SQL-expressible op):

    - ratio is NULL exactly for empty documents, defined otherwise;
    - every document ≥ 64 bytes lands in (0, 1.1] — DEFLATE never
      inflates real text past its small-header overhead;
    - a planted highly-repetitive document compresses strictly better
      than a planted high-entropy document (the separation the quality
      gate relies on);
    - the UDF's output on a planted document equals driver-side
      Python zlib at the same level (the implementation IS what it
      claims);
    - recomputing the whole corpus yields identical rows (determinism
      across runs — full-outer join, zero mismatches, distributed).

    Oracle: the constant all-TRUE table, so any broken guarantee is a
    driver-red hash mismatch."""
    import zlib

    from ballista_extensions_spark.operators.text import compression_stats

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    cs = compression_stats(d).localCheckpoint()

    # both per-row invariants in one aggregate over the checkpoint
    bad = cs.agg(
        F.count_if(
            ((F.col("n_bytes") == 0) & F.col("compression_ratio").isNotNull())
            | ((F.col("n_bytes") > 0) & F.col("compression_ratio").isNull())
        ).alias("null"),
        F.count_if(
            (F.col("n_bytes") >= 64)
            & (
                (F.col("compression_ratio") <= 0)
                | (F.col("compression_ratio") > 1.1)
            )
        ).alias("bounds"),
    ).first()

    rep_text = "spark " * 400
    rnd_text = " ".join(
        f"w{(i * 2654435761) % 999983}x{(i * 40503) % 65521}"
        for i in range(400)
    )
    planted = compression_stats(
        spark.createDataFrame(
            [(1, rep_text), (2, rnd_text)], "doc_id long, text string"
        )
    ).collect()
    by_id = {r["doc_id"]: r for r in planted}
    separation = (
        by_id[1]["compression_ratio"] < by_id[2]["compression_ratio"]
    )
    matches_zlib = by_id[1]["n_compressed"] == len(
        zlib.compress(rep_text.encode("utf-8"), 6)
    ) and by_id[2]["n_compressed"] == len(
        zlib.compress(rnd_text.encode("utf-8"), 6)
    )

    cs2 = compression_stats(d)
    mismatches = (
        cs.alias("a")
        .join(cs2.alias("b"), "doc_id", "full_outer")
        .filter(
            ~(
                F.col("a.n_compressed").eqNullSafe(F.col("b.n_compressed"))
                & F.col("a.n_bytes").eqNullSafe(F.col("b.n_bytes"))
            )
        )
        .count()
    )

    return check_rows(
        spark,
        {
            "ratio_null_iff_empty": bad["null"] == 0,
            "ratio_in_bounds_for_real_docs": bad["bounds"] == 0,
            "repetitive_below_random": separation,
            "matches_python_zlib": matches_zlib,
            "deterministic_recompute": mismatches == 0,
        },
    )


@register(
    "corpus_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id, md5(text) AS old_hash
      FROM documents WHERE doc_id % 7 <> 0),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]'
                      ELSE text END) AS new_hash
      FROM documents WHERE doc_id % 5 <> 0),
    j AS (
      SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
             old_hash, new_hash
      FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id)
    SELECT doc_id,
           CASE WHEN old_hash IS NULL THEN 'added'
                WHEN new_hash IS NULL THEN 'removed'
                WHEN old_hash <> new_hash THEN 'changed'
                ELSE 'unchanged' END AS status,
           old_hash, new_hash
    FROM j
    WHERE (CASE WHEN old_hash IS NULL THEN 'added'
                WHEN new_hash IS NULL THEN 'removed'
                WHEN old_hash <> new_hash THEN 'changed'
                ELSE 'unchanged' END) <> 'unchanged'
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-to-crawl snapshot diff (operators/dedup.py:
    corpus_snapshot_diff): two deterministic snapshots of the corpus —
    old = doc_id % 7 != 0 with original text, new = doc_id % 5 != 0
    with every 11th document revised — reduce to (id, md5) per side
    and full-outer join into (doc_id, added|removed|changed, hashes),
    unchanged documents excluded so the output is ∝ churn. This is the
    stage that turns a re-crawl into an INCREMENT for the store
    operators (added+changed feed sigstore/phashstore ingest; removed
    drives retention). The oracle replays both snapshot constructions
    and the hash compare, so a match proves the diff row-exactly.
    Scale: 40 bytes per document cross the exchange (id + md5, never
    text); the join key is the unique doc id — no skew by
    construction."""
    from ballista_extensions_spark.operators.dedup import (
        corpus_snapshot_diff as diff_op,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    old = d.filter(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    new = d.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" [rev2]")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return diff_op(old, new)


@register(
    "crawl_curation_pipeline",
    oracle=f"""
    WITH urls AS (
      SELECT doc_id,
             'Site' || CAST(doc_id % 50 AS VARCHAR)
             || '.example.com/articles/'
             || CAST(doc_id % 100 AS VARCHAR) AS norm_host_path
      FROM documents),
    frontier AS (
      SELECT MIN(doc_id) AS doc_id
      FROM urls GROUP BY lower(norm_host_path)),
    survivors AS (
      SELECT d.doc_id AS doc_id, d.text AS text, d.source AS source
      FROM documents d JOIN frontier f ON f.doc_id = d.doc_id),
    pages AS (
      SELECT doc_id, source, {_HTML_PAGE_SQL} AS html FROM survivors),
    ex AS (
      SELECT doc_id, source, {_HTML_TEXT_SQL} AS txt,
             CAST(length({_HTML_TEXT_SQL}) AS DOUBLE)
               / CAST(length(html) AS DOUBLE) AS ratio
      FROM pages),
    gated AS (
      SELECT doc_id, source, md5(txt) AS h
      FROM ex WHERE ratio >= 0.5 AND length(txt) >= 100),
    kept AS (
      SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY h)
    SELECT g.source,
           CAST(COUNT(*) AS BIGINT) AS n_gated,
           CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM gated g LEFT JOIN kept k ON k.doc_id = g.doc_id
    GROUP BY g.source
    """,
)
def crawl_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-11 crawl path END-TO-END in one plan — the
    composition a corpus team actually runs, not isolated operators:
    (1) URL frontier dedup picks one fetch per canonical
    host+path key (built in the lowercase host+path shape
    ``webprep.url_normalize`` emits — ``url_frontier_dedup`` is the
    query that exercises the normalizer itself; the fixture collapses
    doc_ids congruent mod 100), (2) surviving pages go
    through HTML boilerplate extraction (webprep.html_text), (3) a
    quality gate keeps pages whose retained-content ratio ≥ 0.5 and
    extracted length ≥ 100, (4) exact content dedup by extracted-text
    md5 keeps the min-id representative, and the result is a
    per-source funnel report (gated vs kept). The oracle replays all
    four stages — frontier grouping, the full regexp extraction chain,
    the gate arithmetic and the md5 dedup — so a hash match proves the
    whole composed pipeline row-exactly. The plan body is
    ``webprep.crawl_curation_funnel`` — the SAME function
    tools/scale_smoke.py measures on the amplified corpus, so the
    recorded exponent can never drift from what this query runs.
    Scale: two hash aggregations (frontier key, content hash) with
    map-side combine + one broadcast join of the (small) kept set;
    extraction is codegen'd projection work between them; nothing
    materializes the corpus twice."""
    from ballista_extensions_spark.operators.webprep import (
        crawl_curation_funnel,
        docs_fixture_frontier_key,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return crawl_curation_funnel(d, docs_fixture_frontier_key())


@register(
    "exact_span_scrub",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    sh AS (
      -- constant series bound (max fixture tokens ~2100) + WHERE
      -- filter: DuckDB's generate_series rejects lateral bounds
      SELECT doc_id, i AS pos,
             md5(array_to_string(arr[i + 1:i + 10], ' ')) AS h
      FROM toks, generate_series(0, 4095) t(i)
      WHERE i <= len(arr) - 10),
    marked AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY h
                                ORDER BY doc_id, pos) AS rn,
             COUNT(*) OVER (PARTITION BY h) AS c
      FROM sh),
    removable AS (
      SELECT doc_id, pos FROM marked WHERE c >= 2 AND rn > 1),
    covered AS (
      SELECT DISTINCT doc_id, pos + j AS pos
      FROM removable, generate_series(0, 9) u(j)),
    tokens AS (
      SELECT doc_id, i - 1 AS pos, arr[i] AS tok
      FROM toks, generate_series(1, 4096) t(i)
      WHERE i <= len(arr)),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM tokens t LEFT JOIN covered c
        ON c.doc_id = t.doc_id AND c.pos = t.pos
      WHERE c.doc_id IS NULL),
    rebuilt AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_after,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id)
    SELECT tk.doc_id,
           CAST(len(tk.arr) AS BIGINT) AS n_before,
           COALESCE(r.n_after, 0) AS n_after,
           md5(COALESCE(r.clean_text, '')) AS clean_md5
    FROM toks tk LEFT JOIN rebuilt r ON r.doc_id = tk.doc_id
    """,
)
def exact_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup, corpus-wide (operators/dedup.py:
    exact_span_scrub — the Lee et al. 2022 'deduplicating training
    data' rewrite): every 10-token span occurring more than once keeps
    only its globally first occurrence; all other occurrences' token
    positions are scrubbed and each document is rebuilt from its
    survivors. Output per document: token counts before/after and the
    md5 of the rebuilt text, so a hash match proves the scrub
    TOKEN-EXACTLY on every document — which spans were found, which
    occurrence won, and the exact rebuilt string. ~2k duplicated span
    occurrences exist at sf0.01, so the operator does real work.
    Scale: shingle hashing is a narrow arrays pass; the global
    first-occurrence agg and covered-position anti-join move (doc,
    pos) pairs, never text; rebuild is one per-doc aggregation."""
    from ballista_extensions_spark.operators.dedup import (
        exact_span_scrub as scrub_op,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    out = scrub_op(d, n=10)
    return out.select(
        "doc_id",
        "n_before",
        "n_after",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )
