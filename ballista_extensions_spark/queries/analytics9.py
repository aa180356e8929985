"""Round-10 video-modality queries: the REAL pure-stdlib AVI codec
(operators/videocodec.py) extends the decode→features→dedup loop to a
FOURTH modality — container decode metadata, real frame-stride
sampling, keyframe perceptual fingerprints, and banded Hamming
near-dup over video, each with a bit-exact SQL oracle replaying the
fixture arithmetic (operators/multimodal.py:docs_as_avi_media).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ballista_extensions_spark.io import ensure_parallelism, load_table
from ballista_extensions_spark.queries.analytics7 import _DHASH_CTE
from ballista_extensions_spark.queries.registry import register

#: Shared oracle preamble: the AVI fixture geometry (w/h/frames/timing
#: from the utf-8 byte length). Pixel (f, y, x, c) of the fixture video
#: is text byte ((f*h + y)*w + x)*3 + c mod n — the exact tiling
#: docs_as_avi_media encodes and decode_avi recovers losslessly
#: (uncompressed 24-bit DIB frames roundtrip exactly).
_AVI_DIMS = """
    d AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n,
             4 + octet_length(encode(text)) % 9 AS w,
             4 + octet_length(encode(text)) % 7 AS h,
             3 + octet_length(encode(text)) % 6 AS nf,
             40000 + (octet_length(encode(text)) % 3) * 20000 AS uspf
      FROM documents)
"""

#: Keyframe-dHash CTE on top of _AVI_DIMS: the keyframe is the middle
#: frame (nf // 2), whose flat pixel base offset is (nf//2)*h*w*3;
#: dHash samples a 9×8 nearest-neighbor grayscale grid
#: ((r+g+b)//3, integer) of that frame and sets bit y*8+x iff the
#: right neighbor is strictly brighter — the
#: videocodec.video_dhash64 convention, with bit 63 entering as the
#: signed minimum so the SUM lands exactly in a BIGINT.
_VDHASH_CTE = f"""
    {_AVI_DIMS},
    g AS (
      SELECT doc_id, y, x,
        CASE WHEN n = 0 THEN 0 ELSE
          (CAST('0x' || substring(hx, (((nf // 2) * h * w * 3
              + (((y*h)//8)*w + (x*w)//9)*3 + 0) % n + 1) * 2 - 1, 2) AS INT)
         + CAST('0x' || substring(hx, (((nf // 2) * h * w * 3
              + (((y*h)//8)*w + (x*w)//9)*3 + 1) % n + 1) * 2 - 1, 2) AS INT)
         + CAST('0x' || substring(hx, (((nf // 2) * h * w * 3
              + (((y*h)//8)*w + (x*w)//9)*3 + 2) % n + 1) * 2 - 1, 2) AS INT)
          ) // 3
        END AS gray
      FROM d, generate_series(0, 7) t1(y), generate_series(0, 8) t2(x)),
    bits AS (
      SELECT l.doc_id, l.y, l.x,
             CASE WHEN r.gray > l.gray THEN 1 ELSE 0 END AS bit
      FROM g l JOIN g r ON r.doc_id = l.doc_id AND r.y = l.y
                       AND r.x = l.x + 1
      WHERE l.x <= 7),
    vh AS (
      SELECT doc_id, CAST(SUM(CASE WHEN bit = 1 THEN
          CASE WHEN y*8 + x = 63 THEN -9223372036854775808
               ELSE (CAST(1 AS BIGINT) << (y*8 + x)) END
          ELSE 0 END) AS BIGINT) AS vhash
      FROM bits GROUP BY doc_id)
"""


@register(
    "video_decode_meta",
    oracle=f"""
    WITH {_AVI_DIMS},
    px AS (
      -- constant series bound (fixture max nf*h*w*3 = 8*10*12*3 =
      -- 2880) + WHERE filter: DuckDB's table-function generate_series
      -- rejects lateral column bounds
      SELECT doc_id,
             CASE WHEN n = 0 THEN 0 ELSE
               CAST('0x' || substring(hx, ((i % n) + 1) * 2 - 1, 2) AS INT)
             END AS v
      FROM d, generate_series(0, 2879) t(i) WHERE i < nf * h * w * 3)
    SELECT d.doc_id AS media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(nf AS INT) AS n_frames,
           CAST(uspf AS BIGINT) AS us_per_frame,
           CAST(nf * uspf // 1000 AS BIGINT) AS duration_ms,
           s.pixel_sum
    FROM d JOIN (SELECT doc_id,
                        CAST(SUM(CAST(v AS BIGINT)) AS BIGINT) AS pixel_sum
                 FROM px GROUP BY doc_id) s ON s.doc_id = d.doc_id
    """,
)
def video_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode end-to-end: documents become genuine
    single-stream uncompressed AVIs (multimodal.docs_as_avi_media —
    RIFF form with hdrl/strl headers, movi frame chunks, idx1 index),
    the shipped pure-stdlib codec parses them back (nested LIST walk,
    avih/strf validation, bottom-up BGR DIB frame unpack —
    operators/videocodec.py:decode_avi), and every reported feature is
    integer arithmetic the oracle replays per pixel: geometry, frame
    count, timing, floor-ms duration and the full pixel checksum. A
    hash match proves the container roundtrip AND the frame
    reconstruction pixel-exactly on every row. Scale: one
    Arrow-batched mapInPandas pass, no shuffle, no driver state."""
    from ballista_extensions_spark.operators.multimodal import (
        docs_as_avi_media,
    )
    from ballista_extensions_spark.operators.videocodec import (
        video_meta_stats,
    )

    media = docs_as_avi_media(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )
    return video_meta_stats(media).select(
        "media_id", "width", "height", "n_frames",
        "us_per_frame", "duration_ms", "pixel_sum",
    )


@register(
    "video_frame_sample",
    oracle=f"""
    WITH {_AVI_DIMS},
    fx AS (
      SELECT doc_id, f, n, h, w,
             CASE WHEN n = 0 THEN 0 ELSE
               CAST('0x' || substring(hx, (((f * h * w * 3 + j) % n) + 1) * 2 - 1, 2) AS INT)
             END AS v
      FROM d,
           generate_series(0, 7) t(f),
           generate_series(0, 359) u(j)
      WHERE f < nf AND f % 2 = 0 AND j < h * w * 3)
    SELECT doc_id AS media_id,
           CAST(f AS INT) AS frame_idx,
           CAST(SUM(CAST(v AS BIGINT)) AS BIGINT) AS frame_sum
    FROM fx GROUP BY doc_id, f
    """,
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling, decoded rather than byte-offset: each AVI
    is decoded and every 2nd frame is extracted, one output row per
    sampled frame with that frame's integer pixel checksum
    (operators/videocodec.py:frame_stride_checksums). The bounded
    explode — one video row becoming ceil(n_frames/2) frame rows — is
    the frame-extraction stage of a video curation pipeline; the
    per-frame checksum proves each sampled frame individually against
    the oracle's per-pixel replay, so frame ORDER and frame CONTENT
    are both verified, not just counts. Scale: Arrow-batched, output
    co-partitioned with the input, fan-out bounded by
    n_frames/stride ≤ 4, no shuffle."""
    from ballista_extensions_spark.operators.multimodal import (
        docs_as_avi_media,
    )
    from ballista_extensions_spark.operators.videocodec import (
        video_frame_samples,
    )

    media = docs_as_avi_media(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )
    return video_frame_samples(media, stride=2)


@register(
    "video_keyframe_fingerprints",
    oracle=f"""
    WITH {_VDHASH_CTE}
    SELECT doc_id AS media_id, vhash AS keyframe_hash FROM vh
    """,
)
def video_keyframe_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-video 64-bit keyframe perceptual fingerprint over REAL AVI
    payloads: container decode, middle-frame keyframe selection, and
    the image dHash discipline on that frame's pixels (9×8 nearest
    grid, integer grayscale, strictly-brighter comparisons —
    operators/videocodec.py:video_dhash64), computed by the SAME
    Arrow-batched hashing operator the image and audio paths use
    (operators/imagedup.py:image_dhash with a pluggable hasher). The
    oracle recomputes every video's hash from the fixture arithmetic,
    so a match proves decode → keyframe → grayscale → sample → bit
    assembly bit-for-bit on every row — the full-coverage complement
    of video_near_dup_keyframe (whose output only shows pair
    survivors). Scale: narrow pass, 8 B of state per video, no
    shuffle."""
    from ballista_extensions_spark.operators.imagedup import image_dhash
    from ballista_extensions_spark.operators.multimodal import (
        docs_as_avi_media,
    )
    from ballista_extensions_spark.operators.videocodec import (
        video_dhash64,
    )

    media = docs_as_avi_media(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )
    return image_dhash(media, hasher=video_dhash64).select(
        F.col("id").alias("media_id"),
        F.col("dhash").alias("keyframe_hash"),
    )


@register(
    "video_near_dup_keyframe",
    oracle=f"""
    WITH {_VDHASH_CTE}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.vhash, b.vhash)) AS BIGINT) AS hamming
    FROM vh a JOIN vh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.vhash, b.vhash)) <= 6
    """,
)
def video_near_dup_keyframe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate pairs by keyframe perceptual hash — the
    FOURTH modality through the SAME banded multi-index Hamming join
    the image and audio paths proved
    (operators/imagedup.py:phash_near_dup_pairs, pigeonhole recall
    exactly 1.0 for threshold < bands): real AVI payloads → container
    decode → middle-frame dHash → all pairs within Hamming distance 6.
    The oracle runs the corpus² brute force; the Spark plan never
    builds it. Scale: 8 B hash state per video; only DISTINCT hashes
    enter the banded join (round-11 hot-bucket discipline), so a
    degenerate population — the all-black-frame case — costs one
    banded row per band, never member count²."""
    from ballista_extensions_spark.operators.imagedup import (
        image_dhash,
        phash_near_dup_pairs,
    )
    from ballista_extensions_spark.operators.multimodal import (
        docs_as_avi_media,
    )
    from ballista_extensions_spark.operators.videocodec import (
        video_dhash64,
    )

    media = docs_as_avi_media(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )
    hashes = image_dhash(media, hasher=video_dhash64)
    return phash_near_dup_pairs(hashes, threshold=6, bands=8)


@register(
    "media_kind_routing",
    oracle="""
    SELECT doc_id AS media_id,
           CASE octet_length(encode(text)) % 4
             WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
             WHEN 2 THEN 'wav' ELSE 'avi' END AS kind
    FROM documents
    """,
)
def media_kind_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format sniffing over a MIXED-format corpus with ZERO Python in
    the detection path: documents become a realistic multimodal table
    (one binary column, four container formats chosen by n%4 —
    multimodal.docs_as_mixed_media), and the kind column is computed
    entirely by JVM built-ins on the payload's magic bytes
    (substring-on-binary + hex inside whole-stage codegen —
    multimodal.detect_media_kind): PNG signature, JPEG SOI, RIFF/WAVE,
    RIFF/AVI. The oracle derives each row's expected format from the
    fixture arithmetic, so a hash match proves the real encoded bytes
    carry the right magic AND the sniffer reads them right on every
    row. Scale: this is the routing stage of a 100 TB multimodal
    pipeline — pure codegen'd expressions, no UDF, no shuffle; the
    downstream per-format decoders see only their own rows."""
    from ballista_extensions_spark.operators.multimodal import (
        detect_media_kind,
        docs_as_mixed_media,
    )

    media = docs_as_mixed_media(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )
    return media.select(
        "media_id", detect_media_kind("payload").alias("kind")
    )


@register(
    "media_mixed_decode",
    oracle="""
    WITH d AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents),
    png AS (
      SELECT doc_id, 'png' AS kind,
             CAST(SUM(CASE WHEN n = 0 THEN 0 ELSE
               CAST(CAST('0x' || substring(hx, ((i % n) + 1) * 2 - 1, 2) AS INT) AS BIGINT)
             END) AS BIGINT) AS checksum
      FROM (SELECT doc_id, hx, n,
                   4 + n % 29 AS w, 4 + n % 23 AS h
            FROM d WHERE n % 4 = 0),
           generate_series(0, 2495) t(i)
      WHERE i < w * h * 3
      GROUP BY doc_id),
    jpg AS (
      SELECT doc_id, 'jpeg' AS kind,
             CAST(64 * SUM(
               CAST(CAST('0x' || substring(hx, ((i % n) + 1) * 2 - 1, 2) AS INT) AS BIGINT)
             ) AS BIGINT) AS checksum
      FROM (SELECT doc_id, hx, n,
                   1 + n % 6 AS bw, 1 + n % 5 AS bh
            FROM d WHERE n % 4 = 1),
           generate_series(0, 29) t(i)
      WHERE i < bw * bh
      GROUP BY doc_id),
    wav AS (
      SELECT doc_id, 'wav' AS kind,
             CAST(SUM(CAST((CAST('0x' || substring(hx, ((i % n) + 1) * 2 - 1, 2) AS INT) - 128)
                      * 256 AS BIGINT)
                 * ((CAST('0x' || substring(hx, ((i % n) + 1) * 2 - 1, 2) AS INT) - 128)
                    * 256)) AS BIGINT) AS checksum
      FROM (SELECT doc_id, hx, n,
                   130 + n % 391 AS fr, 1 + n % 2 AS ch
            FROM d WHERE n % 4 = 2),
           generate_series(0, 1039) t(i)
      WHERE i < fr * ch
      GROUP BY doc_id),
    avi AS (
      SELECT doc_id, 'avi' AS kind,
             CAST(SUM(CAST(CAST('0x' || substring(hx, ((i % n) + 1) * 2 - 1, 2) AS INT) AS BIGINT)
             ) AS BIGINT) AS checksum
      FROM (SELECT doc_id, hx, n,
                   4 + n % 9 AS w, 4 + n % 7 AS h, 3 + n % 6 AS nf
            FROM d WHERE n % 4 = 3),
           generate_series(0, 2879) t(i)
      WHERE i < nf * h * w * 3
      GROUP BY doc_id)
    SELECT doc_id AS media_id, kind, checksum FROM png
    UNION ALL SELECT doc_id, kind, checksum FROM jpg
    UNION ALL SELECT doc_id, kind, checksum FROM wav
    UNION ALL SELECT doc_id, kind, checksum FROM avi
    """,
)
def media_mixed_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispatch-decode over the mixed-format corpus — the stage after
    media_kind_routing: every payload is sniffed and decoded by the
    MATCHING in-repo codec (PNG inflate+unfilter, JPEG Huffman+IDCT,
    WAV chunk walk, AVI frame unpack) in one Arrow-batched pass
    (multimodal.mixed_decode_checksum), emitting the modality's
    natural integer content proof: pixel sums for image/video, sum of
    squared samples for audio. The oracle replays all four decode
    arithmetics under the n%4 routing, so a hash match proves the
    dispatch AND every decoder's output content-exactly across a
    heterogeneous corpus — the end-to-end shape of a real multimodal
    ingest. Scale: no shuffle, no driver state; per-row error
    isolation quarantines unknown formats instead of failing the
    batch."""
    from ballista_extensions_spark.operators.multimodal import (
        docs_as_mixed_media,
        mixed_decode_checksum,
    )

    media = docs_as_mixed_media(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )
    return mixed_decode_checksum(media).select(
        "media_id", "kind", "checksum"
    )


@register(
    "image_contamination_check",
    oracle=f"""
    WITH {_DHASH_CTE},
    bench AS (SELECT doc_id, dhash FROM dh WHERE doc_id % 10 = 0),
    train AS (SELECT doc_id, dhash FROM dh WHERE doc_id % 10 <> 0),
    hits AS (
      SELECT b.doc_id,
             t.doc_id AS t_id,
             bit_count(xor(b.dhash, t.dhash)) AS hm
      FROM bench b JOIN train t
        ON bit_count(xor(b.dhash, t.dhash)) <= 6)
    SELECT b.doc_id AS bench_id,
           COALESCE(s.n_contaminating, 0) AS n_contaminating,
           s.min_hamming,
           s.nearest_train_id
    FROM bench b LEFT JOIN (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_contaminating,
             CAST(MIN(hm) AS BIGINT) AS min_hamming,
             CAST(MIN(t_id) FILTER (WHERE hm = (
               SELECT MIN(h2.hm) FROM hits h2
               WHERE h2.doc_id = hits.doc_id)) AS BIGINT)
               AS nearest_train_id
      FROM hits GROUP BY doc_id) s ON s.doc_id = b.doc_id
    """,
)
def image_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination for media — the multimodal twin of the
    text contamination_check: the corpus splits into a benchmark set
    (doc_id % 10 = 0) and a training set (the rest), both are encoded
    as real PNGs and perceptually hashed (codec decode → dHash), and
    the CROSS-corpus banded Hamming join
    (operators/imagedup.py:phash_cross_dup_pairs — pigeonhole recall
    exactly 1.0 for threshold < bands) finds every benchmark image
    within Hamming distance 6 of ANY training image. The report keeps
    EVERY benchmark row — clean ones show n_contaminating = 0 with
    NULL distance — plus the min distance and the lowest-id nearest
    training doc, so 'nothing leaked' is a positive verified claim,
    not an absence of output. The oracle runs the bench × train brute
    force; the Spark plan never builds it. Scale: cross-bucket
    collision joins on 8 B hashes; the benchmark side is typically
    tiny, so at corpus scale the sliced benchmark table broadcasts
    and the train corpus streams through map-side."""
    from ballista_extensions_spark.operators.imagedup import (
        image_dhash,
        phash_cross_dup_pairs,
    )
    from ballista_extensions_spark.operators.multimodal import (
        docs_as_png_media,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    media = docs_as_png_media(d)
    hashes = image_dhash(media).localCheckpoint(eager=False)
    bench = hashes.filter(F.col("id") % 10 == 0)
    train = hashes.filter(F.col("id") % 10 != 0)
    pairs = phash_cross_dup_pairs(bench, train, threshold=6, bands=8)
    agg = pairs.groupBy("left_id").agg(
        F.count("*").cast("long").alias("n_contaminating"),
        F.min("hamming").alias("min_hamming"),
        F.min_by("right_id", F.struct("hamming", "right_id"))
        .cast("long")
        .alias("nearest_train_id"),
    )
    return (
        bench.select(F.col("id").alias("bench_id"))
        .join(agg, F.col("bench_id") == F.col("left_id"), "left")
        .select(
            "bench_id",
            F.coalesce(F.col("n_contaminating"), F.lit(0).cast("long"))
            .alias("n_contaminating"),
            "min_hamming",
            "nearest_train_id",
        )
    )


@register(
    "av_demux_meta",
    oracle="""
    WITH d AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n,
             4 + octet_length(encode(text)) % 9 AS w,
             4 + octet_length(encode(text)) % 7 AS h,
             3 + octet_length(encode(text)) % 6 AS nf,
             1 + octet_length(encode(text)) % 2 AS ach,
             8000 + (octet_length(encode(text)) % 5) * 2000 AS arate,
             130 + octet_length(encode(text)) % 211 AS ns
      FROM documents),
    px AS (
      SELECT doc_id,
             CASE WHEN n = 0 THEN 0 ELSE
               CAST('0x' || substring(hx, ((i % n) + 1) * 2 - 1, 2) AS INT)
             END AS v
      FROM d, generate_series(0, 2879) t(i) WHERE i < nf * h * w * 3),
    au AS (
      SELECT doc_id,
             CASE WHEN n = 0 THEN 0 ELSE
               (CAST('0x' || substring(hx, (((nf * h * w * 3 + i) % n) + 1) * 2 - 1, 2) AS INT) - 128) * 256
             END AS v
      FROM d, generate_series(0, 680) t(i) WHERE i < ns * ach)
    SELECT d.doc_id AS media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(nf AS INT) AS n_frames,
           vp.pixel_sum,
           CAST(ach AS INT) AS channels,
           CAST(arate AS INT) AS sample_rate,
           CAST(ns AS INT) AS n_samples,
           ap.audio_sumsq
    FROM d
    JOIN (SELECT doc_id,
                 CAST(SUM(CAST(v AS BIGINT)) AS BIGINT) AS pixel_sum
          FROM px GROUP BY doc_id) vp ON vp.doc_id = d.doc_id
    JOIN (SELECT doc_id,
                 CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS audio_sumsq
          FROM au GROUP BY doc_id) ap ON ap.doc_id = d.doc_id
    """,
)
def av_demux_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE A/V container demux, end-to-end: documents become genuine
    two-stream interleaved AVIs (multimodal.docs_as_av_media — one
    'vids' DIB stream and one 'auds' 16-bit PCM stream, per-frame
    interleaved '00db'/'01wb' chunks, both indexed in idx1), and the
    shipped demuxer (operators/videocodec.py:decode_avi_av) splits
    each container back into its modality tracks: frames reassembled
    from the video chunks, the PCM stream concatenated from the audio
    chunks. The output proves BOTH tracks integer-exactly — video by
    full pixel sum, audio by sum of squared samples — against an
    oracle that replays the shared byte tiling (audio bytes start
    where video bytes end, so one arithmetic covers the whole
    container). This is the demux stage of a video ingest pipeline:
    after it, frames flow into the image feature path and audio into
    the audio fingerprint path. Scale: one Arrow-batched mapInPandas
    pass, per-row error isolation, no shuffle, no driver state."""
    from ballista_extensions_spark.operators.multimodal import (
        docs_as_av_media,
    )
    from ballista_extensions_spark.operators.videocodec import (
        av_demux_stats,
    )

    media = docs_as_av_media(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )
    return av_demux_stats(media).select(
        "media_id", "width", "height", "n_frames", "pixel_sum",
        "channels", "sample_rate", "n_samples", "audio_sumsq",
    )
