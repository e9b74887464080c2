"""Multimodal queries (``mm_*``) — synthetic image/audio/video media
derived from the documents table, header decode and feature
extraction; the DuckDB oracles replay the md5-derived construction
arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import register, table
from .queries_reference import _hexval


# ---------------------------------------------------------------------------
# Multimodal columns: binary payload metadata (decode itself is stubbed in
# sources/multimodal.py; the engine-side plumbing — binary columns + typed
# metadata — is real and exercised here).
@register(
    "mm_binary_meta",
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha, source
FROM documents""",
)
def mm_binary_meta_q(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("long").alias("n_bytes"),
        F.sha2(F.col("text"), 256).alias("sha"),
        "source",
    )


def _byte(k: int) -> str:
    """md5-hex byte k (0-based) as an integer SQL expression."""
    return f"({_hexval(2 * k + 1)} * 16 + {_hexval(2 * k + 2)})"


# Multimodal frame-sampling plan (SURVEY EXT): media rows derived from
# document bytes (doc_id%3==0 → video), stub metadata (duration from
# md5 bytes 2..3, little-endian) → one row per (media_id, frame_ts_ms)
# at 1 fps. The explode shape IS the contract a real decoder plugs into;
# the oracle replays the md5 arithmetic (floor-div mirrors Spark's
# double→int truncation — DuckDB CAST alone would round).
@register(
    "mm_frame_plan",
    f"""WITH m AS (
  SELECT doc_id AS media_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 0),
d AS (
  SELECT media_id, 1000 + ({_byte(2)} + 256 * {_byte(3)}) AS duration_ms FROM m)
SELECT media_id,
       CAST(unnest(generate_series(0, CAST(floor(duration_ms / 1000.0) AS INT))) * 1000 AS BIGINT) AS frame_ts_ms
FROM d""",
)
def mm_frame_plan(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.multimodal import frame_sample_plan, synth_media_from_docs

    docs = table(spark, sf, "documents")
    # content is a VALID AVI (media_headers.build_avi) whose header
    # carries the md5-derived duration; the plan's duration comes from
    # the tier-2 header PARSE, which the oracle's md5 arithmetic
    # certifies (a tier-3 fake would md5 the AVI bytes and diverge)
    media = synth_media_from_docs(
        docs.where(F.col("doc_id") % 3 == 0).select(
            F.col("doc_id").alias("media_id"),
            F.lit("video").alias("kind"),
            "text",
        )
    )
    return frame_sample_plan(media, every_ms=1000).select(
        "media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")
    )


# Multimodal resize plan: aspect-preserving output dims from the stub
# metadata (width/height from md5 bytes 0/1), long side → 224. The
# oracle replays the md5 arithmetic; floor(x*224/g) mirrors exactly.
@register(
    "mm_resize_plan",
    f"""WITH m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'video' ELSE 'image' END AS kind,
         md5(text) AS h
  FROM documents WHERE doc_id % 3 <> 2),
dims AS (
  SELECT media_id, kind,
         CAST(64 + {_byte(0)} % 192 AS INT) AS width,
         CAST(64 + {_byte(1)} % 192 AS INT) AS height
  FROM m),
g AS (SELECT *, CAST(greatest(width, height) AS DOUBLE) AS long_side FROM dims)
SELECT media_id, kind, width, height,
       CAST(floor(width * 224 / long_side) AS INT) AS out_w,
       CAST(floor(height * 224 / long_side) AS INT) AS out_h,
       224.0 / long_side AS scale
FROM g""",
)
def mm_resize_plan(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.multimodal import resize_plan, synth_media_from_docs

    docs = table(spark, sf, "documents").where(F.col("doc_id") % 3 != 2)
    # valid BMP (image) / AVI (video) payloads whose headers carry the
    # md5-derived dims; the resize math consumes the tier-2 header
    # PARSE, oracle-certified by the md5 arithmetic
    media = synth_media_from_docs(
        docs.select(
            F.col("doc_id").alias("media_id"),
            F.when(F.col("doc_id") % 3 == 0, "video")
            .otherwise("image")
            .alias("kind"),
            "text",
        )
    )
    return resize_plan(media, target=224)


# ---------------------------------------------------------------------------
# Audio chunk plan — multimodal EXT: fixed 5 s segments (final partial)
# per audio/video row, duration from the stub metadata (md5 bytes 2-3,
# little-endian — same arithmetic as mm_frame_plan).
@register(
    "mm_audio_chunks",
    f"""WITH m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'video' ELSE 'audio' END AS kind,
         md5(text) AS h
  FROM documents WHERE doc_id % 3 <> 2),
d AS (SELECT media_id, 1000 + ({_byte(2)} + 256 * {_byte(3)}) AS duration_ms FROM m),
seg AS (
  SELECT media_id, duration_ms,
         unnest(generate_series(0, CAST(ceil(duration_ms / 5000.0) AS INT) - 1)) AS seg_idx
  FROM d)
SELECT media_id, CAST(seg_idx AS BIGINT) AS seg_idx,
       CAST(seg_idx * 5000 AS BIGINT) AS start_ms,
       CAST(least((seg_idx + 1) * 5000, duration_ms) AS BIGINT) AS end_ms
FROM seg""",
)
def mm_audio_chunks(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.multimodal import audio_chunk_plan, synth_media_from_docs

    docs = table(spark, sf, "documents").where(F.col("doc_id") % 3 != 2)
    # valid WAV (audio) / AVI (video) payloads; segment bounds consume
    # the tier-2 header-parsed duration, oracle-certified by the md5
    # arithmetic the construction reuses
    media = synth_media_from_docs(
        docs.select(
            F.col("doc_id").alias("media_id"),
            F.when(F.col("doc_id") % 3 == 0, "video")
            .otherwise("audio")
            .alias("kind"),
            "text",
        )
    )
    return audio_chunk_plan(media, chunk_ms=5000)


# ---------------------------------------------------------------------------
# Perceptual-hash banding over binary payloads — the near-duplicate
# candidate generator for image/media dedup: hash the binary content,
# split the hash into bands, and bucket-join docs sharing any band
# (exactly the LSH banding shape dedup_minhash_lsh uses for text). A
# real perceptual hash (pHash/aHash over decoded pixels) is env-gated
# like every decode in sources/multimodal.py; the deterministic stand-in
# is md5 over the payload bytes, which exercises the identical banding /
# bucket-join / pair-dedup plumbing with an exact SQL mirror. 8-bit
# bands (4 per doc) keep bucket fan-out bounded: expected pair count is
# Σ_buckets C(n_b, 2) with n_b ≈ N/256 — linear in N for uniform
# hashes, never all-pairs.
@register(
    "mm_phash_band_pairs",
    """WITH h AS (
  SELECT doc_id, md5(text) AS ph FROM documents),
bands AS (
  SELECT doc_id, b.band_idx,
         substring(ph, b.band_idx * 2 + 1, 2) AS band_val
  FROM h, (SELECT unnest(generate_series(0, 3)) AS band_idx) b),
pairs AS (
  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
         count(*) AS n_shared_bands
  FROM bands a JOIN bands c
    ON a.band_idx = c.band_idx AND a.band_val = c.band_val
   AND a.doc_id < c.doc_id
  GROUP BY a.doc_id, c.doc_id)
SELECT doc_a, doc_b, CAST(n_shared_bands AS BIGINT) AS n_shared_bands
FROM pairs""",
)
def mm_phash_band_pairs(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    h = docs.select(
        "doc_id", F.md5(F.encode(F.col("text"), "UTF-8")).alias("ph")
    )
    bands = h.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band_idx"),
        "ph",
    ).select(
        "doc_id",
        "band_idx",
        F.expr("substring(ph, band_idx * 2 + 1, 2)").alias("band_val"),
    )
    a = bands.alias("a")
    c = bands.alias("c")
    return (
        a.join(
            c,
            (F.col("a.band_idx") == F.col("c.band_idx"))
            & (F.col("a.band_val") == F.col("c.band_val"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("c.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
    )


_FMTS = ("png", "gif", "bmp", "jpeg", "wav")


_FMT_CASE = (
    "CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'bmp'"
    " WHEN 3 THEN 'jpeg' ELSE 'wav' END"
)


@register(
    "mm_header_decode",
    f"""WITH m AS (
  SELECT doc_id AS media_id, {_FMT_CASE} AS fmt, md5(text) AS h
  FROM documents)
SELECT media_id, fmt,
       CAST(CASE WHEN fmt <> 'wav' THEN 64 + {_byte(0)} % 192 END AS INT) AS width,
       CAST(CASE WHEN fmt <> 'wav' THEN 64 + {_byte(1)} % 192 END AS INT) AS height,
       CAST(CASE WHEN fmt = 'wav' THEN 1000 + ({_byte(2)} + 256 * {_byte(3)}) END AS BIGINT) AS duration_ms
FROM m""",
)
def mm_header_decode(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.multimodal import (
        extract_media_features,
        synth_media_from_docs,
    )

    fmt = F.element_at(
        F.array(*[F.lit(x) for x in _FMTS]),
        (F.col("media_id") % 5 + 1).cast("int"),
    )
    docs = table(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"), "text"
    )
    media = synth_media_from_docs(
        docs.withColumn("fmt", fmt), fmt_col="fmt"
    )
    return extract_media_features(media).select(
        "media_id",
        fmt.alias("fmt"),
        "width",
        "height",
        "duration_ms",
    )


# ---------------------------------------------------------------------------
# mm_pixel_stats (r9) — certifies the tier-2 PAYLOAD decoders the same
# way mm_header_decode certifies the header parsers: every document
# becomes a real uncompressed payload (even doc_id → tiny 24bpp BMP
# pixel array, odd → 8-bit PCM WAV samples; one base value + one spike
# at an md5-derived position), the query decodes the bytes
# (media_headers.bmp_pixel_stats / wav_pcm_stats — stride padding and
# RIFF chunk walk included), and the oracle predicts the per-channel
# (sum, min, max) from the md5 construction arithmetic alone. The
# stats are integers, so the match is exact; a decoder that misread
# the stride, the pixel offset, or the data chunk would diverge on
# the first doc.


_PIXEL_STATS_SQL = f"""WITH m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         md5(text) AS h
  FROM documents),
p AS (
  SELECT media_id, kind,
         CASE WHEN kind = 'image'
              THEN (4 + {_byte(0)} % 13) * (4 + {_byte(1)} % 13)
              ELSE 64 + ({_byte(0)} + 256 * {_byte(1)}) % 960 END AS n,
         {_byte(2)} AS v2, {_byte(3)} AS v3, {_byte(4)} AS v4,
         {_byte(5)} AS v5, {_byte(6)} AS v6, {_byte(7)} AS v7
  FROM m)
SELECT media_id, kind, CAST(n AS BIGINT) AS n_units,
       CAST(CASE WHEN kind = 'image' THEN v2 * (n - 1) + v5
                 ELSE v2 * (n - 1) + v3 END AS BIGINT) AS c0_sum,
       CAST(CASE WHEN kind = 'image' THEN least(v2, v5)
                 ELSE least(v2, v3) END AS BIGINT) AS c0_min,
       CAST(CASE WHEN kind = 'image' THEN greatest(v2, v5)
                 ELSE greatest(v2, v3) END AS BIGINT) AS c0_max,
       CAST(CASE WHEN kind = 'image' THEN v3 * (n - 1) + v6 END
            AS BIGINT) AS c1_sum,
       CAST(CASE WHEN kind = 'image' THEN least(v3, v6) END
            AS BIGINT) AS c1_min,
       CAST(CASE WHEN kind = 'image' THEN greatest(v3, v6) END
            AS BIGINT) AS c1_max,
       CAST(CASE WHEN kind = 'image' THEN v4 * (n - 1) + v7 END
            AS BIGINT) AS c2_sum,
       CAST(CASE WHEN kind = 'image' THEN least(v4, v7) END
            AS BIGINT) AS c2_min,
       CAST(CASE WHEN kind = 'image' THEN greatest(v4, v7) END
            AS BIGINT) AS c2_max
FROM p"""


@register("mm_pixel_stats", _PIXEL_STATS_SQL)
def mm_pixel_stats(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.multimodal import (
        extract_payload_stats,
        synth_stats_media_from_docs,
    )

    docs = table(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"), "text"
    )
    return extract_payload_stats(synth_stats_media_from_docs(docs))


# ---------------------------------------------------------------------------
# mm_media_quality_gate (r9) — the curation gate for media payloads,
# composing the REAL tier-2 payload decode: per media row the dynamic
# range (max channel spread), the mean level of channel 0, and the
# clipping flag (any channel pinned at 0 or 255) decide keep/drop —
# the multimodal analogue of cur_quality_gate (flat or clipped pixels/
# samples are the classic dead-image/dead-audio signals a training
# mix filters first). The oracle predicts every fact from the md5
# construction arithmetic; the Spark side must decode the bytes.
# The mean is stated with the integer-exact HALF_UP quotient.
_GATE_MIN_RANGE = 16


def _gate_sql() -> str:
    from ..functions.exactmath import halfup_mean_duck

    mean0 = halfup_mean_duck("c0_sum", "n", 9, integral_sum=True)
    return f"""WITH m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         md5(text) AS h
  FROM documents),
p AS (
  SELECT media_id, kind,
         CASE WHEN kind = 'image'
              THEN (4 + {_byte(0)} % 13) * (4 + {_byte(1)} % 13)
              ELSE 64 + ({_byte(0)} + 256 * {_byte(1)}) % 960 END AS n,
         {_byte(2)} AS v2, {_byte(3)} AS v3, {_byte(4)} AS v4,
         {_byte(5)} AS v5, {_byte(6)} AS v6, {_byte(7)} AS v7
  FROM m),
f AS (
  SELECT media_id, kind, n,
         CASE WHEN kind = 'image' THEN v2 * (n - 1) + v5
              ELSE v2 * (n - 1) + v3 END AS c0_sum,
         CASE WHEN kind = 'image'
              THEN greatest(abs(v2 - v5), abs(v3 - v6), abs(v4 - v7))
              ELSE abs(v2 - v3) END AS dyn_range,
         CASE WHEN kind = 'image'
              THEN least(v2, v5) = 0 OR greatest(v2, v5) = 255
                OR least(v3, v6) = 0 OR greatest(v3, v6) = 255
                OR least(v4, v7) = 0 OR greatest(v4, v7) = 255
              ELSE least(v2, v3) = 0 OR greatest(v2, v3) = 255
         END AS clipped
  FROM p)
SELECT media_id, kind,
       CAST(dyn_range AS BIGINT) AS dyn_range,
       {mean0} AS c0_mean,
       clipped,
       (dyn_range >= {_GATE_MIN_RANGE} AND NOT clipped) AS keep
FROM f"""


@register("mm_media_quality_gate", _gate_sql())
def mm_media_quality_gate(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.exactmath import halfup_mean
    from ..sources.multimodal import (
        extract_payload_stats,
        synth_stats_media_from_docs,
    )

    docs = table(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"), "text"
    )
    stats = extract_payload_stats(synth_stats_media_from_docs(docs))
    rng = F.when(
        F.col("kind") == "image",
        F.greatest(
            F.col("c0_max") - F.col("c0_min"),
            F.col("c1_max") - F.col("c1_min"),
            F.col("c2_max") - F.col("c2_min"),
        ),
    ).otherwise(F.col("c0_max") - F.col("c0_min"))
    clipped = F.when(
        F.col("kind") == "image",
        (F.col("c0_min") == 0) | (F.col("c0_max") == 255)
        | (F.col("c1_min") == 0) | (F.col("c1_max") == 255)
        | (F.col("c2_min") == 0) | (F.col("c2_max") == 255),
    ).otherwise((F.col("c0_min") == 0) | (F.col("c0_max") == 255))
    return stats.select(
        "media_id",
        "kind",
        rng.cast("long").alias("dyn_range"),
        halfup_mean("c0_sum", "n_units", 9, integral_sum=True).alias(
            "c0_mean"
        ),
        clipped.alias("clipped"),
        ((rng >= _GATE_MIN_RANGE) & ~clipped).alias("keep"),
    )


# w = 4 + b0 % 13, h = 5 + b1 % 12 (>= 5 rows: every image carries all
# five filter types); base RGB = (b2, b3, b4), spike = (b5, b6, b7).
_PNG_STATS_SQL = f"""WITH m AS (
  SELECT doc_id AS media_id, md5(text) AS h FROM documents),
p AS (
  SELECT media_id,
         (4 + {_byte(0)} % 13) * (5 + {_byte(1)} % 12) AS n,
         {_byte(2)} AS v2, {_byte(3)} AS v3, {_byte(4)} AS v4,
         {_byte(5)} AS v5, {_byte(6)} AS v6, {_byte(7)} AS v7
  FROM m)
SELECT media_id, CAST(n AS BIGINT) AS n_units,
       CAST(v2 * (n - 1) + v5 AS BIGINT) AS c0_sum,
       CAST(least(v2, v5) AS BIGINT) AS c0_min,
       CAST(greatest(v2, v5) AS BIGINT) AS c0_max,
       CAST(v3 * (n - 1) + v6 AS BIGINT) AS c1_sum,
       CAST(least(v3, v6) AS BIGINT) AS c1_min,
       CAST(greatest(v3, v6) AS BIGINT) AS c1_max,
       CAST(v4 * (n - 1) + v7 AS BIGINT) AS c2_sum,
       CAST(least(v4, v7) AS BIGINT) AS c2_min,
       CAST(greatest(v4, v7) AS BIGINT) AS c2_max
FROM p"""


@register("mm_png_stats", _PNG_STATS_SQL)
def mm_png_stats(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.multimodal import (
        extract_payload_stats,
        synth_png_media_from_docs,
    )

    docs = table(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"), "text"
    )
    return extract_payload_stats(
        synth_png_media_from_docs(docs)
    ).drop("kind")


# ---------------------------------------------------------------------------
# mm_gif_stats (r10, tier-1 shrink #4) — certifies the stdlib GIF
# decoder (media_headers.gif_pixel_stats: logical screen descriptor,
# global color table, image descriptor, and a REAL LZW decode of the
# sub-block stream) the same construction-proof way as mm_png_stats:
# every document becomes a genuinely LZW-compressed GIF (base palette
# colour + one spike index), the query decompresses the actual
# bitstream, and the oracle predicts the integer channel stats from
# md5(text) arithmetic alone. A decoder that skipped the LZW decode,
# misread the color table, or fell to the md5 fake diverges on doc 1.
_GIF_STATS_SQL = f"""WITH m AS (
  SELECT doc_id AS media_id, md5(text) AS h FROM documents),
p AS (
  SELECT media_id,
         (4 + {_byte(0)} % 13) * (4 + {_byte(1)} % 13) AS n,
         {_byte(2)} AS v2, {_byte(3)} AS v3, {_byte(4)} AS v4,
         {_byte(5)} AS v5, {_byte(6)} AS v6, {_byte(7)} AS v7
  FROM m)
SELECT media_id, CAST(n AS BIGINT) AS n_units,
       CAST(v2 * (n - 1) + v5 AS BIGINT) AS c0_sum,
       CAST(least(v2, v5) AS BIGINT) AS c0_min,
       CAST(greatest(v2, v5) AS BIGINT) AS c0_max,
       CAST(v3 * (n - 1) + v6 AS BIGINT) AS c1_sum,
       CAST(least(v3, v6) AS BIGINT) AS c1_min,
       CAST(greatest(v3, v6) AS BIGINT) AS c1_max,
       CAST(v4 * (n - 1) + v7 AS BIGINT) AS c2_sum,
       CAST(least(v4, v7) AS BIGINT) AS c2_min,
       CAST(greatest(v4, v7) AS BIGINT) AS c2_max
FROM p"""


@register("mm_gif_stats", _GIF_STATS_SQL)
def mm_gif_stats(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.multimodal import (
        extract_payload_stats,
        synth_gif_media_from_docs,
    )

    docs = table(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"), "text"
    )
    return extract_payload_stats(
        synth_gif_media_from_docs(docs)
    ).drop("kind")


# ---------------------------------------------------------------------------
# mm_adpcm_stats (r10, tier-1 shrink #5) — certifies the IMA-ADPCM
# decoder (media_headers.wav_adpcm_stats: RIFF walk, format-0x11 fmt
# parse, block header + per-nibble step-table arithmetic). The
# construction makes a LOSSY codec exactly predictable: zero nibbles
# at step index 0 hold the predictor with no drift, and the single
# spike nibble's +7/+8/+9 decay tail is closed-form (build_wav_ima
# docstring). The oracle replays that arithmetic from md5 bytes; the
# Spark side must genuinely walk the nibble recurrence.
_ADPCM_STATS_SQL = f"""WITH m AS (
  SELECT doc_id AS media_id, md5(text) AS h FROM documents),
p AS (
  SELECT media_id,
         65 + 2 * ({_byte(0)} % 480) AS n,
         ({_byte(2)} + 256 * {_byte(3)}) % 60000 - 30000 AS pr
  FROM m),
q AS (
  SELECT media_id, n, pr,
         1 + ({_byte(4)} + 256 * {_byte(5)}) % (n - 4) AS sp
  FROM p JOIN m USING (media_id))
SELECT media_id, CAST(n AS BIGINT) AS n_units,
       CAST(pr * sp + (pr + 7) + (pr + 8)
            + (pr + 9) * (n - sp - 2) AS BIGINT) AS c0_sum,
       CAST(pr AS BIGINT) AS c0_min,
       CAST(pr + 9 AS BIGINT) AS c0_max
FROM q"""


@register("mm_adpcm_stats", _ADPCM_STATS_SQL)
def mm_adpcm_stats(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.multimodal import (
        extract_payload_stats,
        synth_adpcm_media_from_docs,
    )

    docs = table(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"), "text"
    )
    return (
        extract_payload_stats(synth_adpcm_media_from_docs(docs))
        .select("media_id", "n_units", "c0_sum", "c0_min", "c0_max")
    )


# ---------------------------------------------------------------------------
# mm_jpeg_stats (r10, tier-1 shrink #6) — certifies the baseline-JPEG
# ENTROPY decoder (media_headers.jpeg_dc_stats: DHT-declared canonical
# Huffman tables, byte-stuffed bitstream, DC category+extend with
# per-block prediction, dequantization) in the DC-only profile, where
# constant 8x8 blocks make the lossy format exactly predictable
# (Q[0]=8 -> pixel == block gray). The oracle replays the md5
# construction; the Spark side must genuinely Huffman-decode the scan.
# General AC decode + IDCT stays tier 1 and degrades to the md5 fake —
# the documented profile edge.
_JPEG_STATS_SQL = f"""WITH m AS (
  SELECT doc_id AS media_id, md5(text) AS h FROM documents),
p AS (
  SELECT media_id,
         (1 + {_byte(0)} % 4) * (2 + {_byte(1)} % 3) AS nb,
         {_byte(2)} AS base, {_byte(3)} AS spike
  FROM m)
SELECT media_id,
       CAST(nb * 64 AS BIGINT) AS n_units,
       CAST((base * (nb - 1) + spike) * 64 AS BIGINT) AS c0_sum,
       CAST(least(base, spike) AS BIGINT) AS c0_min,
       CAST(greatest(base, spike) AS BIGINT) AS c0_max
FROM p"""


@register("mm_jpeg_stats", _JPEG_STATS_SQL)
def mm_jpeg_stats(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.multimodal import (
        extract_payload_stats,
        synth_jpeg_media_from_docs,
    )

    docs = table(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"), "text"
    )
    return (
        extract_payload_stats(synth_jpeg_media_from_docs(docs))
        .select("media_id", "n_units", "c0_sum", "c0_min", "c0_max")
    )
