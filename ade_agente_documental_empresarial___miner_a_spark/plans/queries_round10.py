"""Round-10 entries — real PNG pixel decode (VERDICT r9 task 4).

``mm_png_stats`` certifies the stdlib PNG payload decoder
(``media_headers.png_pixel_stats`` — chunk walk, zlib inflate,
per-scanline unfilter across all five PNG filter types) the same
construction-proof way r9's ``mm_pixel_stats`` certified the
uncompressed BMP/WAV decoders: every document becomes a REAL
compressed PNG (base RGB colour + one spike pixel, scanlines
forward-filtered by ``row % 5``), the query inflates and unfilters
the actual IDAT bytes, and the DuckDB oracle predicts the integer
channel statistics from the md5(text) construction arithmetic alone —
it never sees the bytes. A decoder that skipped the inflate, botched
any of the Sub/Up/Average/Paeth unfilters, or fell back to the
md5-fake tier would hash-diverge on the first document.

This moves PNG out of the tier-1 stub territory (the container has no
Pillow, but PNG's compression is stdlib zlib); md5-fake decode is now
confined to JPEG/GIF/compressed-audio + learned feature vectors.

Reference anchor: the reference (micro-infobot/app.py) has no media
handling; EXT training-data surface per the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import register, table
from .queries_round8 import _byte


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
