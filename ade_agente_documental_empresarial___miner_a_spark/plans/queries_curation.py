"""Curation queries — PII scrubbing, repetition and quality filtering,
language and perplexity gates, deterministic splits, benchmark
decontamination (``cur_*``): the pre-dedup corpus-curation stage of an
LLM training-data pipeline; no reference counterpart — extends
micro-infobot/app.py:191-205's clean-before-index step to corpus scale.

Every Spark callable is paired with a bit-exact DuckDB oracle; BIGINT
integer surface, identical float fold order, RE2-compatible regexes
shared verbatim by both engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exactmath import (
    dblround,
    halfup_mean,
    halfup_mean_duck,
    halfup_ratio,
    halfup_ratio_duck,
)
from ..operators.curation import (
    EMAIL_PATTERN,
    PHONE_PATTERN,
    contamination_pairs,
    hash_split,
    pii_scrub,
    quality_gate,
    repetition_signals,
)
from ..operators.textstats import LANG_MARKERS, STOPWORDS
from .catalog import _source_tag, register, table
from .queries_ingest import _dynamic_overwrite


def _duck_in_list(vals: list[str]) -> str:
    return ", ".join(f"'{v}'" for v in vals)


_LANGS = list(LANG_MARKERS)


_HIT_EXPRS = ", ".join(
    f"CAST(len(list_filter(ws, w -> w IN ({_duck_in_list(m)}))) AS BIGINT) AS hits_{lang}"
    for lang, m in LANG_MARKERS.items()
)


_BEST = "greatest(" + ", ".join(f"hits_{lang}" for lang in _LANGS) + ")"


_PRED = "CASE WHEN " + " WHEN ".join(
    f"hits_{lang} = {_BEST} THEN '{lang}'" for lang in _LANGS
) + " ELSE 'unk' END"


# ---------------------------------------------------------------------------
# cur_pii_scrub — the fixture corpus carries no PII, so both engines inject
# the same deterministic email+phone prefix per doc; the scrub machinery
# (patterns, global replace, counting) is then exercised for real.


_DUCK_INJECT = (
    "'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' || text"
)


@register(
    "cur_pii_scrub",
    f"""WITH injected AS (
  SELECT doc_id, {_DUCK_INJECT} AS text FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_PATTERN}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PHONE_PATTERN}')) AS BIGINT) AS n_phones,
       substr(regexp_replace(regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
                             '{PHONE_PATTERN}', '<PHONE>', 'g'), 1, 80) AS preview
FROM injected""",
)
def cur_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    injected = table(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" "),
            F.col("text"),
        ).alias("text"),
    )
    return pii_scrub(injected).select(
        "doc_id", "n_emails", "n_phones",
        F.substring("scrubbed", 1, 80).alias("preview"),
    )


# ---------------------------------------------------------------------------
# cur_repetition_signals — Gopher-style repetition stats + keep flag.


@register(
    "cur_repetition_signals",
    """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
words AS (SELECT doc_id, unnest(ws) AS w FROM w),
wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
wstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                  CAST(count(*) AS BIGINT) AS n_distinct,
                  CAST(max(c) AS BIGINT) AS top_word_n
           FROM wc GROUP BY doc_id),
bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
                                            i -> ws[i] || ' ' || ws[i+1])) AS g
       FROM w WHERE len(ws) >= 2),
bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
bstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                  CAST(max(c) AS BIGINT) AS top_bigram_n
           FROM bc GROUP BY doc_id)
SELECT s.doc_id, n_words, n_distinct,
       CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) AS distinct_ratio,
       CAST(top_word_n AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_frac,
       coalesce(CAST(top_bigram_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 0.0)
           AS top_bigram_frac,
       (CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.2
        AND CAST(top_word_n AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.2
        AND coalesce(CAST(top_bigram_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 0.0)
            <= 0.1) AS keep
FROM wstats s LEFT JOIN bstats b USING (doc_id)""",
)
def cur_repetition_signals(spark: SparkSession, sf: str) -> DataFrame:
    return repetition_signals(table(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# cur_hash_split — deterministic md5-bucket split, summarized per
# (lang, split) with within-lang fractions.


_DUCK_HV = "(strpos('0123456789abcdef', substr(h, {p}, 1)) - 1)"


def _duck_bucket() -> str:
    hv = [_DUCK_HV.format(p=p) for p in (1, 2, 3, 4)]
    return (
        f"((({hv[0]} * 16 + {hv[1]}) * 256 + ({hv[2]} * 16 + {hv[3]})) % 100)"
    )


@register(
    "cur_hash_split",
    f"""WITH h AS (
  SELECT lang, md5('split:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
b AS (SELECT lang, {_duck_bucket()} AS bucket FROM h),
s AS (SELECT lang, CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'valid'
                        ELSE 'test' END AS split FROM b)
SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) AS DOUBLE)
       / CAST(sum(count(*)) OVER (PARTITION BY lang) AS DOUBLE) AS frac
FROM s GROUP BY lang, split""",
)
def cur_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    split = hash_split(table(spark, sf, "documents"))
    counts = split.groupBy("lang", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return counts.withColumn(
        "frac",
        F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast("double"),
    )


# ---------------------------------------------------------------------------
# cur_decontaminate — docs sharing >= 2 distinct 3-gram shingles with the
# deterministic "benchmark" slice (doc_id % 97 == 0). The benchmark side is
# broadcast; the corpus side never shuffles before the overlap aggregate.


@register(
    "cur_decontaminate",
    """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
sh AS (SELECT doc_id,
              unnest(list_distinct(list_transform(
                generate_series(1, len(ws) - 2),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
       FROM w WHERE len(ws) >= 3)
SELECT a.doc_id, b.doc_id AS bench_id, CAST(count(*) AS BIGINT) AS n_overlap
FROM sh a
JOIN sh b ON a.shingle = b.shingle AND b.doc_id % 97 = 0
         AND a.doc_id <> b.doc_id
WHERE a.doc_id % 97 <> 0
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2""",
)
def cur_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    benchmark = docs.where(F.col("doc_id") % 97 == 0)
    return contamination_pairs(
        corpus, benchmark, shingle_n=3, min_overlap=2
    )


# ---------------------------------------------------------------------------
# cur_pack_sequences — sequence packing for pretraining: contiguous-fill
# ("concat then chunk") assignment of docs to fixed CTX-token training
# sequences. True greedy packing is inherently sequential; the standard
# distributed design packs within (source, hash-bucket) shards — each shard
# is one window partition, so parallelism = sources x buckets and no shard
# ever sees the whole corpus. Output: per-sequence fill statistics.


PACK_CTX, PACK_BUCKETS = 2048, 8


@register(
    "cur_pack_sequences",
    f"""WITH t AS (
  SELECT source, doc_id, doc_id % {PACK_BUCKETS} AS bucket,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT source, bucket, doc_id, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source, bucket ORDER BY doc_id) AS cum
  FROM t)
SELECT source, CAST(bucket AS BIGINT) AS bucket,
       CAST((cum - n_tokens) // {PACK_CTX} AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM c GROUP BY source, bucket, seq_id""",
)
def cur_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        (F.col("doc_id") % PACK_BUCKETS).alias("bucket"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("source", "bucket").orderBy("doc_id")
    packed = toks.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "seq_id",
        F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(PACK_CTX)),
    )
    return packed.groupBy(
        "source", F.col("bucket").cast("long").alias("bucket"), "seq_id"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("seq_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# cur_dataset_card — per-(source, lang) corpus summary composing the
# curation signals: doc/token counts, exact-dup rate, repetition keep rate.
# Integer aggregates throughout (order-insensitive); the only doubles are
# two final divisions of BIGINTs — bit-exact on both engines.


@register(
    "cur_dataset_card",
    """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
words AS (SELECT doc_id, unnest(ws) AS w FROM w),
wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
wstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                  CAST(count(*) AS BIGINT) AS n_distinct,
                  CAST(max(c) AS BIGINT) AS top_word_n
           FROM wc GROUP BY doc_id),
bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
                                            i -> ws[i] || ' ' || ws[i+1])) AS g
       FROM w WHERE len(ws) >= 2),
bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
bstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                  CAST(max(c) AS BIGINT) AS top_bigram_n
           FROM bc GROUP BY doc_id),
keepf AS (
  SELECT s.doc_id,
         (CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.2
          AND CAST(top_word_n AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.2
          AND coalesce(CAST(top_bigram_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE),
                       0.0) <= 0.1) AS keep
  FROM wstats s LEFT JOIN bstats b USING (doc_id)),
d AS (SELECT doc_id, source, lang, md5(trim(lower(text))) AS th,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT th) AS BIGINT) AS n_unique,
       1.0 - CAST(count(DISTINCT th) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS dup_rate,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
       / CAST(count(*) AS DOUBLE) AS keep_rate
FROM d JOIN keepf USING (doc_id)
GROUP BY source, lang""",
)
def cur_dataset_card(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    keep = repetition_signals(docs).select("doc_id", "keep")
    base = docs.select(
        "doc_id", "source", "lang",
        F.md5(F.trim(F.lower(F.col("text")))).alias("th"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    agg = base.join(keep, "doc_id").groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("th").cast("long").alias("n_unique"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_keep"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return agg.select(
        "source", "lang", "n_docs", "n_tokens", "n_unique",
        (F.lit(1.0) - dbl("n_unique") / dbl("n_docs")).alias("dup_rate"),
        (dbl("n_keep") / dbl("n_docs")).alias("keep_rate"),
    )


_DUCK_QUALITY = (
    "0.4 * least(1.0, n_words / 100.0)"
    " + least(0.3, 0.3 * (stop_hits / n_words) * 3.0)"
    " + 0.3 * greatest(0.0, 1.0 - least(1.0,"
    " abs((n_chars - (n_words - 1)) / n_words - 5.0) / 5.0))"
)


@register(
    "cur_quality_gate",
    f"""WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ({_duck_in_list(STOPWORDS)}))) AS DOUBLE) AS stop_hits
  FROM documents),
h AS (SELECT doc_id, n_words, n_chars, stop_hits, {_HIT_EXPRS} FROM w),
g AS (
  SELECT doc_id,
         CASE WHEN {_BEST} > 0 THEN {_PRED} ELSE 'unk' END AS pred_lang,
         {_DUCK_QUALITY} AS quality,
         CAST(n_words AS BIGINT) AS n_tokens
  FROM h)
SELECT doc_id, pred_lang, quality, n_tokens,
       pred_lang <> 'unk' AS pass_lang,
       quality >= 0.45 AS pass_quality,
       n_tokens BETWEEN 5 AND 5000 AS pass_len,
       (pred_lang <> 'unk' AND quality >= 0.45
        AND n_tokens BETWEEN 5 AND 5000) AS passes
FROM g""",
)
def cur_quality_gate(spark: SparkSession, sf: str) -> DataFrame:
    return quality_gate(table(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# Curation additions — the three sampling/batching steps between quality
# gating and tokenization in a pretraining-data pipeline: per-domain
# quota caps, stratified language rebalancing, and length-bucketed batch
# assignment. All deterministic (salted-md5 order/buckets — reproducible
# across engines and retries, no RNG), all expressible as one window or
# a map-only projection.


_DUCK_HEX = "(strpos('0123456789abcdef', substr({h}, {p}, 1)) - 1)"


def _duck_salt_bucket(salt: str) -> str:
    h = f"md5('{salt}' || CAST(doc_id AS VARCHAR))"
    hv = [_DUCK_HEX.format(h=h, p=p) for p in (1, 2, 3, 4)]
    return (
        f"((({hv[0]} * 16 + {hv[1]}) * 256 + ({hv[2]} * 16 + {hv[3]})) % 100)"
    )


@register(
    "cur_source_quota",
    """WITH r AS (
  SELECT source,
         row_number() OVER (PARTITION BY source
           ORDER BY md5('quota:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN rk <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM r GROUP BY source""",
)
def cur_source_quota(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain quota cap (operators/curation.py:source_quota) summarized
    as kept-vs-total per source."""
    from ..operators.curation import source_quota

    q = source_quota(table(spark, sf, "documents"), quota=15)
    return q.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept"),
    )


@register(
    "cur_stratified_sample",
    f"""WITH b AS (
  SELECT lang, {_duck_salt_bucket('sample:')} AS bucket FROM documents),
s AS (
  SELECT lang,
         CASE WHEN bucket < (CASE WHEN lang = 'en' THEN 40 ELSE 80 END)
              THEN 1 ELSE 0 END AS sampled
  FROM b)
SELECT lang, CAST(count(*) AS BIGINT) AS n_in,
       CAST(sum(sampled) AS BIGINT) AS n_sampled,
       CAST(sum(sampled) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS frac
FROM s GROUP BY lang""",
)
def cur_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified rebalancing: keep 40% of the
    over-represented 'en' stratum, 80% of every other language
    (operators/curation.py:stratified_sample). Map-only."""
    from ..operators.curation import stratified_sample

    s = stratified_sample(
        table(spark, sf, "documents"), {"en": 40}, default_pct=80
    )
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_in"),
        F.sum(F.col("sampled").cast("long")).cast("long").alias("n_sampled"),
        (
            F.sum(F.col("sampled").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("frac"),
    )


@register(
    "cur_length_batches",
    """WITH b AS (
  SELECT doc_id, n_chars,
         CAST(floor(n_chars / 128.0) AS BIGINT) AS len_bucket
  FROM documents),
r AS (
  SELECT len_bucket, n_chars,
         row_number() OVER (PARTITION BY len_bucket
           ORDER BY md5('quota:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM b),
a AS (SELECT len_bucket, n_chars,
             CAST(floor((rn - 1) / 8.0) AS BIGINT) AS batch_id FROM r)
SELECT len_bucket, batch_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       CAST(count(*) * max(n_chars) AS BIGINT) AS padded_cost,
       CAST(sum(n_chars) AS BIGINT) AS actual_chars
FROM a GROUP BY len_bucket, batch_id""",
)
def cur_length_batches(spark: SparkSession, sf: str) -> DataFrame:
    """Length-bucketed batch assignment + the padding economics per batch
    (operators/curation.py:length_bucket_batches): padded_cost is what a
    fixed-shape batch pays, actual_chars what the tokens need."""
    from ..operators.curation import length_bucket_batches

    b = length_bucket_batches(
        table(spark, sf, "documents"), bucket_chars=128, batch_size=8
    )
    return b.groupBy("len_bucket", "batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("n_chars").cast("long").alias("max_chars"),
        (F.count(F.lit(1)) * F.max("n_chars")).cast("long").alias("padded_cost"),
        F.sum("n_chars").cast("long").alias("actual_chars"),
    )


# ---------------------------------------------------------------------------
# Training-mixture weights — temperature-scaled source sampling (the
# multilingual-pretraining recipe, e.g. XLM-R's p^α re-weighting): from
# per-source token mass, compute the raw share p, the α=0.3-tempered
# share q ∝ p^α, and the sampling boost q/p that a weighted reservoir
# or per-source rate limiter would apply. All corpus scalars ride a
# 1-row broadcast; per-source work is one groupBy on a low-cardinality
# key. Float parity: pow() carries a 1-ulp license, so p^α is quantized
# to 9 decimals BEFORE the normalizing sum (a sorted fold over the ~20
# sources), making every downstream division engine-exact.
@register(
    "cur_domain_mix",
    """WITH tok AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total_tokens FROM tok),
p AS (
  SELECT source, n_docs, n_tokens,
         round(pow(n_tokens / total_tokens, 0.3) * 1e9) / 1e9 AS pa,
         n_tokens / total_tokens AS praw
  FROM tok CROSS JOIN tot),
z AS (SELECT list_aggregate(list(pa ORDER BY source), 'sum') AS zsum FROM p)
SELECT source, n_docs, n_tokens,
       round(praw * 1e9) / 1e9 AS p_share,
       round((pa / zsum) * 1e9) / 1e9 AS q_share,
       round(((pa / zsum) / praw) * 1e9) / 1e9 AS boost
FROM p CROSS JOIN z""",
)
def cur_domain_mix(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    tok = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens"),
    )
    tot = tok.agg(F.sum("n_tokens").cast("double").alias("total_tokens"))
    p = tok.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        dblround(
            F.pow(F.col("n_tokens") / F.col("total_tokens"), 0.3), 9
        ).alias("pa"),
        (F.col("n_tokens") / F.col("total_tokens")).alias("praw"),
    )
    z = p.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("source", "pa"))),
                lambda s: s["pa"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("zsum")
    )
    return p.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tokens",
        dblround(F.col("praw"), 9).alias("p_share"),
        dblround(F.col("pa") / F.col("zsum"), 9).alias("q_share"),
        dblround((F.col("pa") / F.col("zsum")) / F.col("praw"), 9).alias(
            "boost"
        ),
    )


# ---------------------------------------------------------------------------
# Character-trigram language-model scoring — the KenLM-perplexity stand-in
# (CCNet's quality signal) computable without external models: train the
# trigram unigram-frequency model ON the corpus (one hash aggregate),
# then score each doc by mean log-probability of its trigrams. Same
# quantize-then-fold discipline as BM25: ln() carries a 1-ulp JVM/glibc
# license, so each log is round(·,9)-quantized and summed as
# DECIMAL(20,9); the per-doc mean divides the exact decimal sum once.
# Plan (r8 one-pass rewrite; the original join form evaluated the
# explode on BOTH join branches — no ReusedExchange because one branch
# aggregates — so the substring/explode CPU ran twice, measured 2× at
# sf0.1): one explode pass collapses to (gram, doc) carrier rows with
# occurrence counts (partial agg before the shuffle); the model count
# is a sum-window over carriers by gram; the corpus total needs no
# explode at all (sum of length-2 over qualifying docs, map-side); the
# per-doc sum weights each carrier's quantized logp by its occurrence
# count — logp × n_occ with n_occ cast DECIMAL(10,0) so the product
# stays precision-38-exact (a bigint operand would push precision to
# 41 and Spark silently rounds the scale down: caught by the value
# diff at the 9th decimal when this rewrite was first prototyped).
# Shared with text_trigram_lm and cur_perplexity_filter, which wraps these
# per-doc scores in a decile cutoff — one SQL definition, two consumers.
TRIGRAM_SCORES_SQL = """WITH grams AS (
  SELECT doc_id, substr(text, i, 3) AS g
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text) - 2)) AS i
        FROM documents WHERE length(text) >= 3)),
model AS (SELECT g, count(*) AS cnt FROM grams GROUP BY g),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM model)
SELECT doc_id, count(*) AS n_trigrams,
       CAST(CASE WHEN sum(logp) < 0 THEN -1 ELSE 1 END
            * ((2 * CAST(abs(sum(logp)) * 1000000000 AS HUGEINT) + count(*))
               // (2 * count(*))) AS DOUBLE) / 1e9 AS avg_logp
FROM (SELECT doc_id, CAST(round(ln(cnt / total) * 1e9) / 1e9 AS DECIMAL(20,9)) AS logp
      FROM grams JOIN model USING (g) CROSS JOIN tot)
GROUP BY doc_id"""


# ---------------------------------------------------------------------------
# End-to-end curation funnel — the composite every training-data team
# reports: per source, how many docs entered, survived the quality gate,
# survived exact dedup among survivors, and how many tokens ship. Spark
# side COMPOSES the real operators (quality_gate + first-occurrence
# window); the oracle restates the same textstats formulas the
# cur_quality_gate oracle uses (imported fragments, not re-derived).
# Scale shape: gate is map-only; dedup is one window on md5-uniform
# hash; the per-source rollup is a 20-key aggregate.
def _funnel_sql() -> str:
    from ..operators.textstats import STOPWORDS

    return f"""WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ({_duck_in_list(STOPWORDS)}))) AS DOUBLE) AS stop_hits
  FROM documents),
h AS (SELECT doc_id, n_words, n_chars, stop_hits, {_HIT_EXPRS} FROM w),
g AS (
  SELECT doc_id,
         CASE WHEN {_BEST} > 0 THEN {_PRED} ELSE 'unk' END AS pred_lang,
         {_DUCK_QUALITY} AS quality,
         CAST(n_words AS BIGINT) AS n_tokens
  FROM h),
s AS (
  SELECT g.doc_id, d.source, d.text, g.n_tokens,
         (pred_lang <> 'unk' AND quality >= 0.45
          AND n_tokens BETWEEN 5 AND 5000) AS passes
  FROM g JOIN documents d USING (doc_id)),
r AS (
  SELECT doc_id, source, n_tokens, passes,
         (passes AND row_number() OVER (
              PARTITION BY md5(trim(lower(text)))
              ORDER BY passes DESC, doc_id) = 1) AS is_first
  FROM s)
SELECT source,
       count(*) AS n_input,
       CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(sum(CASE WHEN is_first THEN n_tokens ELSE 0 END) AS BIGINT)
         AS tokens_out
FROM r GROUP BY source"""


@register("cur_corpus_funnel", _funnel_sql())
def cur_corpus_funnel(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.curation import quality_gate
    from ..operators.dedup import normalized_text

    docs = table(spark, sf, "documents")
    gated = quality_gate(docs).select("doc_id", "n_tokens", "passes")
    flags = docs.select(
        "doc_id", "source", F.md5(normalized_text(F.col("text"))).alias("h")
    ).join(gated, "doc_id")
    # ONE window, no survivors self-join (a flags⋈surv left join would
    # re-scan and re-evaluate the quality expressions on a second
    # branch): ordering passing docs first makes "rn == 1 among
    # survivors" computable on the full frame.
    w = Window.partitionBy("h").orderBy(F.col("passes").desc(), "doc_id")
    first = F.col("passes") & (F.row_number().over(w) == 1)
    r = flags.withColumn("is_first", first)
    return r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.col("passes").cast("long")).alias("n_quality"),
        F.sum(F.col("is_first").cast("long")).alias("n_unique"),
        F.sum(
            F.when(F.col("is_first"), F.col("n_tokens")).otherwise(F.lit(0))
        ).alias("tokens_out"),
    )


# ---------------------------------------------------------------------------
# Curriculum phases — curriculum-learning bucketing: docs ranked by the
# heuristic quality score and cut into 4 ntile phases (train easy→hard),
# reporting each phase's doc count, token budget, and mean quality.
# ntile over a global order is a single-partition sort — fine for the
# per-corpus report; at 100 TB you compute approximate quantile CUTOFFS
# first (one pass) and assign phases map-side instead (noted, the ntile
# IS the spec). Mean quality uses the quantize-then-decimal-sum fold.
def _curriculum_sql() -> str:
    from ..operators.textstats import STOPWORDS

    return f"""WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ({_duck_in_list(STOPWORDS)}))) AS DOUBLE) AS stop_hits
  FROM documents),
q AS (
  SELECT doc_id, CAST(n_words AS BIGINT) AS n_tokens,
         {_DUCK_QUALITY} AS quality
  FROM w),
p AS (
  SELECT doc_id, n_tokens,
         CAST(round(quality * 1e9) / 1e9 AS DECIMAL(20,9)) AS quality_q,
         ntile(4) OVER (ORDER BY quality, doc_id) AS phase
  FROM q)
SELECT CAST(phase AS BIGINT) AS phase,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       {halfup_mean_duck("sum(quality_q)", "count(*)", 9)} AS avg_quality
FROM p GROUP BY phase"""


@register("cur_curriculum_phases", _curriculum_sql())
def cur_curriculum_phases(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.textstats import quality_expr

    docs = table(spark, sf, "documents")
    t = F.col("text")
    q = docs.select(
        "doc_id",
        F.size(F.split(t, " ")).cast("long").alias("n_tokens"),
        quality_expr(t).alias("quality"),
    )
    from ..operators.ranking import global_ntile

    # curriculum quartiles over EVERY document — unbounded global rank,
    # so the distributed exact ntile rather than a partition-less window
    p = global_ntile(q, 4, ["quality", "doc_id"], bucket_col="phase").select(
        "doc_id",
        "n_tokens",
        dblround(F.col("quality"), 9).cast("decimal(20,9)").alias("quality_q"),
        "phase",
    )
    # quality_q carries exactly 9 decimals, so the phase mean is stated
    # as the integer-exact HALF_UP quotient (ROUND8 §12 — round(double,9)
    # is not cross-engine stable at half boundaries)
    return p.groupBy(F.col("phase").cast("long").alias("phase")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        halfup_mean("sum(quality_q)", "count(1)", 9).alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# Expectations summary — the data-quality report over
# operators/curation.expectations: per-rule violation counts plus the
# corpus pass count, long-form. The rule evaluation is one map-only
# projection (rules ride the scan); this rollup explodes the per-row
# failed-rule lists and adds the passed row — the DLT-style quality
# dashboard a 100 TB ingest runs per batch.
@register(
    "cur_expectations",
    """WITH checks AS (
  SELECT CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END AS v_doc_id,
         CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END
           AS v_text,
         CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END AS v_chars,
         CASE WHEN lang IS NULL
                OR lang NOT IN ('en','es','fr','de') THEN 1 ELSE 0 END
           AS v_lang
  FROM documents)
SELECT 'doc_id_present' AS rule, CAST(sum(v_doc_id) AS BIGINT) AS n
FROM checks
UNION ALL
SELECT 'text_nonempty', CAST(sum(v_text) AS BIGINT) FROM checks
UNION ALL
SELECT 'n_chars_consistent', CAST(sum(v_chars) AS BIGINT) FROM checks
UNION ALL
SELECT 'lang_supported', CAST(sum(v_lang) AS BIGINT) FROM checks
UNION ALL
SELECT 'passed_all',
       CAST(sum(CASE WHEN v_doc_id + v_text + v_chars + v_lang = 0
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM checks""",
)
def cur_expectations(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.curation import expectations

    checked = expectations(table(spark, sf, "documents"))
    viols = (
        checked.select(
            F.explode("failed_rules").alias("rule")
        )
        .groupBy("rule")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # rules with zero violations still get a row (the report contract)
    all_rules = spark.createDataFrame(
        [
            ("doc_id_present",),
            ("text_nonempty",),
            ("n_chars_consistent",),
            ("lang_supported",),
        ],
        "rule string",
    )
    full = all_rules.join(viols, "rule", "left").select(
        "rule", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
    )
    passed = checked.agg(
        F.sum(F.col("passed").cast("long")).cast("long").alias("n")
    ).select(F.lit("passed_all").alias("rule"), "n")
    return full.unionByName(passed)


# ---------------------------------------------------------------------------
# BPE merge statistics — the tokenizer-training primitive (Sennrich et
# al. 2016): adjacent symbol-pair frequencies across the corpus's
# words; the argmax pair IS merge #1 of a BPE vocabulary build. Top-20
# by (count desc, pair) with a dense rank — rank 1 is the merge a
# trainer would apply next. Shape: explode words map-side (spread
# partitioning, no skew on the doc key), char pairs per word are a
# pure projection, ONE count shuffle on the pair key, top-20 via
# TakeOrderedAndProject. The full BPE loop re-runs this after each
# merge on re-tokenized words — per-iteration cost is this same
# aggregate, which is why distributed BPE trainers batch merges.
@register(
    "cur_bpe_pair_stats",
    """WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
c AS (SELECT regexp_extract_all(word, '.') AS chars
      FROM w WHERE length(word) >= 2),
p AS (SELECT unnest(list_zip(list_slice(chars, 1, len(chars) - 1),
                             list_slice(chars, 2, len(chars)))) AS pr
      FROM c),
cnt AS (SELECT pr[1] || pr[2] AS pair, count(*) AS n
        FROM p GROUP BY pair)
SELECT pair, n,
       CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT)
         AS merge_rank
FROM cnt ORDER BY n DESC, pair LIMIT 20""",
)
def cur_bpe_pair_stats(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.dedup import spread

    docs = spread(table(spark, sf, "documents"), "doc_id")
    words = docs.select(
        F.explode(F.split("text", " ")).alias("word")
    ).where(F.length("word") >= 2)
    chars = words.select(
        F.regexp_extract_all("word", F.lit("."), 0).alias("chars")
    )
    # greatest(·, 0): a newline-only "word" passes the length guard but
    # regexp '.' matches nothing (RE2 '.' excludes \n on both engines),
    # so chars is EMPTY and an unclamped size-1 slice length of -1
    # aborts the job (parity_fuzz edge profile); DuckDB's list_slice
    # just returns [] there, so the clamp is also the oracle's value.
    n_pairs = F.greatest(F.size("chars") - 1, F.lit(0))
    pairs = chars.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("chars"), 1, n_pairs),
                F.slice(F.col("chars"), 2, n_pairs),
                lambda a, b: F.concat(a, b),
            )
        ).alias("pair")
    )
    cnt = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), "pair")
    return (
        cnt.withColumn(
            "merge_rank", F.row_number().over(w).cast("long")
        )
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage — the vocab-size selection primitive:
# rank the corpus vocabulary by frequency (tiebreak token ASC — a total
# order, so the running sum is deterministic) and keep the smallest
# prefix whose cumulative token-mass share reaches 50%. The running sum
# evaluates left-to-right over the same total order on both engines, so
# cum_share is bit-identical. The global-order window is a single
# partition over the VOCAB (≤ millions of rows after aggregation, not
# corpus-sized); at larger vocabs the same result comes from a
# two-phase rank (bucket by count range, running-sum bucket totals) —
# documented rather than needed at fixture scale.
@register(
    "cur_vocab_coverage",
    """WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
freq AS (
  SELECT token, count(*) AS cnt FROM words
  WHERE token <> '' GROUP BY token),
tot AS (SELECT sum(cnt) AS total FROM freq),
ranked AS (
  SELECT token, cnt,
         row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank,
         sum(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
           OVER (ORDER BY cnt DESC, token ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_share
  FROM freq, tot)
SELECT CAST(rank AS BIGINT) AS rank, token, CAST(cnt AS BIGINT) AS cnt,
       cum_share
FROM ranked
WHERE cum_share - CAST(cnt AS DOUBLE) / (SELECT total FROM tot) < 0.5""",
)
def cur_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    words = docs.select(
        F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")
    freq = words.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    f = freq.crossJoin(F.broadcast(total))
    share = F.col("cnt").cast("double") / F.col("total").cast("double")
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    ranked = f.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "token",
        F.col("cnt").cast("long").alias("cnt"),
        share.alias("share"),
        F.sum(share)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_share"),
    )
    return ranked.where(
        F.col("cum_share") - F.col("share") < 0.5
    ).select("rank", "token", "cnt", "cum_share")


# ---------------------------------------------------------------------------
# Rare-class oversampling — the deterministic upsampling stage of a
# training mix: each language's repeat factor is floor(max_n / n_lang)
# (the majority class stays at 1×), and every doc is replicated exactly
# factor times via explode(sequence(1, factor)). No randomness — the
# factor comes from exact group counts, so the output composition is
# reproducible run-over-run (the property a data-mix card depends on).
# Shape: one tiny lang-count aggregate broadcast back onto the scan,
# then a map-side explode — no second shuffle for the replication.
@register(
    "cur_oversample_rare",
    """WITH counts AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY lang),
mx AS (SELECT max(n) AS max_n FROM counts),
factors AS (
  -- explicit floor: DuckDB CAST(double AS BIGINT) ROUNDS while Spark
  -- truncates — floor() first makes both engines agree
  SELECT lang, n, CAST(floor(max_n / n) AS BIGINT) AS factor
  FROM counts, mx),
replicated AS (
  SELECT d.lang, unnest(generate_series(1, f.factor)) AS replica
  FROM documents d JOIN factors f ON d.lang = f.lang)
SELECT f.lang, f.n AS n_before, f.factor,
       (SELECT count(*) FROM replicated r WHERE r.lang = f.lang)
         AS n_after
FROM factors f""",
)
def cur_oversample_rare(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    mx = counts.agg(F.max("n").alias("max_n"))
    factors = counts.crossJoin(F.broadcast(mx)).select(
        "lang",
        "n",
        F.floor(F.col("max_n") / F.col("n")).cast("long").alias("factor"),
    )
    replicated = (
        docs.join(F.broadcast(factors), "lang")
        .select(
            "lang",
            F.explode(
                F.sequence(F.lit(1), F.col("factor").cast("int"))
            ).alias("replica"),
        )
    )
    after = replicated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_after")
    )
    return factors.join(after, "lang").select(
        "lang",
        F.col("n").alias("n_before"),
        "factor",
        "n_after",
    )


# ---------------------------------------------------------------------------
# Perplexity filtering (CCNet's actual use of the LM score): drop the
# worst decile of documents by corpus-trigram-LM mean log-probability.
# Builds on text_trigram_lm's per-doc scores (TRIGRAM_SCORES_SQL backs
# both oracles); the cutoff is rank-based with a (avg_logp, doc_id)
# total order so the kept set is deterministic on both engines. This is
# the repo's canonical UNBOUNDED global rank (one row per document), so
# it uses operators/ranking.py::global_row_number — exact distributed
# rank via range partitioning + per-partition row_number + broadcast
# offsets, no single-partition window stage at any SF.
@register(
    "cur_perplexity_filter",
    f"""WITH scored AS ({TRIGRAM_SCORES_SQL}),
r AS (
  SELECT doc_id, avg_logp,
         row_number() OVER (ORDER BY avg_logp, doc_id) AS rn,
         count(*) OVER () AS n
  FROM scored)
SELECT doc_id, avg_logp,
       rn > CAST(ceil(0.1 * n) AS BIGINT) AS keep
FROM r""",
)
def cur_perplexity_filter(spark: SparkSession, sf: str) -> DataFrame:
    from .queries_text import text_trigram_lm

    from ..operators.ranking import global_row_number

    scored = text_trigram_lm(spark, sf).select("doc_id", "avg_logp")
    # global doc count as a broadcast scalar (exact BIGINT), not an
    # empty-partition count window
    n_tot = scored.agg(F.count(F.lit(1)).alias("n"))
    ranked = global_row_number(scored, ["avg_logp", "doc_id"]).crossJoin(
        F.broadcast(n_tot)
    )
    return ranked.select(
        "doc_id",
        "avg_logp",
        (F.col("rn") > F.ceil(0.1 * F.col("n")).cast("long")).alias(
            "keep"
        ),
    )


# ---------------------------------------------------------------------------
# Winsorization — cap per-language document lengths at the group's
# [p05, p95] before computing the mean: the standard outlier treatment
# when hard-dropping (quality gate) is too aggressive. Exact
# percentiles per group (percentile ≡ quantile_cont: same linear
# interpolation on both engines; n_chars is integer so the interpolated
# bounds are exact binary fractions), broadcast join-back, map-only
# clip, and a round(·,6)-quantized DECIMAL mean so the fold order can't
# smear the last bit. At 100 TB the exact per-group percentile becomes
# approx_percentile with the contract entry's error pin
# (rel_approx_percentile_contract) — the clip/mean pipeline is
# unchanged.
@register(
    "cur_winsorize",
    f"""WITH bounds AS (
  SELECT lang,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS lo,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS hi
  FROM documents GROUP BY lang),
clipped AS (
  SELECT d.lang,
         CAST(round(least(greatest(CAST(n_chars AS DOUBLE), lo), hi)
                    * 1e6) / 1e6 AS DECIMAL(18,6)) AS v
  FROM documents d JOIN bounds USING (lang))
SELECT lang, count(*) AS n_docs,
       {halfup_mean_duck("sum(v)", "count(*)", 6)} AS winsorized_mean
FROM clipped GROUP BY lang""",
)
def cur_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").select(
        "lang", F.col("n_chars").cast("double").alias("v_raw")
    )
    bounds = docs.groupBy("lang").agg(
        F.percentile("v_raw", F.lit(0.05)).alias("lo"),
        F.percentile("v_raw", F.lit(0.95)).alias("hi"),
    )
    clipped = docs.join(F.broadcast(bounds), "lang").select(
        "lang",
        dblround(F.least(F.greatest("v_raw", F.col("lo")), F.col("hi")), 6)
        .cast("decimal(18,6)")
        .alias("v"),
    )
    # v carries exactly 6 decimals -> integer-exact HALF_UP mean
    # (ROUND8 §12: round(double, 6) splits at half boundaries)
    return clipped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        halfup_mean("sum(v)", "count(1)", 6).alias("winsorized_mean"),
    )


# ---------------------------------------------------------------------------
# GDPR deletion — the "right to be forgotten" against an immutable
# lake: you cannot update parquet in place, so deletion = anti-join the
# forget-set and DYNAMICALLY overwrite only the partitions that held
# its rows; every other partition survives byte-for-byte (file-listing
# test-pinned). At 100 TB this is why lakes partition/cluster on the
# deletion subject where feasible: the rewrite cost is proportional to
# the touched partitions, not the table. The entry runs the full
# delete → read-back pipeline; the oracle states the survivor set
# directly, so a row deleted too many/few times breaks parity.
_FORGET_MOD, _FORGET_REM = 97, 13


def _gdpr_dirs(sf: str) -> str:
    import tempfile

    # keyed on the fixture's identity: a regenerated testdata file must
    # rebuild the lake rather than serve a stale deleted copy
    return os.path.join(
        tempfile.gettempdir(),
        f"ade_gdpr_{_source_tag(sf, 'documents')}",
    )


def gdpr_delete(
    spark: SparkSession, lake: str, forget, partition_col: str
) -> None:
    """Delete ``forget`` rows from the hive-partitioned parquet lake at
    ``lake``, rewriting ONLY the partitions that contain them (dynamic
    partition overwrite); untouched sibling partitions keep their files
    byte-for-byte."""
    current = spark.read.parquet(lake)
    touched = current.where(forget).select(partition_col).distinct()
    survivors = current.join(
        F.broadcast(touched), partition_col, "left_semi"
    ).where(~forget)
    with _dynamic_overwrite(spark):
        (
            survivors.repartition(partition_col)
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(lake)
        )


@register(
    "cur_gdpr_delete",
    f"""SELECT source, count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(n_chars) AS BIGINT) AS chars_sum
FROM documents
WHERE NOT (doc_id % {_FORGET_MOD} = {_FORGET_REM})
GROUP BY source""",
)
def cur_gdpr_delete(spark: SparkSession, sf: str) -> DataFrame:
    lake = _gdpr_dirs(sf)
    docs = table(spark, sf, "documents")
    if not os.path.exists(os.path.join(lake, "_SUCCESS")):
        (
            docs.repartition("source")
            .write.mode("overwrite")
            .partitionBy("source")
            .parquet(lake)
        )
    forget = F.col("doc_id") % _FORGET_MOD == _FORGET_REM
    gdpr_delete(spark, lake, forget, partition_col="source")
    after = spark.read.parquet(lake)
    return after.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
    )


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle — a training run needs a DIFFERENT global
# order each epoch that is nonetheless REPRODUCIBLE on any cluster:
# md5(doc_id:epoch) is the permutation key (no RNG state anywhere), the
# shard is a map-only hash bucket (no global sort, no rank — the rank
# form would serialize 100 TB through one window), and the within-shard
# order is the key itself, consumed by the data loader as written.
# Changing _EPOCH re-deals every shard deterministically. min_by breaks
# no ties (md5 keys are unique on unique doc_ids).
_EPOCH = 3


_N_SHARDS = 8


@register(
    "cur_epoch_shuffle",
    f"""WITH keyed AS (
  SELECT doc_id,
         md5(CAST(doc_id AS VARCHAR) || ':' || '{_EPOCH}') AS k
  FROM documents)
SELECT CAST(CAST(('0x' || substr(k, 1, 6)) AS INTEGER)
            % {_N_SHARDS} AS INT) AS shard,
       count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       arg_min(doc_id, k) AS lead_doc
FROM keyed GROUP BY shard""",
)
def cur_epoch_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(_EPOCH))
        ).alias("k"),
    )
    shard = (
        F.conv(F.substring("k", 1, 6), 16, 10).cast("int") % _N_SHARDS
    ).cast("int")
    return keyed.groupBy(shard.alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.min_by("doc_id", "k").alias("lead_doc"),
    )


# ---------------------------------------------------------------------------
# Mixture sampling weights — the data-mixing step: given available
# tokens per language and a UNIFORM target mix, the sampling rate is
# min(1, target/available) — languages above their share downsample,
# languages below keep everything (single-step: no redistribution of
# the shortfall, which keeps the arithmetic one deterministic double op
# per group; iterative water-filling is the documented extension).
# Token counts are exact integers; only the final rate/expectation are
# doubles, computed in one identical expression on both engines.
@register(
    "cur_mixture_weights",
    f"""WITH avail AS (
  SELECT lang,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang),
tot AS (
  SELECT CAST(sum(n_tokens) AS DOUBLE) AS total,
         CAST(count(*) AS DOUBLE) AS n_langs,
         CAST(sum(n_tokens) AS BIGINT) AS ti,
         CAST(count(*) AS BIGINT) AS li
  FROM avail)
SELECT lang, n_tokens,
       least(1.0, {halfup_ratio_duck("ti", "li * n_tokens", 9)})
         AS sampling_rate,
       CAST(floor(n_tokens * least(1.0, (total / n_langs) / n_tokens))
            AS BIGINT) AS expected_tokens
FROM avail CROSS JOIN tot""",
)
def cur_mixture_weights(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    avail = docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " ", -1)))
        .cast("long")
        .alias("n_tokens")
    )
    tot = avail.agg(
        F.sum("n_tokens").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("n_langs"),
        F.sum("n_tokens").alias("ti"),
        F.count(F.lit(1)).alias("li"),
    )
    rate = F.least(
        F.lit(1.0), (F.col("total") / F.col("n_langs")) / F.col("n_tokens")
    )
    return avail.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        # integer-exact HALF_UP rate (ROUND8 §12 class; r9 audit)
        F.least(
            F.lit(1.0), halfup_ratio("ti", "li * n_tokens", 9)
        ).alias("sampling_rate"),
        F.floor(F.col("n_tokens") * rate).cast("long").alias(
            "expected_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit — group the release candidate by its
# quasi-identifiers (language × length-centile-bucket here: the
# attributes an adversary can observe) and report, per language, the
# group count, how many groups fall below k=5, and the minimum group
# size. A release passes when n_below_k is 0; the per-language rollup
# names WHERE generalization is needed. One aggregate over the QI key,
# one rollup — both map-side-combinable.
_K_ANON = 5


@register(
    "cur_k_anonymity",
    f"""WITH qi AS (
  SELECT lang, CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket,
         count(*) AS group_n
  FROM documents GROUP BY lang, len_bucket)
SELECT lang,
       count(*) AS n_groups,
       CAST(sum(CASE WHEN group_n < {_K_ANON} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_below_k,
       CAST(min(group_n) AS BIGINT) AS min_group_size
FROM qi GROUP BY lang""",
)
def cur_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    qi = docs.groupBy(
        "lang",
        F.floor(F.col("n_chars") / 100.0).cast("long").alias("len_bucket"),
    ).agg(F.count(F.lit(1)).alias("group_n"))
    return qi.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(
            F.when(F.col("group_n") < _K_ANON, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_below_k"),
        F.min("group_n").cast("long").alias("min_group_size"),
    )


# ---------------------------------------------------------------------------
# Release manifest — the integrity record a reproducible dataset
# release ships: per source shard, document count, token mass, id
# range, and a CONTENT DIGEST that any consumer can recompute —
# md5 over the doc_ids concatenated in a canonical (sorted) order, so
# the digest is independent of partitioning, scan order, and engine.
# The ordered listagg inside md5 is the same WITHIN GROUP machinery as
# rel_string_agg; at 100 TB the digest hashes per-doc md5s instead of
# raw ids and merges via XOR (order-free), noted — the canonical-order
# contract is identical.
@register(
    "cur_release_manifest",
    """SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id,
       CAST(max(doc_id) AS BIGINT) AS max_doc_id,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
         AS content_digest
FROM documents GROUP BY source""",
)
def cur_release_manifest(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " ", -1)))
        .cast("long")
        .alias("n_tokens"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
        F.md5(
            F.expr(
                "listagg(CAST(doc_id AS STRING), ',') "
                "WITHIN GROUP (ORDER BY doc_id)"
            ).cast("binary")
        ).alias("content_digest"),
    )


# ---------------------------------------------------------------------------
# Grouped k-fold — the leakage-safe split: the fold is a function of
# the GROUP (source), not the row, so near-duplicate documents from
# one source can never straddle train/eval. fold = md5(source) mod 5 —
# same deterministic-hash discipline as cur_hash_split, one level up.
# The audit output proves the invariant: per (fold, source) the whole
# source's count, and per source exactly ONE fold (pinned by the
# oracle's count and the test's distinct check). Map-only.
_K_FOLDS = 5


@register(
    "cur_group_kfold",
    f"""WITH assigned AS (
  SELECT source, doc_id,
         CAST(CAST(('0x' || substr(md5(source), 1, 6)) AS INTEGER)
              % {_K_FOLDS} AS INT) AS fold
  FROM documents)
SELECT fold, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars_total
FROM (SELECT a.fold, a.source, a.doc_id, d.n_chars
      FROM assigned a JOIN documents d ON a.doc_id = d.doc_id)
GROUP BY fold, source""",
)
def cur_group_kfold(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    fold = (
        F.conv(F.substring(F.md5("source"), 1, 6), 16, 10).cast("int")
        % _K_FOLDS
    ).cast("int")
    return docs.groupBy(
        fold.alias("fold"), "source"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    )


# ---------------------------------------------------------------------------
# Dataset version diff — the changelog between corpus v1 (documents as
# shipped) and a deterministic v2 (every 7th doc dropped, every 11th
# non-dropped doc re-generated with doubled text, every doc_id≡3 mod 13
# added as a new doc in a disjoint id space): one FULL OUTER join on
# doc_id classifies added / removed / changed / unchanged, with doc
# counts and the signed token delta per class. This is rel_upsert_merge
# pointed at corpus release management — the numbers a dataset
# changelog publishes so downstream consumers know whether re-training
# is warranted.
_V2_ADD_SHIFT = 1_000_000


@register(
    "cur_dataset_diff",
    f"""WITH v1 AS (
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
  FROM documents),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN text || ' ' || text
              ELSE text END AS text,
         CAST(len(string_split(
           CASE WHEN doc_id % 11 = 0 THEN text || ' ' || text
                ELSE text END, ' ')) AS BIGINT) AS toks
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id + {_V2_ADD_SHIFT} AS doc_id, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
  FROM documents WHERE doc_id % 13 = 3),
m AS (
  SELECT CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN v1.text <> v2.text THEN 'changed'
              ELSE 'unchanged' END AS change,
         coalesce(v2.toks, 0) - coalesce(v1.toks, 0) AS tok_delta
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
SELECT change, count(*) AS n_docs,
       CAST(sum(tok_delta) AS BIGINT) AS token_delta
FROM m GROUP BY change""",
)
def cur_dataset_diff(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").select("doc_id", "text")
    toks = F.size(F.split("text", " ", -1)).cast("long")
    v1 = docs.select("doc_id", "text", toks.alias("toks"))
    modified = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat_ws(" ", "text", "text"),
    ).otherwise(F.col("text"))
    v2_kept = (
        docs.where(F.col("doc_id") % 7 != 0)
        .select("doc_id", modified.alias("text"))
        .select(
            "doc_id",
            "text",
            F.size(F.split("text", " ", -1)).cast("long").alias("toks"),
        )
    )
    v2_added = docs.where(F.col("doc_id") % 13 == 3).select(
        (F.col("doc_id") + _V2_ADD_SHIFT).alias("doc_id"),
        "text",
        toks.alias("toks"),
    )
    v2 = v2_kept.unionByName(v2_added)
    m = (
        v1.alias("a")
        .join(v2.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer")
        .select(
            F.when(F.col("a.doc_id").isNull(), "added")
            .when(F.col("b.doc_id").isNull(), "removed")
            .when(F.col("a.text") != F.col("b.text"), "changed")
            .otherwise("unchanged")
            .alias("change"),
            (
                F.coalesce(F.col("b.toks"), F.lit(0))
                - F.coalesce(F.col("a.toks"), F.lit(0))
            ).alias("tok_delta"),
        )
    )
    return m.groupBy("change").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok_delta").cast("long").alias("token_delta"),
    )


# ---------------------------------------------------------------------------
# Annotator agreement — Cohen's kappa between two quality signals the
# engine already computes: A = the heuristic quality score ≥ 0.45 (the
# gate's threshold), B = the perplexity-filter keep flag (not in the
# worst trigram-LM decile). The 2×2 confusion counts are exact
# integers from one join; kappa = (p_o − p_e)/(1 − p_e) is one double
# formula, nullif-guarded when chance agreement is exact. Kappa is what
# tells a labeling pipeline whether two cheap signals are redundant
# (κ→1), independent (κ→0), or contradictory (κ<0) — before anyone
# trusts a voting ensemble of them.
def _kappa_oracle() -> str:
    from ..operators.textstats import STOPWORDS

    return f"""WITH scored AS ({TRIGRAM_SCORES_SQL}),
r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY avg_logp, doc_id) AS rn,
         count(*) OVER () AS n
  FROM scored),
b AS (
  SELECT doc_id, rn > CAST(ceil(0.1 * n) AS BIGINT) AS keep_b
  FROM r),
w AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ({_duck_in_list(STOPWORDS)}))) AS DOUBLE)
           AS stop_hits
  FROM documents),
a AS (SELECT doc_id, {_DUCK_QUALITY} >= 0.45 AS keep_a FROM w),
conf AS (
  SELECT CAST(sum(CASE WHEN keep_a AND keep_b THEN 1 ELSE 0 END) AS DOUBLE) AS tt,
         CAST(sum(CASE WHEN keep_a AND NOT keep_b THEN 1 ELSE 0 END) AS DOUBLE) AS tf,
         CAST(sum(CASE WHEN NOT keep_a AND keep_b THEN 1 ELSE 0 END) AS DOUBLE) AS ft,
         CAST(sum(CASE WHEN NOT keep_a AND NOT keep_b THEN 1 ELSE 0 END) AS DOUBLE) AS ff
  FROM a JOIN b USING (doc_id))
SELECT CAST(tt AS BIGINT) AS both_keep, CAST(tf AS BIGINT) AS a_only,
       CAST(ft AS BIGINT) AS b_only, CAST(ff AS BIGINT) AS both_drop,
       round((((tt + ff) / (tt + tf + ft + ff)
              - ((tt + tf) * (tt + ft) + (ft + ff) * (tf + ff))
                / ((tt + tf + ft + ff) * (tt + tf + ft + ff)))
             / nullif(1.0
              - ((tt + tf) * (tt + ft) + (ft + ff) * (tf + ff))
                / ((tt + tf + ft + ff) * (tt + tf + ft + ff)), 0.0))
             * 1e9) / 1e9
         AS kappa
FROM conf"""


@register("cur_labeler_agreement", _kappa_oracle())
def cur_labeler_agreement(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.textstats import quality_expr

    docs = table(spark, sf, "documents")
    a = docs.select(
        "doc_id", (quality_expr(F.col("text")) >= 0.45).alias("keep_a")
    )
    b = cur_perplexity_filter(spark, sf).select(
        "doc_id", F.col("keep").alias("keep_b")
    )
    j = a.join(b, "doc_id")
    conf = j.agg(
        F.sum(F.when(F.col("keep_a") & F.col("keep_b"), 1).otherwise(0))
        .cast("double")
        .alias("tt"),
        F.sum(F.when(F.col("keep_a") & ~F.col("keep_b"), 1).otherwise(0))
        .cast("double")
        .alias("tf"),
        F.sum(F.when(~F.col("keep_a") & F.col("keep_b"), 1).otherwise(0))
        .cast("double")
        .alias("ft"),
        F.sum(
            F.when(~F.col("keep_a") & ~F.col("keep_b"), 1).otherwise(0)
        )
        .cast("double")
        .alias("ff"),
    )
    n = F.col("tt") + F.col("tf") + F.col("ft") + F.col("ff")
    po = (F.col("tt") + F.col("ff")) / n
    pe = (
        (F.col("tt") + F.col("tf")) * (F.col("tt") + F.col("ft"))
        + (F.col("ft") + F.col("ff")) * (F.col("tf") + F.col("ff"))
    ) / (n * n)
    return conf.select(
        F.col("tt").cast("long").alias("both_keep"),
        F.col("tf").cast("long").alias("a_only"),
        F.col("ft").cast("long").alias("b_only"),
        F.col("ff").cast("long").alias("both_drop"),
        dblround((po - pe) / F.nullif(1.0 - pe, F.lit(0.0)), 9).alias(
            "kappa"
        ),
    )


# ---------------------------------------------------------------------------
# Bresenham sampling — the deterministic way to take "37.4% of each
# language": rank docs within the group by a total order, keep row rn
# iff floor(rn·rate) > floor((rn−1)·rate). Every group's selected
# count is floor(n·rate) EXACTLY (the integer-boundary crossings in
# (0, n·rate]), evenly spread through the rank order — no RNG, no
# hash bias, reproducible on any engine/partitioning. The rate here is
# cur_mixture_weights' uniform-target rate, so this entry is the
# APPLY step of that plan. round(·,6)-quantized rate on both engines
# keeps the floor comparisons bit-identical.
@register(
    "cur_bresenham_sample",
    f"""WITH avail AS (
  SELECT lang,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang),
tot AS (
  SELECT CAST(sum(n_tokens) AS DOUBLE) AS total,
         CAST(count(*) AS DOUBLE) AS n_langs,
         CAST(sum(n_tokens) AS BIGINT) AS ti,
         CAST(count(*) AS BIGINT) AS li
  FROM avail),
rates AS (
  SELECT lang,
         least(1.0, {halfup_ratio_duck("ti", "li * n_tokens", 6)})
           AS rate
  FROM avail CROSS JOIN tot),
ranked AS (
  SELECT d.doc_id, d.lang, r.rate,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY d.doc_id) AS rn
  FROM documents d JOIN rates r USING (lang)),
kept AS (
  SELECT lang, rate, doc_id
  FROM ranked
  WHERE floor(rn * rate) > floor((rn - 1) * rate))
SELECT lang, count(*) AS n_kept,
       CAST(min(doc_id) AS BIGINT) AS first_kept,
       CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
FROM kept GROUP BY lang""",
)
def cur_bresenham_sample(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    avail = docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " ", -1)))
        .cast("long")
        .alias("n_tokens")
    )
    tot = avail.agg(
        F.sum("n_tokens").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("n_langs"),
        F.sum("n_tokens").alias("ti"),
        F.count(F.lit(1)).alias("li"),
    )
    # integer-exact HALF_UP rate (ROUND8 §12 class; r9 audit) — the
    # rate feeds floor() selection, so its last digit must be
    # cross-engine exact; least(1, halfup(x)) == halfup(least(1, x))
    # because halfup is monotone and fixes 1.0
    rates = avail.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.lit(1.0), halfup_ratio("ti", "li * n_tokens", 6)
        ).alias("rate"),
    )
    ranked = docs.join(F.broadcast(rates), "lang").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang").orderBy("doc_id")
        ),
    )
    kept = ranked.where(
        F.floor(F.col("rn") * F.col("rate"))
        > F.floor((F.col("rn") - 1) * F.col("rate"))
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").cast("long").alias("first_kept"),
        F.sum("doc_id").cast("long").alias("kept_id_sum"),
    )


# 'bat' is a substring of the fixture's frequent 'batch' — the
# engineered Scunthorpe collision; 'slow' appears as a real word.
_BLOCKLIST = ["bat", "slow"]


# ---------------------------------------------------------------------------
# Blocklist filter — both match disciplines on the same list:
# substring (LIKE %term%) and word-boundary (\bterm\b). The substring
# form flags every doc containing 'batch'; the boundary form flags
# only true 'bat'/'slow' words. `scunthorpe` marks docs the naive
# filter would wrongly drop — on a 100 TB corpus that column is the
# difference between trimming toxicity and deleting the cooking
# section. Patterns stay in the Java/RE2 common subset (\b, literal
# terms); map-only scan.
def _blocklist_sql() -> str:
    sub = " OR ".join(f"text LIKE '%{t}%'" for t in _BLOCKLIST)
    bound = " OR ".join(
        rf"regexp_matches(text, '\b{t}\b')" for t in _BLOCKLIST
    )
    return f"""SELECT doc_id,
       ({sub}) AS flagged_substr,
       ({bound}) AS flagged_word,
       ({sub}) AND NOT ({bound}) AS scunthorpe
FROM documents"""


@register("cur_blocklist_filter", _blocklist_sql())
def cur_blocklist_filter(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    sub = None
    bound = None
    for t in _BLOCKLIST:
        s_t = F.col("text").contains(t)
        b_t = F.col("text").rlike(rf"\b{t}\b")
        sub = s_t if sub is None else (sub | s_t)
        bound = b_t if bound is None else (bound | b_t)
    return docs.select(
        "doc_id",
        sub.alias("flagged_substr"),
        bound.alias("flagged_word"),
        (sub & ~bound).alias("scunthorpe"),
    )


# ---------------------------------------------------------------------------
# Population stability index — per source, PSI of its document-length
# decile distribution against the corpus: Σ (p_src − p_corp) ·
# ln(p_src/p_corp) over the corpus's own decile bins (so bins are
# equal-mass by construction and p_corp ≈ 0.1 each). Add-one-style
# smoothing (half a document) keeps empty cells finite; every ln is
# round(·,9)-quantized before the DECIMAL fold (the KL/trigram
# discipline). Convention: PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25
# act — a source that only publishes long docs lights up here before
# it skews the training mix.
_PSI_BINS = 10


@register(
    "cur_psi_sources",
    f"""WITH edges AS (
  SELECT ntile({_PSI_BINS}) OVER (
           ORDER BY n_chars NULLS FIRST, doc_id) AS bin,
         doc_id, source
  FROM documents),
corp AS (
  SELECT bin, CAST(count(*) AS DOUBLE) AS n_corp FROM edges GROUP BY bin),
src AS (
  SELECT source, bin, CAST(count(*) AS DOUBLE) AS n_src
  FROM edges GROUP BY source, bin),
grid AS (
  SELECT s.source, c.bin, c.n_corp,
         coalesce(x.n_src, 0.0) AS n_src,
         s.n_total
  FROM (SELECT source, CAST(count(*) AS DOUBLE) AS n_total
        FROM edges GROUP BY source) s
  CROSS JOIN corp c
  LEFT JOIN src x ON x.source = s.source AND x.bin = c.bin),
terms AS (
  SELECT source,
         CAST(round(
           (((n_src + 0.5) / (n_total + {_PSI_BINS} * 0.5)
            - (n_corp + 0.5)
              / ((SELECT sum(n_corp) FROM corp) + {_PSI_BINS} * 0.5))
           * (round(ln(((n_src + 0.5) / (n_total + {_PSI_BINS} * 0.5))
                 / ((n_corp + 0.5)
                    / ((SELECT sum(n_corp) FROM corp)
                       + {_PSI_BINS} * 0.5))) * 1e9) / 1e9)) * 1e9) / 1e9
           AS DECIMAL(20,9)) AS term
  FROM grid)
SELECT source, round(CAST(sum(term) AS DOUBLE), 9) AS psi,
       CAST(sum(CASE WHEN term <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_active_bins
FROM terms GROUP BY source""",
)
def cur_psi_sources(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranking import global_ntile

    docs = table(spark, sf, "documents")
    # equi-depth bins over EVERY document — an unbounded global rank,
    # so the distributed exact ntile (operators/ranking.py), not a
    # partition-less window
    edges = global_ntile(
        docs, _PSI_BINS, ["n_chars", "doc_id"], bucket_col="bin"
    ).select("source", "doc_id", "bin")
    corp = edges.groupBy("bin").agg(
        F.count(F.lit(1)).cast("double").alias("n_corp")
    )
    n_corp_total = corp.agg(
        F.sum("n_corp").alias("corp_total")
    )
    src = edges.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("double").alias("n_src")
    )
    totals = edges.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n_total")
    )
    grid = (
        totals.crossJoin(F.broadcast(corp))
        .join(src, ["source", "bin"], "left")
        .na.fill({"n_src": 0.0})
        .crossJoin(F.broadcast(n_corp_total))
    )
    smooth = _PSI_BINS * 0.5
    p_src = (F.col("n_src") + 0.5) / (F.col("n_total") + smooth)
    p_corp = (F.col("n_corp") + 0.5) / (F.col("corp_total") + smooth)
    term = (
        dblround(
            (p_src - p_corp) * dblround(F.log(p_src / p_corp), 9), 9
        )
    ).cast("decimal(20,9)")
    terms = grid.select("source", term.alias("term"))
    return terms.groupBy("source").agg(
        F.round(F.sum("term").cast("double"), 9).alias("psi"),
        F.sum(F.when(F.col("term") != 0, 1).otherwise(0))
        .cast("long")
        .alias("n_active_bins"),
    )


# ---------------------------------------------------------------------------
# Bitext length-ratio filter — candidate en↔de pairs (here: rank-
# aligned within each language, the deterministic stand-in for an
# aligner's output) gated on the character-length ratio band
# [0.5, 2.0]: outside it, the pair is almost surely a misalignment.
# Reports both sides' lengths, the ratio, and the keep flag — one
# rank window per language, one join on the rank, map-only math.
@register(
    "cur_bitext_ratio_filter",
    f"""WITH en AS (
  SELECT row_number() OVER (ORDER BY doc_id) AS rnk,
         doc_id AS en_id, length(text) AS en_len
  FROM documents WHERE lang = 'en'),
de AS (
  SELECT row_number() OVER (ORDER BY doc_id) AS rnk,
         doc_id AS de_id, length(text) AS de_len
  FROM documents WHERE lang = 'de')
SELECT en_id, de_id,
       CAST(en_len AS BIGINT) AS en_len,
       CAST(de_len AS BIGINT) AS de_len,
       {halfup_ratio_duck("en_len", "de_len", 9)} AS len_ratio,
       CAST(en_len AS DOUBLE) / de_len BETWEEN 0.5 AND 2.0 AS keep
FROM en JOIN de USING (rnk)""",
)
def cur_bitext_ratio_filter(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")

    def side(lang: str, id_alias: str, len_alias: str) -> DataFrame:
        from ..operators.ranking import global_row_number

        # position pairing ranks EVERY doc of the language — unbounded
        # global rank → the distributed exact form
        return global_row_number(
            docs.where(F.col("lang") == lang), ["doc_id"], rn_col="rnk"
        ).select(
            "rnk",
            F.col("doc_id").alias(id_alias),
            F.length("text").alias(len_alias),
        )

    en = side("en", "en_id", "en_len")
    de = side("de", "de_id", "de_len")
    # try_divide: a pair whose de side is EMPTY (length 0) has an
    # undefined ratio — NULL ratio and NULL keep on both engines
    # (DuckDB x/0 → NULL; NULL BETWEEN → NULL), instead of ANSI
    # aborting the job (parity_fuzz edge, seed 2)
    ratio = F.try_divide(F.col("en_len").cast("double"), F.col("de_len"))
    return en.join(de, "rnk").select(
        "en_id",
        "de_id",
        F.col("en_len").cast("long").alias("en_len"),
        F.col("de_len").cast("long").alias("de_len"),
        # integer-exact HALF_UP ratio; NULL on de_len = 0 keeps the
        # r7 try_divide contract (ROUND8 §12 class; r9 audit)
        halfup_ratio("en_len", "de_len", 9).alias("len_ratio"),
        ratio.between(0.5, 2.0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Mixture entropy — per language: Shannon entropy of the source mix
# (nats), its normalized form H/ln(n_sources), and the max-share
# sanity column. Quantized-ln decimal fold as everywhere; the single
# number a mix review reads first: normalized 1.0 means every source
# contributes evenly, values near 0 mean one source dominates.
@register(
    "cur_mix_entropy",
    f"""WITH c AS (
  SELECT lang, source, CAST(count(*) AS DOUBLE) AS n
  FROM documents GROUP BY lang, source),
t AS (SELECT lang, CAST(sum(n) AS DOUBLE) AS total,
             count(*) AS n_sources
      FROM c GROUP BY lang),
terms AS (
  SELECT c.lang, t.n_sources, n / total AS p,
         CAST(round(-(n / total) * ln(n / total) * 1e9) / 1e9
              AS DECIMAL(20,9)) AS h_term
  FROM c JOIN t ON t.lang = c.lang)
SELECT lang,
       CAST(max(n_sources) AS BIGINT) AS n_sources,
       round(CAST(sum(h_term) AS DOUBLE), 9) AS entropy_nats,
       {halfup_ratio_duck(
           "sum(h_term)",
           "CAST(round(ln(CAST(max(n_sources) AS DOUBLE)) * 1e9)"
           " / 1e9 AS DECIMAL(20,9))",
           9, 9, 9)}
         AS entropy_normalized,
       round(max(p) * 1e9) / 1e9 AS max_source_share
FROM terms GROUP BY lang""",
)
def cur_mix_entropy(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    c = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    t = c.groupBy("lang").agg(
        F.sum("n").cast("double").alias("total"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    p = F.col("n") / F.col("total")
    terms = c.join(F.broadcast(t), "lang").select(
        "lang",
        "n_sources",
        p.alias("p"),
        dblround(-p * F.log(p), 9).cast("decimal(20,9)").alias("h_term"),
    )
    return terms.groupBy("lang").agg(
        F.max("n_sources").cast("long").alias("n_sources"),
        F.round(F.sum("h_term").cast("double"), 9).alias(
            "entropy_nats"
        ),
        # a language with ONE source has log(1)=0 in the denominator —
        # normalized entropy is undefined (NULL, the try_divide
        # contract, stated inside halfup_ratio). The quotient itself is
        # the integer-exact HALF_UP of two 9-decimal values (ROUND8 §12
        # class; r9 audit catch): casting the round(ln,9) double to
        # DECIMAL(20,9) is loss-free on both engines because the double
        # sits within ~1e-25 of a 9-dp decimal, far from any midpoint.
        halfup_ratio(
            "sum(h_term)",
            "CAST(round(ln(CAST(max(n_sources) AS DOUBLE)) * 1e9)"
            " / 1e9 AS DECIMAL(20,9))",
            9,
            9,
            9,
        ).alias("entropy_normalized"),
        dblround(F.max("p"), 9).alias("max_source_share"),
    )
