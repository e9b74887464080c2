"""Text statistics and scalar-function queries — tokenization, n-gram and
language statistics, BM25, trigram language models (``text_*``) and
function semantics (``func_*``), each oracle-paired with DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exactmath import (
    dblround,
    halfup_mean,
    halfup_mean_duck,
    halfup_ratio,
    halfup_ratio_duck,
)
from ..operators.textstats import (
    BPE_ISH_PATTERN,
    LANG_MARKERS,
    STOPWORDS,
    fingerprints,
    language_id,
    pred_lang_expr,
    quality_scores,
    token_counts,
)
from .catalog import register, table
from .queries_curation import (
    _BEST,
    _HIT_EXPRS,
    _PRED,
    TRIGRAM_SCORES_SQL,
    _duck_in_list,
)


# ---------------------------------------------------------------------------
# Text analysis
@register(
    "text_token_count",
    f"""SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS BIGINT) AS bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents""",
)
def text_token_count_q(spark: SparkSession, sf: str) -> DataFrame:
    return token_counts(table(spark, sf, "documents"))


@register(
    "text_quality_score",
    f"""WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(list_filter(string_split(text, ' '),
              w -> w IN ({_duck_in_list(STOPWORDS)}))) AS DOUBLE) AS stop_hits
  FROM documents)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       (n_chars - (n_words - 1)) / n_words AS avg_word_len,
       stop_hits / n_words AS stopword_ratio,
       0.4 * least(1.0, n_words / 100.0)
       + least(0.3, 0.3 * (stop_hits / n_words) * 3.0)
       + 0.3 * greatest(0.0, 1.0 - least(1.0, abs((n_chars - (n_words - 1)) / n_words - 5.0) / 5.0))
         AS quality
FROM t""",
)
def text_quality_score_q(spark: SparkSession, sf: str) -> DataFrame:
    return quality_scores(table(spark, sf, "documents"))


@register(
    "text_lang_id",
    f"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
h AS (SELECT doc_id, {_HIT_EXPRS} FROM w)
SELECT doc_id,
       CASE WHEN {_BEST} > 0 THEN {_PRED} ELSE 'unk' END AS pred_lang,
       {_BEST} AS best_hits
FROM h""",
)
def text_lang_id_q(spark: SparkSession, sf: str) -> DataFrame:
    return language_id(table(spark, sf, "documents"))


@register(
    "text_fingerprint",
    """SELECT doc_id, md5(lower(text)) AS fp_exact,
       md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' ')) AS fp_bag
FROM documents""",
)
def text_fingerprint_q(spark: SparkSession, sf: str) -> DataFrame:
    return fingerprints(table(spark, sf, "documents"))


# Levenshtein edit-distance pairs (string-similarity scalar; bounded
# block). Distance is over the ASCII PROJECTION of the 30-codepoint
# prefix (every non-ASCII codepoint → '?'): Spark's levenshtein counts
# codepoints but DuckDB's counts UTF-8 BYTES, so raw non-ASCII text
# diverges between the engines (parity_fuzz edge profile; 'café' vs
# 'cafe' is 1 to Spark, 2 to DuckDB). The projection makes bytes ==
# codepoints, turning the oracle exact on ALL data — and both regex
# engines treat supplementary codepoints (emoji) as ONE class match.
@register(
    "text_edit_distance",
    r"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(
         regexp_replace(substring(a.text, 1, 30), '[^\x00-\x7F]', '?', 'g'),
         regexp_replace(substring(b.text, 1, 30), '[^\x00-\x7F]', '?', 'g')
       ) AS BIGINT) AS dist
FROM documents a JOIN documents b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE a.doc_id < 25 AND b.doc_id < 25""",
)
def text_edit_distance(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").where(F.col("doc_id") < 25)

    def _ascii30(col: str):
        return F.regexp_replace(
            F.substring(col, 1, 30), r"[^\x00-\x7F]", "?"
        )

    a = docs.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        _ascii30("text").alias("ta"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"),
        "lang",
        _ascii30("text").alias("tb"),
    )
    return (
        a.join(b, "lang")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb").cast("long").alias("dist"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus term statistics — global top-20 terms (len > 3) with
# deterministic tie-break. The explode→groupBy is the standard map-side-
# combinable shape; top-20 via TakeOrderedAndProject, no global sort.
@register(
    "text_term_stats",
    """WITH terms AS (
  SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents),
counted AS (
  SELECT term, count(*) AS n FROM terms WHERE length(term) > 3 GROUP BY term),
ranked AS (
  SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS rnk
  FROM counted)
SELECT term, n, CAST(rnk AS BIGINT) AS rnk FROM ranked WHERE rnk <= 20""",
)
def text_term_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    counted = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
        )
        .where(F.length("term") > 3)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counted.orderBy(F.desc("n"), "term").limit(20)
    # unpartitioned window is safe: runs on the 20 rows post-limit
    w = Window.orderBy(F.desc("n"), "term")
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (Okapi, k1=1.2 b=0.75) — the classic lexical
# scorer the reference's vector search replaced (micro-infobot/app.py:130
# uses Chroma similarity; BM25 is the corpus-statistics baseline every
# retrieval stack keeps for hybrid search). Pure Catalyst: tokenize →
# per-(doc,term) tf, per-doc length, per-term df — all map-side-combinable
# groupBys on uniform keys; corpus scalars (N, avgdl) are a 1-row
# broadcast cross-join, per-term df a broadcast (|query| rows). Top-10 is
# TakeOrderedAndProject (no global sort). Float parity: idf/tf products
# are per-term doubles from exact integer inputs; the only order-sensitive
# reduction is the per-doc sum over matched query terms, done as a
# term-sorted deterministic fold (F.aggregate ≡ list_aggregate 'sum').
# ln() is the one non-exact primitive: JVM Math.log is allowed 1 ulp of
# error and measurably differs from glibc's ln on some inputs (verified:
# ln(1.2699619771863118) differs in the last bit), so the surfaced score
# is quantized to 9 decimals on both engines and the top-10 ORDER BY
# runs on the quantized value with doc_id tiebreak — the cross-engine
# contract is exact while the 1e-16 libm drift stays far below the
# quantum. Verified at sf0.001/0.01/0.1 by tools/parity.
# At 100 TB: same plan — token explode is map-only, df/tf groupBys are
# partial-agg'd, scalars broadcast; no all-pairs anywhere.
_BM25_TERMS = ["hash", "spark", "vector"]


_BM25_K1 = 1.2


_BM25_B = 0.75


@register(
    "text_bm25_topk",
    f"""WITH tokens AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents)
  WHERE length(term) > 3),
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl),
q(term) AS (VALUES ('hash'), ('spark'), ('vector')),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tokens
  WHERE term IN (SELECT term FROM q) GROUP BY term),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tokens
  WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term),
scored AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
         * (CAST(tf AS DOUBLE) * ({_BM25_K1} + 1))
         / (CAST(tf AS DOUBLE) + {_BM25_K1}
            * (1 - {_BM25_B} + {_BM25_B} * CAST(dl.dl AS DOUBLE) / avgdl))
           AS term_score
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
          JOIN df ON tf.term = df.term
          CROSS JOIN corpus),
docs AS (
  SELECT doc_id,
         round(list_aggregate(list(term_score ORDER BY term), 'sum') * 1e9) / 1e9
           AS score,
         CAST(count(*) AS BIGINT) AS n_matched
  FROM scored GROUP BY doc_id)
SELECT doc_id, score, n_matched FROM docs
ORDER BY score DESC, doc_id LIMIT 10""",
)
def text_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    tokens = (
        table(spark, sf, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("term"),
        )
        .filter(F.length("term") > 3)
    )
    dl = tokens.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    qtok = tokens.filter(F.col("term").isin(_BM25_TERMS))
    df = qtok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    tf = qtok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "term",
            (
                F.log(
                    1
                    + ((F.col("n_docs") - F.col("df")).cast("double") + 0.5)
                    / (F.col("df").cast("double") + 0.5)
                )
                * (F.col("tf").cast("double") * (_BM25_K1 + 1))
                / (
                    F.col("tf").cast("double")
                    + _BM25_K1
                    * (
                        1
                        - _BM25_B
                        + _BM25_B * F.col("dl").cast("double") / F.col("avgdl")
                    )
                )
            ).alias("term_score"),
        )
    )
    docs = scored.groupBy("doc_id").agg(
        dblround(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("term", "term_score"))),
                    lambda s: s["term_score"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            9,
        ).alias("score"),
        F.count(F.lit(1)).cast("long").alias("n_matched"),
    )
    return docs.orderBy(F.desc("score"), "doc_id").limit(10)


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction — top-3 characteristic terms per document
# (the classic doc-summarization / topic-tagging primitive; complements
# text_bm25_topk, which ranks docs for a query — this ranks terms for a
# doc). Same tokenizer contract as BM25 (whitespace split, len > 3).
# idf = ln(N/df) quantized to 9 decimals (the catalog's ln() rule);
# tf·idf multiplies an exact integer by the quantized idf — one
# correctly-rounded multiply, engine-exact — then is re-quantized for
# the surfaced score. df/tf are map-side-combinable groupBys; the rank
# is WindowGroupLimit per doc. Scoped to doc_id < 50 to keep the
# catalog entry output bounded (the operator itself is corpus-wide).
@register(
    "text_tfidf_terms",
    """WITH tokens AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents)
  WHERE length(term) > 3),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tokens),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokens GROUP BY term),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens
       WHERE doc_id < 50 GROUP BY doc_id, term),
scored AS (
  SELECT tf.doc_id, tf.term,
         round((tf * (round(ln(n_docs / df) * 1e9) / 1e9)) * 1e9) / 1e9 AS score
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
SELECT doc_id, term, score, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rnk
  FROM scored)
WHERE rnk <= 3""",
)
def text_tfidf_terms(spark: SparkSession, sf: str) -> DataFrame:
    tokens = (
        table(spark, sf, "documents")
        .select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
        )
        .filter(F.length("term") > 3)
    )
    n = tokens.agg(
        F.countDistinct("doc_id").cast("double").alias("n_docs")
    )
    df = tokens.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    tf = (
        tokens.where(F.col("doc_id") < 50)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            dblround(
                F.col("tf")
                * dblround(F.log(F.col("n_docs") / F.col("df")), 9),
                9,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Text normalization — the canonicalization pass every curation pipeline
# runs before hashing/dedup: accent fold (explicit translate map — the
# SAME table on both engines, no locale/ICU dependence), casefold,
# whitespace collapse, trim. Output is the per-doc normalization record
# (hash of the canonical form + before/after lengths + changed flag).
# Map-only: zero shuffles at any scale.
_ACCENTS_FROM = "áàâäãåéèêëíìîïóòôöõúùûüñçýÁÀÂÄÃÅÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÑÇÝ"


_ACCENTS_TO = "aaaaaaeeeeiiiiooooouuuuncyAAAAAAEEEEIIIIOOOOOUUUUNCY"


@register(
    "text_normalize",
    f"""SELECT doc_id,
  md5(norm) AS norm_hash,
  length(text) AS n_chars_raw,
  length(norm) AS n_chars_norm,
  (norm <> text) AS changed
FROM (
  SELECT doc_id, text,
    trim(regexp_replace(
      translate(lower(text), '{_ACCENTS_FROM.lower()}', '{_ACCENTS_TO.lower()}'),
      '\\s+', ' ', 'g')) AS norm
  FROM documents)""",
)
def text_normalize(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.translate(
                F.lower(F.col("text")), _ACCENTS_FROM.lower(), _ACCENTS_TO.lower()
            ),
            r"\s+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        F.length("text").alias("n_chars_raw"),
        F.length(norm).alias("n_chars_norm"),
        (norm != F.col("text")).alias("changed"),
    )


@register("text_trigram_lm", TRIGRAM_SCORES_SQL)
def text_trigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import spread

    docs0 = table(spark, sf, "documents")
    docs = spread(docs0, "doc_id")
    grams = docs.where(F.length("text") >= 3).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - 2),
                lambda i: F.col("text").substr(i, F.lit(3)),
            )
        ).alias("g"),
    )
    carriers = grams.groupBy("g", "doc_id").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    # total gram occurrences without a second explode: every qualifying
    # doc contributes exactly length-2 trigrams
    tot = docs0.where(F.length("text") >= 3).agg(
        F.sum(F.length("text") - 2).cast("double").alias("total")
    )
    cnt = F.sum("n_occ").over(Window.partitionBy("g"))
    scored = (
        carriers.withColumn("cnt", cnt)
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_occ",
            dblround(F.log(F.col("cnt") / F.col("total")), 9)
            .cast("decimal(20,9)")
            .alias("logp"),
        )
    )
    # The mean is rounded HALF_UP on the EXACT RATIONAL, in integer
    # arithmetic both engines perform identically: sum(logp) carries
    # exactly 9 decimals, so sum*1e9 is an exact integer (decimal
    # precision reduction on the product is loss-free because the value
    # is integral), and sign*((2|u|+n) div (2n)) is the HALF_UP
    # quotient. round(double, 9) was NOT cross-engine stable here:
    # Spark rounds the exact binary double while DuckDB multiplies by
    # 1e9 first and rounds the inflated product — at a half boundary
    # (caught by parity_fuzz chunk/s2 on the bigram sibling) the two
    # disagree by 1e-9. decimal(10,0) keeps logp*n_occ inside
    # precision 38 (exact).
    return scored.groupBy("doc_id").agg(
        F.sum("n_occ").alias("n_trigrams"),
        (
            F.expr(
                "CAST(CASE WHEN sum(logp * CAST(n_occ AS DECIMAL(10,0)))"
                " < 0 THEN -1 ELSE 1 END"
                " * ((2 * CAST(abs(sum(logp * CAST(n_occ AS"
                " DECIMAL(10,0)))) * 1000000000 AS DECIMAL(38,0))"
                " + sum(n_occ)) div (2 * sum(n_occ))) AS DOUBLE)"
            )
            / F.lit(1e9)
        ).alias("avg_logp"),
    )


# ---------------------------------------------------------------------------
# PMI co-occurrence — the corpus association measure under word
# embeddings and collocation mining: for word pairs sharing a document,
# pmi = ln(df_xy · N / (df_x · df_y)) over PRESENCE counts. The pair
# join is per-document (distinct words self-joined within doc_id) —
# bounded by per-doc vocabulary, never the global vocab square; df
# floors (pair df >= 5) keep noise pairs out. All ln() arguments are
# exact small-integer ratios; the surfaced pmi is round(·,9).
@register(
    "text_pmi_pairs",
    """WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
df AS (SELECT w, count(*) AS dfw FROM tok GROUP BY w),
pairs AS (
  SELECT a.w AS w1, b.w AS w2, count(*) AS df_xy
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY a.w, b.w
  HAVING count(*) >= 5)
SELECT w1, w2, CAST(df_xy AS BIGINT) AS df_xy,
       round(ln(df_xy * n_docs / (d1.dfw * d2.dfw)) * 1e9) / 1e9 AS pmi
FROM pairs
JOIN df d1 ON pairs.w1 = d1.w
JOIN df d2 ON pairs.w2 = d2.w
CROSS JOIN n""",
)
def text_pmi_pairs(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).distinct()
    n = docs.agg(
        F.count_distinct("doc_id").cast("double").alias("n_docs")
    )
    df = tok.groupBy("w").agg(F.count(F.lit(1)).alias("dfw"))
    a = tok.alias("a")
    b = tok.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.w") < F.col("b.w")),
        )
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count(F.lit(1)).alias("df_xy"))
        .where(F.col("df_xy") >= 5)
    )
    d1 = df.select(F.col("w").alias("w1"), F.col("dfw").alias("df1"))
    d2 = df.select(F.col("w").alias("w2"), F.col("dfw").alias("df2"))
    return (
        pairs.join(d1, "w1")
        .join(d2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("df_xy").cast("long").alias("df_xy"),
            dblround(
                F.log(
                    F.col("df_xy")
                    * F.col("n_docs")
                    / (F.col("df1") * F.col("df2"))
                ),
                9,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Python UDTF + LATERAL — per-document term vector as a table function.
# The UDTF is the API-surface exercise (reference §2.10: text → rows,
# the shape of ``extraer_titulos``); the engine's PRODUCTION tokenizer
# stays the pure-expression explode/split path (JVM-side, codegen'd).
# A row-at-a-time Python UDTF is the slow lane and is priced
# accordingly: this entry is capability coverage, not a hot-path
# recommendation. Contract: one row per distinct single-space-separated
# word per document with its in-document count — deterministic and
# exactly SQL-mirrorable.
def _make_termvec_udtf():
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, n int")
    class TermVec:
        def eval(self, text):  # noqa: D102 — UDTF contract
            from collections import Counter

            counts = Counter(
                w for w in (text or "").split(" ") if w
            )
            for w in sorted(counts):
                yield w, counts[w]

    return TermVec


@register(
    "func_udtf_termvec",
    """SELECT doc_id, w AS word, CAST(count(*) AS INTEGER) AS n
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents)
WHERE w <> ''
GROUP BY doc_id, w""",
)
def func_udtf_termvec(spark: SparkSession, sf: str) -> DataFrame:
    spark.udtf.register("term_vec", _make_termvec_udtf())
    table(spark, sf, "documents").createOrReplaceTempView(
        "_udtf_docs_src"
    )
    return spark.sql(
        """SELECT d.doc_id, t.word, t.n
           FROM _udtf_docs_src d, LATERAL term_vec(d.text) t"""
    )


# ---------------------------------------------------------------------------
# mapInArrow — per-document byte accounting. The batch iterator yields
# RecordBatches straight from the scan's Arrow buffers; utf8_length and
# binary_length are pyarrow.compute kernels (C++, SIMD) — no pandas
# Series is ever built. Map-only: no shuffle, parallel per input
# partition, exactly the shape of a 100 TB corpus size audit.
def _bytestats_batches(batches):
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        text = b.column("text")
        yield pa.RecordBatch.from_arrays(
            [
                b.column("doc_id"),
                pc.cast(pc.utf8_length(text), pa.int64()),
                pc.cast(
                    pc.binary_length(pc.cast(text, pa.binary())),
                    pa.int64(),
                ),
            ],
            names=["doc_id", "n_chars", "n_bytes"],
        )


@register(
    "text_arrow_bytestats",
    """SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(strlen(text) AS BIGINT) AS n_bytes
FROM documents""",
)
def text_arrow_bytestats(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        _bytestats_batches, "doc_id long, n_chars long, n_bytes long"
    )


# ---------------------------------------------------------------------------
# applyInArrow — per-language corpus rollup as a grouped Arrow table
# function: each language's documents arrive as ONE pyarrow.Table and
# reduce to a single stats row with pyarrow.compute aggregates (exact
# int64 sums — no float fold anywhere). The groupBy shuffles on lang
# (low cardinality — at real scale pre-aggregate per partition first;
# here the grouped-Arrow API contract is the point).
def _lang_rollup(table_):
    import pyarrow as pa
    import pyarrow.compute as pc

    text = table_.column("text")
    chars = pc.cast(pc.utf8_length(text), pa.int64())
    bytes_ = pc.cast(
        pc.binary_length(pc.cast(text, pa.binary())), pa.int64()
    )
    return pa.table(
        {
            "lang": [table_.column("lang")[0].as_py()],
            "n_docs": [table_.num_rows],
            "total_chars": [pc.sum(chars).as_py()],
            "total_bytes": [pc.sum(bytes_).as_py()],
        },
        schema=pa.schema(
            [
                ("lang", pa.string()),
                ("n_docs", pa.int64()),
                ("total_chars", pa.int64()),
                ("total_bytes", pa.int64()),
            ]
        ),
    )


@register(
    "text_arrow_lang_rollup",
    """SELECT lang,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
FROM documents
GROUP BY lang""",
)
def text_arrow_lang_rollup(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").select("lang", "text")
    return docs.groupBy("lang").applyInArrow(
        _lang_rollup,
        "lang string, n_docs long, total_chars long, total_bytes long",
    )


# ---------------------------------------------------------------------------
# §2.8 higher-order functions — every array lambda primitive in one
# audited projection. All folds are left-to-right in array order and all
# FLOAT elements are cast to DOUBLE before arithmetic (exact), so every
# output is bit-reproducible across engines. Map-only: no shuffle, no
# Python boundary; at 100 TB this is a pure scan+project stage.
@register(
    "func_hof_battery",
    """SELECT vec_id,
       CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.0))
            AS BIGINT) AS n_pos,
       len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.5)) > 0
         AS any_gt_half,
       len(list_filter(embedding, x -> CAST(x AS DOUBLE) <= 0.0)) = 0
         AS all_pos,
       list_aggregate(list_transform(embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS sum_sq,
       list_aggregate(list_transform(embedding,
           x -> abs(CAST(x AS DOUBLE))), 'sum') AS l1,
       list_aggregate(list_transform(
           list_zip(embedding, list_reverse(embedding)),
           z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')
         AS rev_dot
FROM embeddings""",
)
def func_hof_battery(spark: SparkSession, sf: str) -> DataFrame:
    e = F.col("embedding")
    as_d = lambda x: x.cast("double")  # noqa: E731
    return table(spark, sf, "embeddings").select(
        "vec_id",
        F.size(F.filter(e, lambda x: as_d(x) > 0.0))
        .cast("long")
        .alias("n_pos"),
        F.exists(e, lambda x: as_d(x) > 0.5).alias("any_gt_half"),
        F.forall(e, lambda x: as_d(x) > 0.0).alias("all_pos"),
        F.aggregate(
            F.transform(e, lambda x: as_d(x) * as_d(x)),
            F.lit(0.0),
            lambda s, x: s + x,
        ).alias("sum_sq"),
        F.aggregate(
            F.transform(e, lambda x: F.abs(as_d(x))),
            F.lit(0.0),
            lambda s, x: s + x,
        ).alias("l1"),
        F.aggregate(
            F.zip_with(e, F.reverse(e), lambda x, y: as_d(x) * as_d(y)),
            F.lit(0.0),
            lambda s, x: s + x,
        ).alias("rev_dot"),
    )


# ---------------------------------------------------------------------------
# Distribution-drift terms — per-term KL contributions between the
# English and German unigram distributions (add-one smoothing over the
# union vocabulary): contrib(t) = p_en(t) · ln(p_en(t)/p_de(t)),
# surfaced as the top-20 largest contributors. This is the drift audit
# that answers WHICH terms moved. Determinism: counts and vocab size
# are exact integers; the single ln() is round(·,9)-quantized (the
# trigram-LM discipline — ln carries a 1-ulp JVM/glibc license) and the
# product round(·,12)-quantized, so ordering and values agree across
# engines. Top-20 is TakeOrderedAndProject with a term tiebreak.
@register(
    "text_drift_terms",
    """WITH words AS (
  SELECT lang, unnest(string_split(text, ' ')) AS term
  FROM documents WHERE lang IN ('en', 'de')),
freq AS (
  SELECT term,
         count(CASE WHEN lang = 'en' THEN 1 END) AS c_en,
         count(CASE WHEN lang = 'de' THEN 1 END) AS c_de
  FROM words WHERE term <> '' GROUP BY term),
tot AS (
  SELECT sum(c_en) AS t_en, sum(c_de) AS t_de, count(*) AS v FROM freq),
probs AS (
  SELECT term,
         CAST(c_en + 1 AS DOUBLE) / CAST(t_en + v AS DOUBLE) AS p_en,
         CAST(c_de + 1 AS DOUBLE) / CAST(t_de + v AS DOUBLE) AS p_de
  FROM freq, tot)
SELECT term, p_en, p_de,
       round((p_en * (round(ln(p_en / p_de) * 1e9) / 1e9)) * 1e12)
         / 1e12 AS kl_contrib
FROM probs
ORDER BY kl_contrib DESC, term ASC LIMIT 20""",
)
def text_drift_terms(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").where(
        F.col("lang").isin("en", "de")
    )
    words = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    freq = words.groupBy("term").agg(
        F.count(F.when(F.col("lang") == "en", 1)).alias("c_en"),
        F.count(F.when(F.col("lang") == "de", 1)).alias("c_de"),
    )
    tot = freq.agg(
        F.sum("c_en").alias("t_en"),
        F.sum("c_de").alias("t_de"),
        F.count(F.lit(1)).alias("v"),
    )
    probs = freq.crossJoin(F.broadcast(tot)).select(
        "term",
        (
            (F.col("c_en") + 1).cast("double")
            / (F.col("t_en") + F.col("v")).cast("double")
        ).alias("p_en"),
        (
            (F.col("c_de") + 1).cast("double")
            / (F.col("t_de") + F.col("v")).cast("double")
        ).alias("p_de"),
    )
    return (
        probs.select(
            "term",
            "p_en",
            "p_de",
            dblround(
                F.col("p_en")
                * dblround(F.log(F.col("p_en") / F.col("p_de")), 9),
                12,
            ).alias("kl_contrib"),
        )
        .orderBy(F.desc("kl_contrib"), F.asc("term"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Regex battery — the subset Java regex (Spark executors) and RE2
# (DuckDB, Go/Rust engines) evaluate identically: ASCII character
# classes, alternation, bounded quantifiers, word boundaries, global
# replace. Lookahead/lookbehind and backreferences are deliberately
# absent (RE2 rejects them); anything an engine-portable pipeline ships
# should stay inside this subset, and this entry is the executable
# statement of it. Map-only, whole-stage codegen, no shuffle.
@register(
    "func_regexp_battery",
    r"""SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT)
         AS n_lower_runs,
       CAST(len(regexp_extract_all(text, '\b[A-Z][a-z]*'))
            AS INT) AS n_cap_words,
       regexp_extract(text, '[a-zA-Z]{8,}') AS first_long_word,
       substr(regexp_replace(text, '[aeiou]', '', 'g'), 1, 24)
         AS devoweled_prefix
FROM documents""",
)
def func_regexp_battery(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+"), 0)).alias(
            "n_lower_runs"
        ),
        F.size(
            F.regexp_extract_all("text", F.lit(r"\b[A-Z][a-z]*"), 0)
        ).alias("n_cap_words"),
        F.regexp_extract("text", r"[a-zA-Z]{8,}", 0).alias(
            "first_long_word"
        ),
        F.regexp_replace("text", r"[aeiou]", "")
        .substr(1, 24)
        .alias("devoweled_prefix"),
    )


# ---------------------------------------------------------------------------
# Unicode battery — the codepoint-vs-byte corners, pinned on literal
# multibyte rows (the parquet fixtures are ASCII; the VALUES rows are
# the adversarial input): length() counts CODEPOINTS on both engines,
# octet_length counts UTF-8 bytes, substr slices at codepoint
# boundaries (never mid-sequence), and upper() maps é→É identically.
# What is deliberately ABSENT: locale-sensitive case folding (Turkish
# dotless-i differs by collation — rel_collation_ci territory) and
# grapheme clusters (a skin-tone emoji is >1 codepoint on BOTH engines;
# consumers needing grapheme semantics segment in the application
# layer). The portability rule this entry states: pipelines may rely on
# codepoint+byte semantics, never on grapheme or locale behavior.
_UNI_ROWS = [
    (1, "plain ascii"),
    (2, "café crème"),
    (3, "naïve — em"),
    (4, "日本語テキスト"),
    (5, "mixed русский text"),
]


def _uni_values_sql() -> str:
    rows = ", ".join(f"({i}, '{s}')" for i, s in _UNI_ROWS)
    return f"(VALUES {rows}) t(row_id, s)"


@register(
    "func_unicode_battery",
    f"""SELECT row_id,
       CAST(length(s) AS INT) AS n_codepoints,
       CAST(octet_length(encode(s)) AS INT) AS n_bytes,
       upper(s) AS upped,
       substr(s, 2, 5) AS mid_slice
FROM {_uni_values_sql()}""",
)
def func_unicode_battery(spark: SparkSession, sf: str) -> DataFrame:
    df = spark.createDataFrame(_UNI_ROWS, "row_id int, s string")
    return df.select(
        "row_id",
        F.length("s").cast("int").alias("n_codepoints"),
        F.octet_length("s").cast("int").alias("n_bytes"),
        F.upper("s").alias("upped"),
        F.substring("s", 2, 5).alias("mid_slice"),
    )


# ---------------------------------------------------------------------------
# Zipf slope — regress ln(freq) on ln(rank) over the top-200 terms:
# exact OLS from quantized log sums (the rel_regression_moments
# discipline: each ln is round(·,9)-quantized, sums fold in
# DECIMAL, ONE double formula at the end). Rank comes from a
# (cnt DESC, token) total order, so both engines rank ties
# identically; the 200-row regression itself is a single reduce. A
# healthy natural-language corpus lands near slope −1 (Zipf's law);
# the fixture's synthetic vocabulary lands where it lands — the PIN is
# cross-engine equality, the SIGNAL is drift round-over-round.
_ZIPF_TOP = 200


@register(
    "text_zipf_slope",
    f"""WITH terms AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
freq AS (
  SELECT w, count(*) AS cnt FROM terms WHERE w <> '' GROUP BY w),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk
  FROM freq),
top AS (
  SELECT CAST(round(ln(rnk) * 1e9) / 1e9 AS DECIMAL(20,9)) AS x,
         CAST(round(ln(cnt) * 1e9) / 1e9 AS DECIMAL(20,9)) AS y
  FROM ranked WHERE rnk <= {_ZIPF_TOP}),
sums AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy
  FROM top)
SELECT CAST(n AS BIGINT) AS n_terms,
       round(((sxy - sx * sy / n) / (sxx - sx * sx / n)) * 1e9) / 1e9
         AS zipf_slope,
       round((sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
             * sx / n) * 1e9) / 1e9 AS intercept
FROM sums""",
)
def text_zipf_slope(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    terms = docs.select(
        F.explode(F.split("text", " ", -1)).alias("w")
    ).where(F.col("w") != "")
    freq = terms.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = freq.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "w"))
        .alias("rnk"),
    ).where(F.col("rnk") <= _ZIPF_TOP)
    top = ranked.select(
        dblround(F.log("rnk"), 9).cast("decimal(20,9)").alias("x"),
        dblround(F.log("cnt"), 9).cast("decimal(20,9)").alias("y"),
    )
    sums = top.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sxy"),
    )
    slope = (
        F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    ) / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
    return sums.select(
        F.col("n").cast("long").alias("n_terms"),
        dblround(slope, 9).alias("zipf_slope"),
        dblround(
            F.col("sy") / F.col("n") - slope * F.col("sx") / F.col("n"), 9
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty — per document, the share of its DISTINCT character
# trigrams found in no other document: novelty 1.0 is wholly unique
# content, novelty ~0 is boilerplate. Corpus document frequency comes
# from one distinct + one groupBy over the exploded grams (the
# text_trigram_lm shapes); the per-doc rollup divides two exact
# integers once.
@register(
    "text_ngram_novelty",
    f"""WITH grams AS (
  SELECT DISTINCT doc_id, substr(text, i, 3) AS g
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text) - 2)) AS i
        FROM documents WHERE length(text) >= 3)),
df AS (SELECT g, count(*) AS doc_freq FROM grams GROUP BY g)
SELECT doc_id,
       count(*) AS n_distinct_grams,
       CAST(sum(CASE WHEN doc_freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique_grams,
       {halfup_mean_duck("sum(CASE WHEN doc_freq = 1 THEN 1 ELSE 0 END)",
                         "count(*)", 9, integral_sum=True)} AS novelty
FROM grams JOIN df USING (g)
GROUP BY doc_id""",
)
def text_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    grams = (
        docs.where(F.length("text") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("text") - 2),
                    lambda i: F.col("text").substr(i, F.lit(3)),
                )
            ).alias("g"),
        )
        .distinct()
    )
    df = grams.groupBy("g").agg(F.count(F.lit(1)).alias("doc_freq"))
    joined = grams.join(df, "g")
    # novelty is a round(sum/count) ratio of exact integers —
    # integer-exact HALF_UP (ROUND8 §12 class; r9 audit catch)
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_distinct_grams"),
        F.sum(F.when(F.col("doc_freq") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_unique_grams"),
        halfup_mean(
            "sum(CASE WHEN doc_freq = 1 THEN 1 ELSE 0 END)",
            "count(1)",
            9,
            integral_sum=True,
        ).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# Compression ratio — zlib(level 6) bytes-out / bytes-in per document:
# repetitive text compresses far below natural prose, making this the
# cheap repetition detector Gopher-style pipelines gate on. zlib is
# genuinely outside SQL, so this is the sanctioned-Arrow-lane shape
# (mapInPandas, batch-at-a-time, level pinned for determinism) and the
# entry is ROWS-ONLY by the driver contract; unit tests pin exact
# ratios against the reference zlib and the repetitive≪prose ordering.
_ZLIB_LEVEL = 6


def compression_ratio(docs: DataFrame) -> DataFrame:
    """(doc_id, n_raw_bytes, n_zlib_bytes, ratio) via Arrow batches."""
    import pandas as pd

    def score(batches):
        import zlib

        for pdf in batches:
            raw = pdf["text"].fillna("").str.encode("utf-8")
            nraw = raw.str.len().astype("int64")
            nz = raw.map(
                lambda b: len(zlib.compress(b, _ZLIB_LEVEL))
            ).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_raw_bytes": nraw,
                    "n_zlib_bytes": nz,
                    "ratio": (nz / nraw.where(nraw > 0)).round(9),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        score,
        "doc_id long, n_raw_bytes long, n_zlib_bytes long, ratio double",
    )


@register("text_compression_ratio")  # rows-only: zlib is not SQL
def text_compression_ratio(spark: SparkSession, sf: str) -> DataFrame:
    return compression_ratio(table(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# Sentence statistics — the fixture text carries no punctuation
# (FIXTURES.md), so sentence boundaries are INJECTED deterministically
# via literal replace() stated identically on both engines (the
# sectioning-query discipline), then split on '[.!?] ' — no lookbehind
# (RE2 rejects it; func_regexp_battery's portability rule). Per doc:
# sentence count, average words per sentence (exact integer division,
# round 9), and the longest sentence's word count — the readability
# trio a quality gate thresholds on.
_SENT_SPIKE_SQL = (
    "REPLACE(REPLACE(text, ' table ', '. Table '), "
    "' spark ', '! Spark ')"
)


# avg words/sentence is a round(sum/count) mean — stated integer-exact
# on both engines (ROUND8 §12: round(double, 9) splits at half
# boundaries; at n_sentences = 5120 with an adversarial word total the
# exact rational lands within an ulp of a half — pinned in
# tests/test_half_boundary.py)
_AVG_WORDS_DUCK = halfup_mean_duck(
    "sum(n_words)", "count(*)", 9, integral_sum=True
)


@register(
    "text_sentence_stats",
    f"""WITH spiked AS (
  SELECT doc_id, {_SENT_SPIKE_SQL} AS t FROM documents),
sents AS (
  SELECT doc_id, s
  FROM (SELECT doc_id,
               unnest(string_split_regex(t, '[.!?] ')) AS s
        FROM spiked)
  WHERE length(s) > 0),
words AS (
  SELECT doc_id, CAST(len(string_split(s, ' ')) AS BIGINT) AS n_words
  FROM sents)
SELECT doc_id, count(*) AS n_sentences,
       {_AVG_WORDS_DUCK} AS avg_sentence_words,
       CAST(max(n_words) AS BIGINT) AS longest_sentence_words
FROM words GROUP BY doc_id""",
)
def text_sentence_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    spiked = F.replace(
        F.replace(F.col("text"), F.lit(" table "), F.lit(". Table ")),
        F.lit(" spark "),
        F.lit("! Spark "),
    )
    sents = docs.select(
        "doc_id",
        F.explode(F.split(spiked, r"[.!?] ")).alias("s"),
    ).where(F.length("s") > 0)
    words = sents.select(
        "doc_id",
        F.size(F.split("s", " ", -1)).cast("long").alias("n_words"),
    )
    return words.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sentences"),
        halfup_mean("sum(n_words)", "count(1)", 9, integral_sum=True).alias(
            "avg_sentence_words"
        ),
        F.max("n_words").cast("long").alias("longest_sentence_words"),
    )


_PAIR_CAP = 25


# ---------------------------------------------------------------------------
# Set-similarity battery — one intersection, three normalizations:
# Jaccard |A∩B|/|A∪B| (symmetric, the dedup standard), Dice
# 2|A∩B|/(|A|+|B|) (the F1 of sets), overlap |A∩B|/min(|A|,|B|)
# (containment-biased — near 1 when one doc embeds the other, which
# Jaccard dilutes). Word sets are array_distinct over the whitespace
# split; all counts exact integers, each ratio one division, round 9.
# The pair block is the bounded same-lang a<b slice used by
# text_edit_distance — at corpus scale the block comes from LSH
# candidates, not enumeration.
@register(
    "text_set_similarity_battery",
    f"""WITH w AS (
  SELECT doc_id, lang,
         list_distinct(string_split(text, ' ')) AS ws
  FROM documents WHERE doc_id < {_PAIR_CAP} AND text IS NOT NULL),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS n_inter,
         CAST(len(a.ws) AS BIGINT) AS n_a,
         CAST(len(b.ws) AS BIGINT) AS n_b
  FROM w a JOIN w b ON a.lang = b.lang AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, n_inter,
       {halfup_ratio_duck("n_inter", "n_a + n_b - n_inter", 9)}
         AS jaccard,
       {halfup_ratio_duck("2 * n_inter", "n_a + n_b", 9)} AS dice,
       {halfup_ratio_duck("n_inter", "least(n_a, n_b)", 9)}
         AS overlap_coef
FROM pairs""",
)
def text_set_similarity_battery(spark: SparkSession, sf: str) -> DataFrame:
    # NULL-text docs are excluded on BOTH engines: DuckDB's
    # list_intersect(NULL, x) yields 0 while Spark's array_intersect
    # propagates NULL (edge-fuzz NULL-text catch, r9)
    docs = table(spark, sf, "documents").where(
        (F.col("doc_id") < _PAIR_CAP) & F.col("text").isNotNull()
    )
    w = docs.select(
        "doc_id",
        "lang",
        F.array_distinct(F.split("text", " ", -1)).alias("ws"),
    )
    a = w.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("ws").alias("wa"),
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("ws").alias("wb"),
    )
    pairs = a.join(
        b,
        (F.col("lang_a") == F.col("lang_b"))
        & (F.col("doc_a") < F.col("doc_b")),
    ).select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("wa", "wb")).cast("long").alias(
            "n_inter"
        ),
        F.size("wa").cast("long").alias("n_a"),
        F.size("wb").cast("long").alias("n_b"),
    )
    # integer-exact HALF_UP ratios (ROUND8 §12 class; r9 audit)
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_inter",
        halfup_ratio("n_inter", "n_a + n_b - n_inter", 9).alias(
            "jaccard"
        ),
        halfup_ratio("2 * n_inter", "n_a + n_b", 9).alias("dice"),
        halfup_ratio("n_inter", "least(n_a, n_b)", 9).alias(
            "overlap_coef"
        ),
    )


# ---------------------------------------------------------------------------
# Unicode script mix — character counts per script over literal
# multibyte rows (fixtures are ASCII; func_unicode_battery's VALUES
# idiom). The SAME Unicode property is spelled differently per engine —
# Java ``\p{IsLatin}`` / RE2 ``\p{Latin}`` — so unlike
# func_regexp_battery (whose rule is "identical pattern text"), this
# entry's rule is "engine-local spelling, parity-certified meaning".
_SCRIPT_ROWS = [
    (1, "hello world"),
    (2, "привет мир"),
    (3, "日本語 text"),
    (4, "mixed: abcабв日本 12"),
    (5, ""),
]


def _script_values_sql() -> str:
    rows = ", ".join(f"({i}, '{s}')" for i, s in _SCRIPT_ROWS)
    return f"(VALUES {rows}) t(row_id, s)"


@register(
    "text_script_mix",
    rf"""SELECT row_id,
       CAST(len(regexp_extract_all(s, '\p{{Latin}}')) AS INT)
         AS n_latin,
       CAST(len(regexp_extract_all(s, '\p{{Cyrillic}}')) AS INT)
         AS n_cyrillic,
       CAST(len(regexp_extract_all(s, '\p{{Han}}')) AS INT) AS n_han,
       CAST(len(regexp_extract_all(s, '[0-9]')) AS INT) AS n_digit
FROM {_script_values_sql()}""",
)
def text_script_mix(spark: SparkSession, sf: str) -> DataFrame:
    df = spark.createDataFrame(_SCRIPT_ROWS, "row_id int, s string")

    def n_matches(pattern: str):
        return F.size(F.regexp_extract_all("s", F.lit(pattern), 0)).cast(
            "int"
        )

    return df.select(
        "row_id",
        n_matches(r"\p{IsLatin}").alias("n_latin"),
        n_matches(r"\p{IsCyrillic}").alias("n_cyrillic"),
        n_matches(r"\p{IsHan}").alias("n_han"),
        n_matches(r"[0-9]").alias("n_digit"),
    )


# ---------------------------------------------------------------------------
# Language-ID margin — the per-lang marker hit counts sorted
# descending give (top1, top2); margin = top1 − top2 is tie-robust by
# construction (a tied argmax has margin 0 without naming which lang
# "won"). `confident` gates on margin ≥ 2 AND a nonzero best — the
# routing rule: confident docs take the cheap classifier's label,
# the rest escalate. Sorting a 4-element array per row is whole-stage
# codegen; pred_lang reuses the shared argmax expression so the label
# agrees with text_lang_id exactly.
_MARGIN_MIN = 2


def _margin_oracle() -> str:
    hits_list = ", ".join(f"hits_{lang}" for lang in LANG_MARKERS)
    return f"""WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
h AS (SELECT doc_id, {_HIT_EXPRS} FROM w),
s AS (
  SELECT doc_id,
         CASE WHEN {_BEST} > 0 THEN {_PRED} ELSE 'unk' END AS pred_lang,
         list_sort([{hits_list}], 'DESC') AS sorted_hits
  FROM h)
SELECT doc_id, pred_lang,
       sorted_hits[1] AS best_hits,
       sorted_hits[2] AS second_hits,
       sorted_hits[1] - sorted_hits[2] AS margin,
       sorted_hits[1] > 0
         AND sorted_hits[1] - sorted_hits[2] >= {_MARGIN_MIN}
         AS confident
FROM s"""


@register("text_lang_margin", _margin_oracle())
def text_lang_margin(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    words = F.split("text", " ")
    def _hits(markers):
        # closure factory: F.filter treats a 2-arg lambda as
        # (element, index) — bind the marker list outside instead
        return F.size(
            F.filter(words, lambda w: w.isin(*markers))
        ).cast("long")

    hits = [_hits(markers) for markers in LANG_MARKERS.values()]
    sorted_hits = F.sort_array(F.array(*hits), asc=False)
    pred, _best = pred_lang_expr(F.col("text"))
    top1 = sorted_hits.getItem(0)
    top2 = sorted_hits.getItem(1)
    return docs.select(
        "doc_id",
        pred.alias("pred_lang"),
        top1.alias("best_hits"),
        top2.alias("second_hits"),
        (top1 - top2).alias("margin"),
        ((top1 > 0) & (top1 - top2 >= _MARGIN_MIN)).alias("confident"),
    )


# ---------------------------------------------------------------------------
# Flesch-Kincaid grade — 0.39·(words/sentences) + 11.8·(syllables/
# words) − 15.59, with syllables approximated by vowel groups
# ([aeiouy]+ runs per word — the standard cheap proxy) and sentences
# from the injected-punctuation convention (text_sentence_stats'
# spike). All three inputs are exact integers from one scan; the grade
# is one double formula, round(·,9). Readability belongs in the
# quality family because instruction-tuning mixes target a band — too
# low reads like noise, too high like a patent filing.
_FK_SPIKE_SQL = (
    "REPLACE(REPLACE(text, ' table ', '. Table '), "
    "' spark ', '! Spark ')"
)


@register(
    "text_readability_fk",
    rf"""WITH spiked AS (
  SELECT doc_id, {_FK_SPIKE_SQL} AS t FROM documents),
counts AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(t, '[.!?] '),
                              s -> length(s) > 0)) AS BIGINT)
           AS n_sentences,
         CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(t, '[aeiouyAEIOUY]+'))
              AS BIGINT) AS n_syllables
  FROM spiked)
SELECT doc_id, n_sentences, n_words, n_syllables,
       round((0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
             + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
             - 15.59) * 1e9) / 1e9 AS fk_grade
FROM counts""",
)
def text_readability_fk(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    spiked = F.replace(
        F.replace(F.col("text"), F.lit(" table "), F.lit(". Table ")),
        F.lit(" spark "),
        F.lit("! Spark "),
    )
    n_sentences = F.size(
        F.filter(
            F.split(spiked, r"[.!?] "), lambda s: F.length(s) > 0
        )
    ).cast("long")
    n_words = F.size(F.split(spiked, " ", -1)).cast("long")
    n_syllables = F.size(
        F.regexp_extract_all(spiked, F.lit(r"[aeiouyAEIOUY]+"), 0)
    ).cast("long")
    counts = docs.select(
        "doc_id",
        n_sentences.alias("n_sentences"),
        n_words.alias("n_words"),
        n_syllables.alias("n_syllables"),
    )
    return counts.select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_syllables",
        # try_divide: an empty/punctuation-only document has zero
        # sentences (or zero words) — its FK grade is NULL, matching
        # the oracle's x/0 → NULL, instead of aborting the job
        dblround(
            0.39
            * F.try_divide(
                F.col("n_words").cast("double"), F.col("n_sentences")
            )
            + 11.8
            * F.try_divide(
                F.col("n_syllables").cast("double"), F.col("n_words")
            )
            - 15.59,
            9,
        ).alias("fk_grade"),
    )


# ---------------------------------------------------------------------------
# Template families — md5 of the first 64 characters groups documents
# into shared-prefix families; families of size >1 are template
# candidates (the mail-merge shape: identical opening, one changed
# name halfway through — invisible to whole-doc exact dedup, caught
# here). Per family: size, the keeper (min doc_id — first occurrence,
# dedup_exact's convention), and the id list ordered for determinism.
# One map + one groupBy; at 100 TB the prefix hash is the shuffle key
# and families are tiny.
_PREFIX_LEN = 64


@register(
    "text_template_families",
    f"""WITH fam AS (
  SELECT md5(substr(text, 1, {_PREFIX_LEN})) AS family,
         doc_id
  FROM documents)
SELECT family,
       count(*) AS family_size,
       CAST(min(doc_id) AS BIGINT) AS keeper_id,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
         AS member_ids
FROM fam GROUP BY family
HAVING count(*) > 1""",
)
def text_template_families(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    fam = docs.select(
        F.md5(F.substring("text", 1, _PREFIX_LEN)).alias("family"),
        "doc_id",
    )
    grouped = fam.groupBy("family").agg(
        F.count(F.lit(1)).alias("family_size"),
        F.min("doc_id").cast("long").alias("keeper_id"),
        F.expr(
            "listagg(CAST(doc_id AS STRING), ',') "
            "WITHIN GROUP (ORDER BY doc_id)"
        ).alias("member_ids"),
    )
    return grouped.where(F.col("family_size") > 1)


# ---------------------------------------------------------------------------
# Bitwise battery — the packing/unpacking operator set over literal
# 64-bit patterns: AND, OR, XOR, left/right shift, popcount. Bitmask
# columns carry hundreds of boolean features in one BIGINT (8 bytes vs
# hundreds), and set-membership tests compile to one AND — but only if
# every engine agrees on the semantics, including sign-preserving
# right shift on negative values (both engines shift arithmetic on
# signed BIGINT). Left-shifting a NEGATIVE value is NOT portable —
# DuckDB raises where Spark wraps — so the battery nulls that cell via
# an explicit guard on both engines: the portable rule is "only shift
# non-negative values left".
_BIT_ROWS = [
    (1, 0b1010_1100, 0b0110_0110),
    (2, 255, 15),
    (3, -8, 3),          # negative left operand: arithmetic shifts
    (4, 0, 0),
    (5, 2**40 + 7, 2**20 + 1),
]


def _bit_values_sql() -> str:
    rows = ", ".join(
        f"({i}, CAST({a} AS BIGINT), CAST({b} AS BIGINT))"
        for i, a, b in _BIT_ROWS
    )
    return f"(VALUES {rows}) t(row_id, a, b)"


@register(
    "func_bitwise_battery",
    f"""SELECT row_id,
       a & b AS bit_and,
       a | b AS bit_or,
       xor(a, b) AS bit_xor,
       CASE WHEN a >= 0 THEN a << 3 END AS shl3,
       a >> 2 AS shr2,
       CAST(bit_count(a) AS INT) AS popcount_a
FROM {_bit_values_sql()}""",
)
def func_bitwise_battery(spark: SparkSession, sf: str) -> DataFrame:
    df = spark.createDataFrame(
        _BIT_ROWS, "row_id int, a long, b long"
    )
    return df.select(
        "row_id",
        (F.col("a").bitwiseAND(F.col("b"))).alias("bit_and"),
        (F.col("a").bitwiseOR(F.col("b"))).alias("bit_or"),
        (F.col("a").bitwiseXOR(F.col("b"))).alias("bit_xor"),
        F.when(F.col("a") >= 0, F.shiftleft(F.col("a"), 3)).alias("shl3"),
        F.shiftright(F.col("a"), 2).alias("shr2"),
        F.bit_count("a").cast("int").alias("popcount_a"),
    )


# ---------------------------------------------------------------------------
# Term burstiness — for the 50 highest-df terms: df (docs containing
# the term), burst_docs (docs containing it at least TWICE), and
# burstiness = burst_docs/df. Function words appear everywhere but
# seldom twice in these short docs; topical terms cluster. Per-doc
# term counts are one explode + one (doc, term) aggregate; the rest
# rides the aggregated term table.
_BURST_TOP = 50


@register(
    "text_term_burstiness",
    f"""WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents),
dt AS (
  SELECT doc_id, w, count(*) AS k FROM tok
  WHERE w <> '' GROUP BY doc_id, w),
term AS (
  SELECT w, count(*) AS df,
         CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS burst_docs
  FROM dt GROUP BY w),
top AS (
  SELECT w, df, burst_docs,
         row_number() OVER (ORDER BY df DESC, w) AS rn
  FROM term)
SELECT w AS term, df, burst_docs,
       {halfup_ratio_duck("burst_docs", "df", 9)} AS burstiness
FROM top WHERE rn <= {_BURST_TOP}""",
)
def text_term_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("w")
    ).where(F.col("w") != "")
    dt = tok.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("k")
    )
    term = dt.groupBy("w").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum(F.when(F.col("k") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("burst_docs"),
    )
    top = term.withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("df").desc(), "w")
        ),
    ).where(F.col("rn") <= _BURST_TOP)
    return top.select(
        F.col("w").alias("term"),
        "df",
        "burst_docs",
        halfup_ratio("burst_docs", "df", 9).alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# Backoff bigram LM — word bigrams over the corpus: P(w2|w1) =
# 0.9·count(w1 w2)/count(w1 ·) where the bigram exists, else
# 0.1·P_unigram(w2) (absolute interpolation with fixed weights — the
# simplest Katz-flavored backoff that still handles unseen pairs).
# Per-doc mean log-prob under the corpus model, same round(·,9)
# quantize-then-decimal-fold discipline as the trigram entry; the
# bigram→model join co-partitions on the bigram key, the unigram
# fallback is a broadcast-sized table at fixture scale and a
# co-partitioned join at 100 TB.
#
# Known cross-engine residual (whole LM family): ln() is not correctly
# rounded in either engine's libm, so on identical inputs the two
# doubles can differ by 1 ulp — when such a value sits exactly on a
# round(·,9) boundary the quantizations split (observed ONCE at
# sf0.001: row 475, 1e-9 diff; docs/ROUND6.md §10). The gate SF is
# deterministic-green; the discipline bounds any divergence to 1e-9 on
# isolated rows rather than letting fold-order noise compound.
@register(
    "text_bigram_backoff_lm",
    """WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bi AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - 1)) AS i
        FROM tok WHERE len(ws) >= 2)),
bcnt AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
u1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
uni AS (
  SELECT w2, count(*) AS cu FROM bi GROUP BY w2),
tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS total FROM uni),
scored AS (
  SELECT b.doc_id,
         CAST(round(ln(0.9 * (CAST(m.c2 AS DOUBLE) / u.c1)
                       + 0.1 * (CAST(un.cu AS DOUBLE) / t.total))
                    * 1e9) / 1e9
              AS DECIMAL(20,9)) AS logp
  FROM bi b
  JOIN bcnt m ON m.w1 = b.w1 AND m.w2 = b.w2
  JOIN u1 u ON u.w1 = b.w1
  JOIN uni un ON un.w2 = b.w2
  CROSS JOIN tot t)
SELECT doc_id, count(*) AS n_bigrams,
       CAST(CASE WHEN sum(logp) < 0 THEN -1 ELSE 1 END
            * ((2 * CAST(abs(sum(logp)) * 1000000000 AS HUGEINT) + count(*))
               // (2 * count(*))) AS DOUBLE) / 1e9 AS avg_logp
FROM scored GROUP BY doc_id""",
)
def text_bigram_backoff_lm(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    tok = docs.select("doc_id", F.split("text", " ", -1).alias("ws"))
    bi = tok.where(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("ws") - 2),
                lambda i: F.struct(
                    F.element_at("ws", i + 1).alias("w1"),
                    F.element_at("ws", i + 2).alias("w2"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bcnt = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    u1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    uni = bi.groupBy("w2").agg(F.count(F.lit(1)).alias("cu"))
    tot = uni.agg(F.sum("cu").cast("double").alias("total"))
    scored = (
        bi.join(bcnt, ["w1", "w2"])
        .join(u1, "w1")
        .join(uni, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            dblround(
                F.log(
                    0.9 * (F.col("c2").cast("double") / F.col("c1"))
                    + 0.1 * (F.col("cu").cast("double") / F.col("total"))
                ),
                9,
            )
            .cast("decimal(20,9)")
            .alias("logp"),
        )
    )
    # integer-exact HALF_UP mean — see text_trigram_lm for the full
    # rationale (round(double,9) is not cross-engine stable at half
    # boundaries; parity_fuzz chunk/s2 caught exactly that here)
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            F.expr(
                "CAST(CASE WHEN sum(logp) < 0 THEN -1 ELSE 1 END"
                " * ((2 * CAST(abs(sum(logp)) * 1000000000 AS"
                " DECIMAL(38,0)) + count(1)) div (2 * count(1)))"
                " AS DOUBLE)"
            )
            / F.lit(1e9)
        ).alias("avg_logp"),
    )
