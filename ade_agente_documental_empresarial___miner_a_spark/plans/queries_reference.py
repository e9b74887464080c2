"""Reference-surface queries — SURVEY.md §2 operator IDs, oracle-paired.

Every query here re-expresses an operator of ``micro-infobot/app.py`` as a
Spark DataFrame job over the driver fixtures, with a DuckDB SQL oracle that
computes the identical result (same float op order, same fold direction,
decimal-exact money sums — see module comments inline): the filters,
sectioning, chunking and embedding core (f*/t*), joins and aggregates
(j*/a*), top-k retrieval (k*), the hierarchical search and legacy concat
(e2/d2), scalar functions (s28), transcript reconstruction (s6) and the
chat-turn accounting (chat_*).

The fixture ``documents.text`` has no newlines, so sectioning queries first
inject deterministic structure (identical literal ``replace`` on both
engines): selected words become paragraph breaks + ALL-CAPS titles, which
then exercise the title regex / forward-fill / semi-join paths for real.

Conventions shared by every catalog module: Spark callable paired with a
bit-exact DuckDB oracle; integer surface columns are BIGINT on both
sides; float expressions use the same cast/fold order; order-sensitive
money aggregates go through DECIMAL.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exactmath import dblround
from ..functions.vector import duck_cosine
from ..operators.chunking import chunk_sections
from ..operators.sectioning import (
    assign_sections,
    extract_titles,
    split_paragraphs,
)
from .catalog import DUCK_EVENTS, events_table, register, table


# ---------------------------------------------------------------------------
# deterministic structure injection (both engines, identical literal replace)
_SECTIONS = [
    (" merge ", "MERGE PHASE"),
    (" window ", "WINDOW SECTION"),
    (" stream ", "STREAM UNIT"),
]


def _structured(documents: DataFrame) -> DataFrame:
    out = F.col("text")
    for pat, title in _SECTIONS:
        out = F.replace(out, F.lit(pat), F.lit("\n\n" + title + "\n\n"))
    return documents.select("doc_id", out.alias("text"), "lang", "source", "n_chars")


def _duck_structured() -> str:
    expr = "text"
    for pat, title in _SECTIONS:
        expr = f"replace({expr}, '{pat}', e'\\n\\n{title}\\n\\n')"
    return f"SELECT doc_id, {expr} AS text, lang, source, n_chars FROM documents"


_DUCK_PARAS = f"""
s AS ({_duck_structured()}),
paras AS (
  SELECT doc_id,
         unnest(generate_series(0, len(string_split(text, e'\\n\\n')) - 1)) AS para_pos,
         unnest(string_split(text, e'\\n\\n')) AS paragraph
  FROM s
)"""


_DUCK_IS_TITLE = (
    r"(regexp_full_match(trim(paragraph), '[A-Z\s]+') AND length(trim(paragraph)) > 5)"
)


_DUCK_SECTIONS = f"""{_DUCK_PARAS},
sect AS (
  SELECT doc_id, para_pos, paragraph,
         coalesce(
           last_value(CASE WHEN {_DUCK_IS_TITLE} THEN trim(paragraph) END IGNORE NULLS)
             OVER (PARTITION BY doc_id ORDER BY para_pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           'General') AS section,
         {_DUCK_IS_TITLE} AS is_title
  FROM paras
),
content AS (SELECT doc_id, para_pos, section, paragraph FROM sect WHERE NOT is_title)"""


# ---------------------------------------------------------------------------
# F1 — title filter (app.py:73-84)
@register(
    "f1_title_filter",
    f"""WITH s AS ({_duck_structured()}),
lines AS (SELECT doc_id, unnest(string_split(text, e'\\n')) AS line FROM s)
SELECT doc_id, trim(line) AS title FROM lines
WHERE regexp_full_match(trim(line), '[A-Z\\s]+') AND length(trim(line)) > 5""",
)
def f1_title_filter(spark: SparkSession, sf: str) -> DataFrame:
    return extract_titles(_structured(table(spark, sf, "documents")))


# T1 — paragraph split (app.py:93)
@register(
    "t1_paragraph_split",
    f"WITH {_DUCK_PARAS} SELECT doc_id, para_pos, paragraph FROM paras",
)
def t1_paragraph_split(spark: SparkSession, sf: str) -> DataFrame:
    return split_paragraphs(_structured(table(spark, sf, "documents"))).withColumn(
        "para_pos", F.col("para_pos").cast("long")
    )


# T2 — stateful section assignment via window forward-fill (app.py:86-107)
@register(
    "t2_section_assign",
    f"WITH {_DUCK_SECTIONS} SELECT doc_id, para_pos, section, paragraph FROM content",
)
def t2_section_assign(spark: SparkSession, sf: str) -> DataFrame:
    return assign_sections(_structured(table(spark, sf, "documents"))).withColumn(
        "para_pos", F.col("para_pos").cast("long")
    )


# F2/J2 — metadata filter & section semi-join (app.py:147-151): phase-1
# section set = top-3 sections by content count (deterministic tie-break),
# phase-2 = left-semi join of content rows against that set.
@register(
    "j2_section_semi_join",
    f"""WITH {_DUCK_SECTIONS},
phase1 AS (
  SELECT section FROM content GROUP BY section
  ORDER BY count(*) DESC, section LIMIT 3
)
SELECT c.doc_id, c.para_pos, c.section, c.paragraph
FROM content c WHERE c.section IN (SELECT section FROM phase1)""",
)
def j2_section_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    content = assign_sections(_structured(table(spark, sf, "documents")))
    phase1 = (
        content.groupBy("section")
        .count()
        .orderBy(F.desc("count"), "section")
        .limit(3)
        .select("section")
    )
    return content.join(F.broadcast(phase1), "section", "left_semi").select(
        "doc_id", F.col("para_pos").cast("long").alias("para_pos"), "section", "paragraph"
    )


# A1 — distinct sections (app.py:145)
@register(
    "a1_distinct_sections",
    f"WITH {_DUCK_SECTIONS} SELECT DISTINCT section FROM content",
)
def a1_distinct_sections(spark: SparkSession, sf: str) -> DataFrame:
    return assign_sections(_structured(table(spark, sf, "documents"))).select(
        "section"
    ).distinct()


# A2 — group chunks by section with ordered list aggregation (app.py:166-178)
@register(
    "a2_group_by_section",
    f"""WITH {_DUCK_SECTIONS}
SELECT section, count(*) AS n_paras,
       string_agg(paragraph, e'\\n' ORDER BY doc_id, para_pos) AS joined
FROM content GROUP BY section""",
)
def a2_group_by_section(spark: SparkSession, sf: str) -> DataFrame:
    content = assign_sections(_structured(table(spark, sf, "documents")))
    ordered = F.array_sort(
        F.collect_list(F.struct("doc_id", "para_pos", "paragraph"))
    )
    return content.groupBy("section").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.array_join(
            F.transform(ordered, lambda x: x["paragraph"]), "\n"
        ).alias("joined"),
    )


# A3 — chunk count (app.py:297)
@register(
    "a3_chunk_count",
    f"""WITH {_DUCK_SECTIONS}
SELECT count(*) AS n_chunks, count(DISTINCT doc_id) AS n_docs,
       count(DISTINCT section) AS n_sections FROM content""",
)
def a3_chunk_count(spark: SparkSession, sf: str) -> DataFrame:
    content = assign_sections(_structured(table(spark, sf, "documents")))
    return content.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("section").alias("n_sections"),
    )


# ---------------------------------------------------------------------------
# similarity family over the embeddings fixture. Query vector = the
# embedding of a fixed vec_id, cross-joined (broadcast) — 1×N J3 join.
def _scored(spark: SparkSession, sf: str, query_vec_id: int) -> DataFrame:
    from ..functions.vector import cosine_staged, l2_norm

    emb = table(spark, sf, "embeddings")
    # |q| staged once on the 1-row broadcast side, |v| once per index row
    # below the join — a bit-exact re-grouping of cosine_similarity (same
    # folds, same multiply order; see functions/vector.cosine_staged), so
    # the DuckDB oracle mirror is unchanged
    q = emb.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("_qvec"),
        l2_norm(F.col("embedding")).alias("_qn"),
    )
    return (
        emb.withColumn("_vn", l2_norm(F.col("embedding")))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cosine_staged(
                F.col("embedding"), F.col("_qvec"), F.col("_vn"), F.col("_qn")
            ).alias("score"),
        )
    )


def _duck_scored(query_vec_id: int) -> str:
    cos = duck_cosine("e.embedding", "q._qvec")
    return f"""scored AS (
  SELECT e.vec_id, e.label, {cos} AS score
  FROM embeddings e
  CROSS JOIN (SELECT embedding AS _qvec FROM embeddings WHERE vec_id = {query_vec_id}) q
)"""


def _topk(scored: DataFrame, k: int) -> DataFrame:
    # orderBy().limit(k) → TakeOrderedAndProject (per-partition heaps, no
    # global sort); the rnk window then runs over only k rows.
    top = scored.orderBy(F.desc("score"), "vec_id").limit(k)
    w = Window.orderBy(F.desc("score"), "vec_id")
    return top.withColumn("rnk", F.row_number().over(w).cast("long")).select(
        "vec_id", "label", "score", "rnk"
    )


def _duck_topk(query_vec_id: int, k: int) -> str:
    return f"""WITH {_duck_scored(query_vec_id)},
ranked AS (
  SELECT vec_id, label, score,
         row_number() OVER (ORDER BY score DESC, vec_id) AS rnk
  FROM scored)
SELECT vec_id, label, score, rnk FROM ranked WHERE rnk <= {k}"""


# K1 — top-4 similarity search (app.py:223)
@register("k1_topk_search", _duck_topk(0, 4))
def k1_topk_search(spark: SparkSession, sf: str) -> DataFrame:
    return _topk(_scored(spark, sf, 0), 4)


# K2 — top-3 title-phase search (app.py:143)
@register("k2_topk_titles", _duck_topk(1, 3))
def k2_topk_titles(spark: SparkSession, sf: str) -> DataFrame:
    return _topk(_scored(spark, sf, 1), 3)


# K3 — top-2 per group (app.py:149-150): label plays the section role
@register(
    "k3_topk_per_section",
    f"""WITH {_duck_scored(2)},
ranked AS (
  SELECT label, vec_id, score,
         row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id) AS rnk
  FROM scored)
SELECT label, vec_id, score, rnk FROM ranked WHERE rnk <= 2""",
)
def k3_topk_per_section(spark: SparkSession, sf: str) -> DataFrame:
    scored = _scored(spark, sf, 2)
    w = Window.partitionBy("label").orderBy(F.desc("score"), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 2)
        .select("label", "vec_id", "score", "rnk")
    )


# K4+A4 — scored top-3 with global-sum percentage normalization
# (app.py:312, 318-321)
@register(
    "k4_a4_topk_normalized",
    f"""WITH {_duck_scored(3)},
ranked AS (
  SELECT vec_id, label, score,
         row_number() OVER (ORDER BY score DESC, vec_id) AS rnk
  FROM scored),
top AS (SELECT * FROM ranked WHERE rnk <= 3)
SELECT vec_id, label, score, rnk,
       score / sum(score) OVER () * 100.0 AS pct
FROM top""",
)
def k4_a4_topk_normalized(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.similarity import normalize_scores

    return normalize_scores(_topk(_scored(spark, sf, 3), 3))


# K5 — head/limit preview (app.py:300)
@register(
    "k5_head_limit",
    "SELECT vec_id, label FROM embeddings ORDER BY vec_id LIMIT 3",
)
def k5_head_limit(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "embeddings")
        .select("vec_id", "label")
        .orderBy("vec_id")
        .limit(3)
    )


# K6 — enumerate/rank display ordinals (app.py:177, 320)
@register(
    "k6_enumerate_rank",
    """SELECT row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rnk,
       doc_id, n_chars FROM documents""",
)
def k6_enumerate_rank(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.orderBy(F.desc("n_chars"), "doc_id")
    return table(spark, sf, "documents").select(
        F.row_number().over(w).cast("long").alias("rnk"), "doc_id", "n_chars"
    )


# A6 — bag union of per-phase results (app.py:148-151)
@register(
    "a6_result_union",
    f"""WITH {_duck_scored(4)},
r1 AS (SELECT vec_id, label, score,
              row_number() OVER (ORDER BY score DESC, vec_id) AS rnk FROM scored),
t1 AS (SELECT 'phase1' AS phase, vec_id, score FROM r1 WHERE rnk <= 3),
s2 AS (SELECT e.vec_id, e.label, {duck_cosine("e.embedding", "q._qvec")} AS score
       FROM embeddings e CROSS JOIN
            (SELECT embedding AS _qvec FROM embeddings WHERE vec_id = 5) q),
r2 AS (SELECT vec_id, label, score,
              row_number() OVER (ORDER BY score DESC, vec_id) AS rnk FROM s2),
t2 AS (SELECT 'phase2' AS phase, vec_id, score FROM r2 WHERE rnk <= 3)
SELECT * FROM t1 UNION ALL SELECT * FROM t2""",
)
def a6_result_union(spark: SparkSession, sf: str) -> DataFrame:
    t1 = _topk(_scored(spark, sf, 4), 3).select(
        F.lit("phase1").alias("phase"), "vec_id", "score"
    )
    t2 = _topk(_scored(spark, sf, 5), 3).select(
        F.lit("phase2").alias("phase"), "vec_id", "score"
    )
    return t1.unionByName(t2)


# E2' — search_with_hierarchy composite (app.py:133-153, dead-but-declared):
# phase-1 top-3 by cosine → A1 distinct "sections" (labels) → J2 semi-join →
# K3 top-2 per section → A6 union (single pass).
@register(
    "e2_hierarchical_search",
    f"""WITH {_duck_scored(6)},
phase1 AS (
  SELECT label FROM (
    SELECT label, row_number() OVER (ORDER BY score DESC, vec_id) AS rnk
    FROM scored) WHERE rnk <= 3
),
relevant AS (SELECT DISTINCT label FROM phase1),
per_section AS (
  SELECT label, vec_id, score,
         row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id) AS rnk
  FROM scored WHERE label IN (SELECT label FROM relevant))
SELECT label, vec_id, score, rnk FROM per_section WHERE rnk <= 2""",
)
def e2_hierarchical_search(spark: SparkSession, sf: str) -> DataFrame:
    scored = _scored(spark, sf, 6)
    phase1 = (
        scored.orderBy(F.desc("score"), "vec_id")
        .limit(3)
        .select("label")
        .distinct()
    )
    w2 = Window.partitionBy("label").orderBy(F.desc("score"), "vec_id")
    return (
        scored.join(F.broadcast(phase1), "label", "left_semi")
        .withColumn("rnk", F.row_number().over(w2).cast("long"))
        .where(F.col("rnk") <= 2)
        .select("label", "vec_id", "score", "rnk")
    )


# T6 — context concatenation (app.py:224): deterministic "retrieved set" =
# 4 longest documents; fold their texts into one \n-joined context string.
@register(
    "t6_context_concat",
    """WITH top4 AS (
  SELECT doc_id, text FROM documents ORDER BY n_chars DESC, doc_id LIMIT 4)
SELECT string_agg(text, e'\\n' ORDER BY doc_id) AS context, count(*) AS n_docs
FROM top4""",
)
def t6_context_concat(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    top4 = docs.orderBy(F.desc("n_chars"), "doc_id").limit(4)
    ordered = F.array_sort(F.collect_list(F.struct("doc_id", "text")))
    return top4.agg(
        F.array_join(F.transform(ordered, lambda x: x["text"]), "\n").alias(
            "context"
        ),
        F.count(F.lit(1)).alias("n_docs"),
    )


# T7 — prompt assembly (app.py:228-242): system prompt + replayed history
# (user_id=1's first 3 events, each replayed as user AND assistant — the
# reference's replay bug, preserved deliberately) + final user turn.
@register(
    "t7_prompt_assemble",
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events),
hist AS (
  SELECT event_type, props, row_number() OVER (ORDER BY ts, event_id) AS turn
  FROM ev WHERE user_id = 1),
h3 AS (SELECT * FROM hist WHERE turn <= 3),
msgs AS (
  SELECT CAST(0 AS BIGINT) AS msg_pos, 'system' AS role, 'Eres InfoBot, asistente documental.' AS content
  UNION ALL
  SELECT turn * 2 - 1, 'user', event_type || ':' || props FROM h3
  UNION ALL
  SELECT turn * 2, 'assistant', event_type || ':' || props FROM h3
  UNION ALL
  SELECT 99, 'user', 'pregunta final')
SELECT msg_pos, role, content FROM msgs""",
)
def t7_prompt_assemble(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf).where(F.col("user_id") == 1)
    w = Window.orderBy("ts", "event_id")
    h3 = (
        ev.withColumn("turn", F.row_number().over(w).cast("long"))
        .where(F.col("turn") <= 3)
        .select("turn", F.concat_ws(":", "event_type", "props").alias("content"))
    )
    spark_sys = h3.sparkSession.createDataFrame(
        [(0, "system", "Eres InfoBot, asistente documental."),
         (99, "user", "pregunta final")],
        "msg_pos long, role string, content string",
    )
    user_msgs = h3.select(
        (F.col("turn") * 2 - 1).cast("long").alias("msg_pos"),
        F.lit("user").alias("role"),
        "content",
    )
    asst_msgs = h3.select(
        (F.col("turn") * 2).cast("long").alias("msg_pos"),
        F.lit("assistant").alias("role"),
        "content",
    )
    return spark_sys.unionByName(user_msgs).unionByName(asst_msgs)


# A5 — token/cost aggregation (app.py:272-283): events.value plays
# prompt_tokens, props.k plays completion_tokens; reference cost model
# p*1e-5 + c*3e-5 (app.py:276). Money-exact via per-row doubles and a
# 4-decimal round on the (order-insensitive) decimal sum path.
@register(
    "a5_token_cost_agg",
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events),
t AS (
  SELECT user_id,
         CAST(value AS DECIMAL(18,2)) AS ptok,
         CAST(CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS DECIMAL(18,2)) AS ctok
  FROM ev)
SELECT user_id, count(*) AS n_turns,
       CAST(sum(ptok) AS DOUBLE) AS prompt_tokens,
       CAST(sum(ctok) AS DOUBLE) AS completion_tokens,
       CAST(sum(ptok * 0.00001 + ctok * 0.00003) AS DOUBLE) AS cost_usd
FROM t GROUP BY user_id""",
)
def a5_token_cost_agg(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf).select(
        "user_id",
        F.col("value").cast("decimal(18,2)").alias("ptok"),
        F.regexp_extract("props", r"([0-9]+)", 1)
        .cast("bigint")
        .cast("decimal(18,2)")
        .alias("ctok"),
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("ptok").cast("double").alias("prompt_tokens"),
        F.sum("ctok").cast("double").alias("completion_tokens"),
        F.sum(
            F.col("ptok") * F.lit(Decimal("0.00001"))
            + F.col("ctok") * F.lit(Decimal("0.00003"))
        )
        .cast("double")
        .alias("cost_usd"),
    )


# D2 fidelity — the reference erases document boundaries by accumulating
# one flat corpus string (app.py:192-205). The engine keeps boundaries
# (strict improvement), but bug-for-bug reproduction is one ordered
# fold away; this query proves it (md5 of the concatenated corpus).
@register(
    "d2_legacy_corpus_concat",
    """WITH ordered AS (SELECT text FROM documents ORDER BY doc_id)
SELECT md5(string_agg(text, '' ORDER BY doc_id)) AS corpus_md5,
       CAST(sum(length(text)) AS BIGINT) AS corpus_chars
FROM documents""",
)
def d2_legacy_corpus_concat(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    ordered = F.array_sort(F.collect_list(F.struct("doc_id", "text")))
    corpus = F.array_join(F.transform(ordered, lambda x: x["text"]), "")
    return docs.agg(
        F.md5(corpus).alias("corpus_md5"),
        F.sum(F.length("text")).cast("long").alias("corpus_chars"),
    )


# F3 — nonempty guards (app.py:130, 139-140, 224, 239): empty-input
# handling as coalesce/when defaults + an isEmpty-style count gate.
@register(
    "f3_nonempty_guards",
    """WITH hits AS (SELECT doc_id, text FROM documents WHERE n_chars > 100000)
SELECT
  CASE WHEN (SELECT count(*) FROM hits) = 0
       THEN 'No hay información relevante.'
       ELSE 'ok' END AS answer,
  (SELECT count(*) FROM hits) AS n_hits""",
)
def f3_nonempty_guards(spark: SparkSession, sf: str) -> DataFrame:
    hits = table(spark, sf, "documents").where(F.col("n_chars") > 100000)
    n = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return n.select(
        F.when(F.col("n_hits") == 0, F.lit("No hay información relevante."))
        .otherwise(F.lit("ok"))
        .alias("answer"),
        "n_hits",
    )


# F5/K5 — truncated preview (app.py:178, 300-304): first-3 chunks with a
# 200-char display projection.
@register(
    "f5_truncate_preview",
    """SELECT doc_id, substring(text, 1, 200) AS preview,
       CAST(length(substring(text, 1, 200)) AS BIGINT) AS preview_len
FROM documents ORDER BY doc_id LIMIT 3""",
)
def f5_truncate_preview(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "documents")
        .orderBy("doc_id")
        .limit(3)
        .select(
            "doc_id",
            F.substring("text", 1, 200).alias("preview"),
            F.length(F.substring("text", 1, 200)).cast("long").alias("preview_len"),
        )
    )


# J1 — zip join (app.py:168): positional alignment of two parallel arrays
# (documents/metadatas from the Chroma store) via arrays_zip.
@register(
    "j1_zip_join",
    """WITH arrs AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents WHERE doc_id < 5),
zipped AS (
  SELECT doc_id,
         unnest(generate_series(1, least(len(words), 5))) AS pos,
         unnest(words[1:least(len(words), 5)]) AS word
  FROM arrs)
SELECT doc_id, CAST(pos AS BIGINT) AS pos, word,
       CAST(length(word) AS BIGINT) AS word_len
FROM zipped""",
)
def j1_zip_join(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").where(F.col("doc_id") < 5)
    words = F.slice(F.split(F.col("text"), " "), 1, 5)
    lens = F.transform(words, lambda w: F.length(w).cast("long"))
    zipped = F.arrays_zip(words.alias("word"), lens.alias("word_len"))
    return (
        docs.select(
            "doc_id",
            F.posexplode(zipped).alias("pos0", "z"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).cast("long").alias("pos"),
            F.col("z.word").alias("word"),
            F.col("z.word_len").alias("word_len"),
        )
    )


# T4 — Document construction (app.py:123-128): chunk rows wrapped with a
# metadata struct, surfaced as flattened columns for the oracle.
@register(
    "t4_doc_construct",
    f"""WITH {_DUCK_SECTIONS}
SELECT trim(paragraph) AS page_content, section AS metadata_section
FROM content WHERE trim(paragraph) <> ''""",
)
def t4_doc_construct(spark: SparkSession, sf: str) -> DataFrame:
    content = assign_sections(_structured(table(spark, sf, "documents")))
    docs = content.where(F.trim("paragraph") != "").select(
        F.trim("paragraph").alias("page_content"),
        F.struct(F.col("section")).alias("metadata"),
    )
    return docs.select(
        "page_content", F.col("metadata.section").alias("metadata_section")
    )


# §2.8 scalar-function battery (trim/split/substring/date_format/arithmetic)
@register(
    "s28_scalar_fns",
    """SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       upper(event_type) AS etype,
       substring(props, 1, 6) AS props6,
       length(props) AS props_len,
       round((value * 1.1 + 5.0) * 1e6) / 1e6 AS adj_value,
       coalesce(nullif(event_type, 'error'), 'ERR') AS safe_type
FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, props, value FROM events) ev""",
)
def s28_scalar_fns(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.upper("event_type").alias("etype"),
        F.substring("props", 1, 6).alias("props6"),
        F.length("props").cast("long").alias("props_len"),
        dblround(F.col("value") * 1.1 + 5.0, 6).alias("adj_value"),
        F.coalesce(
            F.nullif("event_type", F.lit("error")), F.lit("ERR")
        ).alias("safe_type"),
    )


# ---------------------------------------------------------------------------
# T3 — the recursive chunker through the real pandas_udf pipeline.
# At the correctness SF every sectioned paragraph is < 500 chars (verified:
# max 409 at sf0.01), so the 500/50 splitter is provably a strip()
# pass-through there and the oracle below is exact. Real splitting is
# exercised by `t3b_chunk_long_docs` (exact CTE oracle) and unit tests.
@register(
    "t3_chunk_pipeline",
    f"""WITH {_DUCK_SECTIONS}
SELECT doc_id, section, para_pos, CAST(0 AS BIGINT) AS chunk_pos,
       trim(paragraph) AS text
FROM content WHERE trim(paragraph) <> ''""",
)
def t3_chunk_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    content = assign_sections(_structured(table(spark, sf, "documents")))
    return chunk_sections(content).select(
        "doc_id",
        "section",
        F.col("para_pos").cast("long").alias("para_pos"),
        F.col("chunk_pos").cast("long").alias("chunk_pos"),
        "text",
    )


# T3b — real splitting (chunk_size=120 over raw text). The synthetic
# documents contain no '\n\n'/'\n'/'.', no doubled/leading/trailing
# spaces, and no word piece >= 120 chars (all three pinned for
# sf0.001/0.01/0.1 by tests/test_t3b_oracle.py — an oversized piece
# would take the splitter's append-as-is branch, outside this oracle), so
# the recursive splitter provably reduces to its single-level greedy
# word-merge scan: split on ' ' (separator attached to the start of the
# following piece), greedily fill windows of <= 120 chars, keep a
# <= 20-char tail as overlap, strip each emitted join. That scan has a
# closed form over per-doc prefix sums of piece lengths — chunk k covers
# pieces [a_k, b_k] where b_k = max e with cum(e) - cum(a_k - 1) <= 120
# and a_(k+1) = min j > a_k with cum(b_k) - cum(j-1) <= 20 and
# cum(b_k) - cum(j-1) + len(piece b_k + 1) <= 120 (or the window is
# empty) — which the oracle walks with a recursive CTE, reproducing
# every chunk byte-for-byte (pinned vs RecursiveCharacterSplitter over
# all sf0.01 docs, 1647/1647 chunks). Reference semantics:
# micro-infobot/app.py:116-126.
_T3B_ORACLE = """
WITH RECURSIVE lens AS (
  SELECT doc_id, text, i,
         CAST(length(w) + CASE WHEN i > 1 THEN 1 ELSE 0 END AS BIGINT) AS l
  FROM (SELECT doc_id, text,
               unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents)
), agg AS (
  SELECT doc_id, any_value(text) AS text,
         list_prepend(CAST(0 AS BIGINT), list(cumsum ORDER BY i)) AS cum,
         max(i) AS n
  FROM (SELECT doc_id, text, i,
               CAST(sum(l) OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT)
                 AS cumsum
        FROM lens)
  GROUP BY doc_id
), walk AS (
  SELECT doc_id, text, cum, n, CAST(0 AS BIGINT) AS chunk_pos,
         CAST(1 AS BIGINT) AS a,
         CAST(greatest(1, len(list_filter(cum, x -> x <= cum[1] + 120)) - 1)
              AS BIGINT) AS b
  FROM agg
  UNION ALL
  SELECT doc_id, text, cum, n, chunk_pos + 1, a2,
         CAST(greatest(a2, len(list_filter(cum,
                x -> x <= cum[CAST(a2 AS BIGINT)] + 120)) - 1) AS BIGINT)
  FROM (
    SELECT doc_id, text, cum, n, chunk_pos,
           CAST(least(greatest(
             len(list_filter(cum, x -> x < greatest(cum[b + 1] - 20,
                                                    cum[b + 2] - 120))) + 1,
             a + 1), b + 1) AS BIGINT) AS a2,
           b
    FROM walk WHERE b < n
  )
)
SELECT doc_id, chunk_pos,
       CAST(length(trim(substr(text, CAST(cum[a] + 1 AS BIGINT),
                               CAST(cum[b + 1] - cum[a] AS BIGINT))))
            AS BIGINT) AS chunk_len,
       trim(substr(text, CAST(cum[a] + 1 AS BIGINT),
                   CAST(cum[b + 1] - cum[a] AS BIGINT))) AS text
FROM walk
"""


@register("t3b_chunk_long_docs", _T3B_ORACLE)
def t3b_chunk_long_docs(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").select(
        "doc_id", F.lit("General").alias("section"),
        F.lit(0).alias("para_pos"), "text",
    )
    chunks = chunk_sections(docs, text_col="text", chunk_size=120, chunk_overlap=20)
    return chunks.select(
        "doc_id",
        F.col("chunk_pos").cast("long").alias("chunk_pos"),
        F.length("text").cast("long").alias("chunk_len"),
        "text",
    )


# T5 — embedding hash-projection core, oracle-checked: the md5 bucket/sign
# histogram that embed_one() accumulates, exploded per (doc, bucket) with
# integer weights. A unit test pins embed_one() to this exact histogram.
_HEXPOS = "'0123456789abcdef'"


def _hexval(pos: int) -> str:
    return f"(strpos({_HEXPOS}, substr(h, {pos}, 1)) - 1)"


_DUCK_IDX = (
    f"(({_hexval(1)} * 16 + {_hexval(2)}) "
    f"+ ({_hexval(3)} * 16 + {_hexval(4)}) * 256 "
    f"+ ({_hexval(5)} * 16 + {_hexval(6)}) * 65536 "
    f"+ ({_hexval(7)} * 16 + {_hexval(8)}) * 16777216) % 64"
)


_DUCK_SIGN = f"CASE WHEN {_hexval(10)} % 2 = 1 THEN 1 ELSE -1 END"


@register(
    "t5_embed_histogram",
    f"""WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
hashed AS (SELECT doc_id, md5('42:' || tok) AS h FROM toks)
SELECT doc_id, CAST({_DUCK_IDX} AS BIGINT) AS bucket,
       CAST(sum({_DUCK_SIGN}) AS BIGINT) AS weight
FROM hashed GROUP BY doc_id, bucket""",
)
def t5_embed_histogram(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import spread

    toks = spread(table(spark, sf, "documents"), "doc_id").select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    h = F.md5(F.concat(F.lit("42:"), F.col("tok")))
    hexval = lambda pos: (  # noqa: E731
        F.instr(F.lit("0123456789abcdef"), F.substring(F.col("h"), pos, 1)) - 1
    )
    byte = lambda k: (  # noqa: E731
        hexval(2 * k + 1) * 16 + hexval(2 * k + 2)
    ).cast("long")
    idx = (
        byte(0) + byte(1) * 256 + byte(2) * 65536 + byte(3) * 16777216
    ) % 64
    sign = F.when(hexval(10) % 2 == 1, F.lit(1)).otherwise(F.lit(-1))
    return (
        toks.withColumn("h", h)
        .select("doc_id", idx.cast("long").alias("bucket"), sign.alias("s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").cast("long").alias("weight"))
    )


# S6 — per-user transcript reconstruction (ConversationBufferMemory,
# app.py:43-44) through sinks.session_transcripts, driven by a
# deterministic chat history derived from events: message=event_type,
# response=props, tokens from floor(value)/len(props). Messages exploded
# to rows so the oracle compares scalars.
@register(
    "s6_transcript_reconstruct",
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events),
chat AS (
  SELECT user_id AS usr, event_type AS message, props AS response, ts,
         CAST(floor(value) AS BIGINT) AS ptok,
         CAST(length(props) AS BIGINT) AS ctok
  FROM ev),
ordered AS (
  SELECT *, row_number() OVER (PARTITION BY usr ORDER BY ts, message, response) - 1 AS turn
  FROM chat),
totals AS (
  SELECT usr, count(*) AS n_turns,
         CAST(sum(ptok) AS BIGINT) AS prompt_tokens,
         CAST(sum(ctok) AS BIGINT) AS completion_tokens,
         CAST(sum(ptok) AS DOUBLE) * 0.00001 + CAST(sum(ctok) AS DOUBLE) * 0.00003 AS cost_usd
  FROM chat GROUP BY usr),
msgs AS (
  SELECT usr, turn * 2 AS pos, 'user' AS role, message AS content FROM ordered
  UNION ALL
  SELECT usr, turn * 2 + 1, 'assistant', response FROM ordered)
SELECT m.usr AS chat_user, CAST(m.pos AS BIGINT) AS msg_pos, m.role, m.content,
       t.n_turns, t.prompt_tokens, t.completion_tokens, t.cost_usd
FROM msgs m JOIN totals t ON m.usr = t.usr""",
)
def s6_transcript_reconstruct(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.sinks import session_transcripts

    ev = events_table(spark, sf)
    chat = ev.select(
        F.col("user_id").alias("user"),
        F.col("event_type").alias("message"),
        F.col("props").alias("response"),
        "ts",
        F.floor("value").cast("long").alias("prompt_tokens"),
        F.length("props").cast("long").alias("completion_tokens"),
    )
    tr = session_transcripts(chat)
    return tr.select(
        F.col("user").alias("chat_user"),
        F.posexplode("messages").alias("msg_pos", "m"),
        "n_turns",
        "prompt_tokens",
        "completion_tokens",
        "cost_usd",
    ).select(
        "chat_user",
        F.col("msg_pos").cast("long").alias("msg_pos"),
        F.col("m.role").alias("role"),
        F.col("m.content").alias("content"),
        "n_turns",
        "prompt_tokens",
        "completion_tokens",
        "cost_usd",
    )


# ---------------------------------------------------------------------------
# chat_session_costs — the reference's tab-2 analytics generalized
# (micro-infobot/app.py:270-283 shows per-conversation token cost): the
# A5 token/cost model rolled up per SESSION instead of per user, by
# composing the sessionization window with the cost projections at the
# EVENT level — one user-partitioned window + one groupBy, no
# session⋈event range join. DECIMAL cost sums stay order-insensitive.
@register(
    "chat_session_costs",
    f"""WITH {DUCK_EVENTS},
t AS (
  SELECT user_id, event_id, ts,
         CAST(value AS DECIMAL(18,2)) AS ptok,
         CAST(CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)
              AS DECIMAL(18,2)) AS ctok
  FROM ev),
o AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         > 43200000000
                 THEN 1 ELSE 0 END AS new_s
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS session_id
  FROM o)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_turns,
       CAST(sum(ptok) AS DOUBLE) AS prompt_tokens,
       CAST(sum(ctok) AS DOUBLE) AS completion_tokens,
       CAST(sum(ptok * 0.00001 + ctok * 0.00003) AS DOUBLE) AS cost_usd,
       CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS DOUBLE) / 1000000.0
         AS duration_s
FROM s GROUP BY user_id, session_id""",
)
def chat_session_costs(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.sessions import with_session_ids

    ev = events_table(spark, sf).select(
        "user_id",
        "event_id",
        "ts",
        F.col("value").cast("decimal(18,2)").alias("ptok"),
        F.regexp_extract("props", r"([0-9]+)", 1)
        .cast("bigint")
        .cast("decimal(18,2)")
        .alias("ctok"),
    )
    s = with_session_ids(ev, gap_minutes=720)
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("ptok").cast("double").alias("prompt_tokens"),
        F.sum("ctok").cast("double").alias("completion_tokens"),
        F.sum(
            F.col("ptok") * F.lit(Decimal("0.00001"))
            + F.col("ctok") * F.lit(Decimal("0.00003"))
        )
        .cast("double")
        .alias("cost_usd"),
        (
            (
                F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
            ).cast("double")
            / 1_000_000.0
        ).alias("duration_s"),
    )

