"""Deduplication queries (``dedup_*``) — exact, MinHash-LSH, SimHash,
embedding, paragraph, substring and incremental near-duplicate
detection plus clustering, each oracle-paired with DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exactmath import (
    halfup_mean_duck,
    halfup_ratio,
    halfup_ratio_duck,
)
from ..functions.vector import (
    cosine_staged,
    duck_abs_max,
    duck_cosine,
    duck_quantize_i8,
    l2_norm,
)
from ..operators import ann
from ..operators.dedup import (
    embedding_dup_pairs,
    exact_dedup,
    incremental_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    lsh_verified_pairs,
    paragraph_dedup,
    simhash16,
    substring_duplicate_spans,
)
from ..operators.textstats import STOPWORDS
from .catalog import register, table


_PLANES = ann.hyperplanes()


# ---------------------------------------------------------------------------
# Dedup family
@register(
    "dedup_exact",
    """WITH h AS (SELECT doc_id, md5(trim(lower(text))) AS text_hash FROM documents)
SELECT doc_id, text_hash,
       min(doc_id) OVER (PARTITION BY text_hash) AS canonical_id,
       count(*) OVER (PARTITION BY text_hash) AS group_size,
       doc_id = min(doc_id) OVER (PARTITION BY text_hash) AS is_canonical
FROM h""",
)
def dedup_exact_q(spark: SparkSession, sf: str) -> DataFrame:
    return exact_dedup(table(spark, sf, "documents"))


def _duck_shingles(n: int = 2) -> str:
    gram = " || ' ' || ".join(f"ws[i+{j}]" for j in range(n))
    return f"""w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT doc_id, lang,
         unnest(list_distinct(list_transform(
           generate_series(1, len(ws) - {n - 1}), i -> {gram}))) AS shingle
  FROM w WHERE len(ws) >= {n}
)"""


_NUM_PERM, _BANDS = 8, 4


_SIG_COLS = ", ".join(
    f"min(md5('{p}:' || shingle)) AS sig_{p}" for p in range(_NUM_PERM)
)


_BAND_SELECTS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, sig_{2*b} || sig_{2*b+1} AS key FROM sig"
    for b in range(_BANDS)
)


@register(
    "dedup_minhash_lsh",
    f"""WITH {_duck_shingles(2)},
sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
bands AS ({_BAND_SELECTS})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
WHERE a.doc_id < b.doc_id GROUP BY 1, 2""",
)
def dedup_minhash_lsh_q(spark: SparkSession, sf: str) -> DataFrame:
    return lsh_candidate_pairs(
        table(spark, sf, "documents"), num_perm=_NUM_PERM, bands=_BANDS
    )


_SIMHASH_SUMS = ", ".join(
    "sum(CASE WHEN CAST(floor((strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1) / {div}) AS INTEGER) % 2 = 1 "
    "THEN 1 ELSE -1 END) AS s_{j}".format(pos=j // 4 + 1, div=2 ** (j % 4), j=j)
    for j in range(16)
)


_SIMHASH_VAL = " + ".join(
    f"(CASE WHEN s_{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(16)
)


@register(
    "dedup_simhash",
    f"""WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
hashed AS (SELECT doc_id, md5(w) AS h FROM words),
sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM hashed GROUP BY doc_id),
nw AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words FROM documents)
SELECT s.doc_id, CAST({_SIMHASH_VAL} AS BIGINT) AS simhash, nw.n_words
FROM sums s JOIN nw ON s.doc_id = nw.doc_id""",
)
def dedup_simhash_q(spark: SparkSession, sf: str) -> DataFrame:
    return simhash16(table(spark, sf, "documents"))


@register(
    "dedup_ngram_jaccard",
    f"""WITH {_duck_shingles(2)},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.3""",
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf: str) -> DataFrame:
    return jaccard_pairs(table(spark, sf, "documents"), threshold=0.3)


# The scale path: LSH candidates -> exact Jaccard verify of candidates only
# (work is O(candidates x shingles); the all-pairs join above is the exact
# baseline whose shingle self-join grows as sum(df(shingle)^2)).
@register(
    "dedup_lsh_verified",
    f"""WITH {_duck_shingles(2)},
sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b)
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.3""",
)
def dedup_lsh_verified_q(spark: SparkSession, sf: str) -> DataFrame:
    return lsh_verified_pairs(table(spark, sf, "documents"), threshold=0.3)


# Exact all-pairs cosine on a BOUNDED slice (vec_id < 512, pushed into the
# parquet scan on both sides): the N² term is capped regardless of corpus
# size, so this registered query stays runnable at any SF. Full-corpus
# near-dup goes through dedup_embedding_lsh (bucket blocking) below.
_EMB_CAP = 512


@register(
    "dedup_embedding_cosine",
    f"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {duck_cosine("a.embedding", "b.embedding")} AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < {_EMB_CAP} AND b.vec_id < {_EMB_CAP}
  AND {duck_cosine("a.embedding", "b.embedding")} >= 0.35""",
)
def dedup_embedding_cosine_q(spark: SparkSession, sf: str) -> DataFrame:
    return embedding_dup_pairs(
        table(spark, sf, "embeddings"), threshold=0.35, sample_cap=_EMB_CAP
    )


# Near-dup CLUSTERS: connected components over the LSH-verified pair
# graph — an iterative algorithm (min-label propagation) whose oracle is
# a recursive CTE computing the same component minima.
@register(
    "dedup_clusters",
    f"""WITH RECURSIVE {_duck_shingles(2)},
sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b),
pairs AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.3),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(node, lbl) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, r.lbl FROM reach r JOIN edges e ON e.b = r.node)
SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node""",
)
def dedup_clusters_q(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import connected_components

    pairs = lsh_verified_pairs(table(spark, sf, "documents"), threshold=0.3)
    return connected_components(pairs)


# Embedding near-dup at scale: hyperplane-bucket blocking, then exact
# cosine only within buckets — the N² pair scan above is the exact
# baseline, this is the O(N²/buckets) path (same pattern as text LSH).
@register(
    "dedup_embedding_lsh",
    f"""WITH bucketed AS (
  SELECT vec_id, embedding, {ann.duck_bucket("embedding", _PLANES)} AS bucket
  FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {duck_cosine("a.embedding", "b.embedding")} AS cos
FROM bucketed a JOIN bucketed b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {duck_cosine("a.embedding", "b.embedding")} >= 0.3""",
)
def dedup_embedding_lsh_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = ann.with_buckets(table(spark, sf, "embeddings"), planes=_PLANES)
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        "bucket",
        # norms staged once per side below the bucket join (bit-exact
        # re-grouping — functions/vector.cosine_staged)
        l2_norm(F.col("embedding")).alias("_na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        "bucket",
        l2_norm(F.col("embedding")).alias("_nb"),
    )
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            cosine_staged(
                F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
            ),
        )
        .where(F.col("cos") >= 0.3)
        .select("id_a", "id_b", "cos")
    )


# IVF-flat ANN (the third ANN family next to hyperplane-LSH and MLlib
# BRP-LSH): seeded codebook (vec_id < 16) sharpened by ONE Lloyd's pass —
# centroid update = element-wise mean of assigned vectors' int8 codes, so
# the refinement is exact integer arithmetic and bit-identical on both
# engines (a float mean would be shuffle-order-dependent). Then map-only
# cell assignment (argmax over literal centroids — zero shuffle), nprobe=4
# probing, exact cosine rerank, TakeOrderedAndProject top-5. The oracle
# replays seed-assign → code-mean update → assign → probe → rerank with
# the same tie-breaks (max-struct ≡ ORDER BY score DESC, cid DESC).
_IVF_N, _IVF_QID, _IVF_NPROBE, _IVF_K = 16, 7, 4, 5


_DUCK_IVF_CODEBOOK = f"""seed AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {_IVF_N}),
a0 AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {duck_cosine("e.embedding", "c.cvec")} DESC,
                                     c.cid DESC) AS rn
  FROM embeddings e CROSS JOIN seed c),
cells0 AS (SELECT vec_id, embedding, cid AS cell FROM a0 WHERE rn = 1),
qcodes AS (
  SELECT cell,
         unnest(generate_series(0, len(embedding) - 1)) AS i,
         unnest({duck_quantize_i8("embedding", duck_abs_max("embedding"))}) AS code
  FROM cells0),
cdims AS (
  SELECT cell, i, CAST(sum(code) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS c
  FROM qcodes GROUP BY cell, i),
cent AS (SELECT cell AS cid, list(c ORDER BY i) AS cvec FROM cdims GROUP BY cell)"""


# ---------------------------------------------------------------------------
# Paragraph-level dedup (CCNet-style, operators/dedup.py::paragraph_dedup):
# drop repeated passages corpus-wide, keep first occurrences, report
# per-doc survival counts.
@register(
    "dedup_paragraph",
    """WITH wsrc AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
pp AS (
  SELECT doc_id, ws,
         unnest(generate_series(0, CAST(ceil(len(ws) / 10.0) AS INT) - 1)) AS para_pos
  FROM wsrc),
paras AS (
  SELECT doc_id, para_pos,
         md5(array_to_string(list_slice(ws, para_pos * 10 + 1, para_pos * 10 + 10), ' ')) AS h
  FROM pp),
k AS (
  SELECT doc_id, para_pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, para_pos) AS rn
  FROM paras)
SELECT doc_id, count(*) AS n_paragraphs,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM k GROUP BY doc_id""",
)
def dedup_paragraph(spark: SparkSession, sf: str) -> DataFrame:
    return paragraph_dedup(table(spark, sf, "documents"), words_per_para=10)


# ---------------------------------------------------------------------------
# Substring-level exact dedup — the third granularity tier after document
# (dedup_exact) and paragraph (dedup_paragraph): the fraction of each
# doc's 8-word windows (stride 1) that occur verbatim in >= 1 OTHER doc.
# Distributed stand-in for suffix-array substring dedup (Lee et al.,
# arXiv:2107.06499) — any shared run of >= 8 words is covered by a shared
# window. Plan: map-side explode -> one partial-agg'd hash aggregate on
# md5-uniform gram keys -> co-partitioned gram join -> per-doc rollup on
# the spread(doc_id) partitioning (no re-shuffle of the exploded side).
@register(
    "dedup_substring",
    f"""WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id, md5(array_to_string(w[i:i+7], ' ')) AS gram
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
        FROM words WHERE len(w) >= 8)),
gd AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM grams GROUP BY gram)
SELECT g.doc_id,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
       {halfup_mean_duck("sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)",
                         "count(*)", 9, integral_sum=True)}
         AS dup_frac
FROM grams g JOIN gd USING (gram)
GROUP BY g.doc_id""",
)
def dedup_substring(spark: SparkSession, sf: str) -> DataFrame:
    return substring_duplicate_spans(table(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# Incremental ingestion dedup — nightly-batch shape: classify NEW docs
# (doc_id % 5 == 0 models the arriving batch) against the already-
# ingested corpus (the other 80%) without re-deduplicating history.
# Statuses: dup_historic (hash already ingested), dup_in_batch (an
# earlier row of the same batch has it), new. The historic side reduces
# to DISTINCT hashes — too big to broadcast at 100 TB, so it is a
# shuffle LEFT join on uniform md5 keys; Spark's runtime bloom-filter
# injection pre-filters the probe when the batch is small vs history.
@register(
    "dedup_incremental",
    """WITH hashed AS (
  SELECT doc_id, md5(trim(lower(text))) AS text_hash FROM documents),
hist AS (SELECT DISTINCT text_hash FROM hashed WHERE doc_id % 5 <> 0),
batch AS (SELECT doc_id, text_hash FROM hashed WHERE doc_id % 5 = 0)
SELECT b.doc_id, b.text_hash,
  CASE WHEN h.text_hash IS NOT NULL THEN 'dup_historic'
       WHEN row_number() OVER (PARTITION BY b.text_hash ORDER BY b.doc_id)
            > 1 THEN 'dup_in_batch'
       ELSE 'new' END AS status
FROM batch b LEFT JOIN hist h ON b.text_hash = h.text_hash""",
)
def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    historic = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    return incremental_dedup(batch, historic)


# ---------------------------------------------------------------------------
# Asymmetric containment — quote/subset detection, the directional
# complement of Jaccard (Broder's containment c(A,B) = |S_A ∩ S_B| /
# |S_A|): a short doc quoted inside a long one scores ~1.0 one way and
# low the other, which symmetric Jaccard misses. Shingle space is capped
# at document frequency <= 50 (boilerplate/stop-shingles would otherwise
# create O(N²) hot buckets — the standard stop-shingle guard; both
# numerator AND denominator use the capped space, so the score is
# self-consistent). Scale shape: df cap bounds every bucket, so the
# self-join is Σ min(df,50)² — linear-ish in N, never all-pairs.
@register(
    "dedup_containment",
    f"""WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+2], ' ')) AS s
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        FROM words WHERE len(w) >= 3)),
df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
rare AS (SELECT doc_id, sh.s FROM sh JOIN df USING (s) WHERE df <= 50),
n AS (SELECT doc_id, count(*) AS n_sh FROM rare GROUP BY doc_id),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY doc_a, doc_b)
SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
       {halfup_ratio_duck("n_shared", "n_sh", 9)} AS containment
FROM p JOIN n ON p.doc_a = n.doc_id
WHERE n_shared / n_sh >= 0.05""",
)
def dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import spread

    docs = spread(table(spark, sf, "documents"), "doc_id")
    words = F.split(F.col("text"), " ")
    sh = (
        docs.select(F.col("doc_id"), words.alias("w"))
        .where(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("w") - 2),
                        lambda i: F.md5(
                            F.array_join(F.slice(F.col("w"), i, 3), " ")
                        ),
                    )
                )
            ).alias("s"),
        )
    )
    df_caps = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    rare = sh.join(df_caps.where(F.col("df") <= 50), "s").select("doc_id", "s")
    n = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = rare.alias("a")
    b = rare.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    cont = F.col("n_shared") / F.col("n_sh")
    return (
        p.join(n, p["doc_a"] == n["doc_id"])
        .where(cont >= 0.05)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            halfup_ratio("n_shared", "n_sh", 9).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication (Abbas et al. 2023): cluster the
# embedding space coarsely, then prune within-cluster vectors whose
# cosine to an earlier (lower-id) cluster member exceeds tau. The
# clustering reuses the Lloyd-refined IVF codebook (operators/ann.py),
# so the candidate set is per-cell — never the N² corpus square: at
# 100 TB the within-cell pair count is N²/n_cells per cell on average,
# and n_cells scales with N (the serving codebook), keeping the verify
# join bucket-bounded exactly like the MinHash-LSH text path. One-pass
# lower-id keep rule (the standard streaming approximation of the
# per-cluster dedup in the paper).
_SEM_TAU = 0.35


_SEM_CELLS = 16


def _semdedup_sql() -> str:
    from ..functions.vector import duck_cosine

    return f"""WITH {_DUCK_IVF_CODEBOOK},
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {duck_cosine("e.embedding", "c.cvec")} DESC,
                                     c.cid DESC) AS rn
  FROM embeddings e CROSS JOIN cent c),
cells AS (SELECT vec_id, embedding, cid AS cell FROM assign WHERE rn = 1),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM cells a JOIN cells b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {duck_cosine("a.embedding", "b.embedding")} >= {_SEM_TAU})
SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
       (d.vec_id IS NOT NULL) AS is_dup
FROM cells c LEFT JOIN dups d ON c.vec_id = d.vec_id"""


@register("dedup_semantic", _semdedup_sql())
def dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.vector import cosine_staged, l2_norm
    from ..operators.ann import ivf_assign_arrow, lloyd_refine_codebook

    emb = table(spark, sf, "embeddings")
    cents = lloyd_refine_codebook(emb, _SEM_CELLS, iters=1)
    cells = ivf_assign_arrow(emb, _SEM_CELLS, cents=cents).select(
        "vec_id", "embedding", "cell"
    )
    a = cells.select(
        F.col("cell"),
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_vec"),
        # norms staged once per side below the cell join (bit-exact
        # re-grouping — functions/vector.cosine_staged)
        l2_norm(F.col("embedding")).alias("_na"),
    )
    b = cells.select(
        F.col("cell"),
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_vec"),
        l2_norm(F.col("embedding")).alias("_nb"),
    )
    dups = (
        a.join(b, "cell")
        .where(F.col("a_id") < F.col("b_id"))
        .where(
            cosine_staged(
                F.col("a_vec"), F.col("b_vec"), F.col("_na"), F.col("_nb")
            )
            >= _SEM_TAU
        )
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return cells.join(dups, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# Near-dup cluster representatives — the canonical-document selection
# step that FOLLOWS clustering in a real dedup pipeline: within each
# verified LSH cluster keep the highest-quality member (tiebreak min
# doc_id), discarding the rest. Composes dedup_clusters (LSH candidates
# → exact Jaccard verify → min-label components) with the text quality
# score; the representative pick is one row_number window over the
# cluster key — clusters are clique-ish and tiny, so the window state
# per key is bounded and the whole step scales as the clustering does.
def _quality_cte() -> str:
    in_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""q AS (
  SELECT doc_id,
         0.4 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
         + least(0.3, 0.3 * (CAST(len(list_filter(string_split(text, ' '),
                 w -> w IN ({in_list}))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 3.0)
         + 0.3 * greatest(0.0, 1.0 - least(1.0,
             abs((CAST(length(text) AS DOUBLE)
                  - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE) - 5.0) / 5.0))
           AS quality
  FROM documents)"""


def _representatives_oracle() -> str:
    return f"""WITH RECURSIVE {_duck_shingles(2)},
sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b),
pairs AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.3),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(node, lbl) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, r.lbl FROM reach r JOIN edges e ON e.b = r.node),
clusters AS (
  SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node),
{_quality_cte()},
ranked AS (
  SELECT cluster_id, c.doc_id, quality,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, c.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM clusters c JOIN q ON q.doc_id = c.doc_id)
SELECT cluster_id, doc_id AS rep_doc_id,
       CAST(n_members AS BIGINT) AS n_members, quality AS rep_quality
FROM ranked WHERE rn = 1"""


@register("dedup_representatives", _representatives_oracle())
def dedup_representatives(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import connected_components, lsh_verified_pairs
    from ..operators.textstats import quality_scores

    docs = table(spark, sf, "documents")
    pairs = lsh_verified_pairs(docs, threshold=0.3)
    clusters = connected_components(pairs)
    q = quality_scores(docs).select("doc_id", "quality")
    m = clusters.join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        m.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("quality").alias("rep_quality"),
        )
    )


# ---------------------------------------------------------------------------
# LSH dedup recall — the eval harness for the dedup scale path (the
# sibling of sim_ivf_recall on the ANN side): how many of the EXACT
# Jaccard-≥0.3 pairs does the MinHash-LSH candidates→verify pipeline
# find at the catalog's 8-perm/4-band config? Verified pairs are a
# subset of the exact set by construction (candidates are exact-
# verified), so recall = |verified| ∩ |exact| / |exact| measures pure
# candidate-generation loss. Engine-exact: both legs are integer pair
# counts, one division at the end. This is the number that justifies
# (or indicts) a band/permutation config before a 100 TB run — sharper
# configs (32/8, the bench's scale leg) trade signature cost for
# recall, and this entry is how the trade is measured.
def _lsh_recall_oracle() -> str:
    return f"""WITH {_duck_shingles(2)},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
excommon AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
exact AS (
  SELECT doc_a, doc_b FROM excommon
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE)
        / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.3),
sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id),
vcommon AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b),
lshp AS (
  SELECT doc_a, doc_b FROM vcommon
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE)
        / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.3)
SELECT (SELECT count(*) FROM exact) AS n_exact,
       (SELECT count(*) FROM exact e
        JOIN lshp l ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b)
         AS n_found,
       CAST((SELECT count(*) FROM exact e
             JOIN lshp l ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b)
            AS DOUBLE)
       / CAST((SELECT count(*) FROM exact) AS DOUBLE) AS recall"""


@register("dedup_lsh_recall", _lsh_recall_oracle())
def dedup_lsh_recall(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import jaccard_pairs, lsh_verified_pairs

    docs = table(spark, sf, "documents")
    exact = jaccard_pairs(docs, threshold=0.3).select("doc_a", "doc_b")
    lshp = lsh_verified_pairs(docs, threshold=0.3).select(
        "doc_a", "doc_b"
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_found = exact.join(lshp, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_found")
    )
    return n_exact.crossJoin(n_found).select(
        "n_exact",
        "n_found",
        # try_divide: a corpus with NO true near-dup pairs has recall
        # NULL (0/0), matching DuckDB's x/0 → NULL — plain ANSI division
        # would abort the job on a clean corpus (parity_fuzz, random).
        F.try_divide(
            F.col("n_found").cast("double"),
            F.col("n_exact").cast("double"),
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Continuation detection — hash the first and last _EDGE_LEN characters
# of every doc; a (suffix_a = prefix_b, a ≠ b) join names candidate
# split-document pairs for reassembly. Chunked crawls and paginated
# exports produce exactly this shape, and whole-doc dedup can never see
# it (the halves hash differently). The join key is an md5 — uniform,
# shuffle-friendly; candidates are verified downstream (same contract
# as LSH→verify).
_EDGE_LEN = 32


@register(
    "dedup_continuation",
    f"""WITH edges AS (
  SELECT doc_id,
         md5(substr(text, 1, {_EDGE_LEN})) AS prefix_h,
         md5(substr(text, length(text) - {_EDGE_LEN} + 1,
                    {_EDGE_LEN})) AS suffix_h
  FROM documents WHERE length(text) >= {_EDGE_LEN}),
pairs AS (
  SELECT a.doc_id AS head_doc, b.doc_id AS tail_doc
  FROM edges a JOIN edges b
    ON a.suffix_h = b.prefix_h AND a.doc_id <> b.doc_id)
SELECT head_doc, tail_doc FROM pairs""",
)
def dedup_continuation(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").where(
        F.length("text") >= _EDGE_LEN
    )
    edges = docs.select(
        "doc_id",
        F.md5(F.substring("text", 1, _EDGE_LEN)).alias("prefix_h"),
        F.md5(
            F.col("text").substr(
                F.length("text") - _EDGE_LEN + 1, F.lit(_EDGE_LEN)
            )
        ).alias("suffix_h"),
    )
    a = edges.select(
        F.col("doc_id").alias("head_doc"),
        F.col("suffix_h").alias("k"),
    )
    b = edges.select(
        F.col("doc_id").alias("tail_doc"),
        F.col("prefix_h").alias("k"),
    )
    return (
        a.join(b, "k")
        .where(F.col("head_doc") != F.col("tail_doc"))
        .select("head_doc", "tail_doc")
    )
