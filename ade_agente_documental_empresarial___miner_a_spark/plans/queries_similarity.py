"""Similarity-search queries — exact and ANN top-k (IVF, PQ, HNSW),
hybrid and fused ranking, serving-index reads (``sim_*``) and embedding
statistics (``emb_*``), each oracle-paired with DuckDB.
"""

from __future__ import annotations

import math
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
from ..functions.vector import (
    abs_max,
    cosine_staged,
    cosine_to_literal,
    duck_abs_max,
    duck_cosine,
    duck_dot,
    duck_int_dot,
    duck_l2_sq,
    duck_quantize_i8,
    int_dot,
    l2_norm,
    quantize_i8,
)
from ..operators import ann
from ..operators.ann import PQ_KSUB, PQ_M, PQ_SUBDIM
from ..operators.embedding import embed_one
from ..operators.similarity import knn_join
from .catalog import _source_tag, register, table
from .queries_dedup import (
    _DUCK_IVF_CODEBOOK,
    _IVF_K,
    _IVF_N,
    _IVF_NPROBE,
    _IVF_QID,
    _PLANES,
)
from .queries_text import _BM25_TERMS, _DUCK_BM25_TOPK, text_bm25_topk


# ---------------------------------------------------------------------------
# Similarity search
@register(
    "sim_knn_bruteforce",
    f"""WITH q AS (SELECT vec_id AS query_id, embedding AS _qvec
           FROM embeddings WHERE vec_id < 10),
s AS (SELECT q.query_id, e.vec_id, e.label,
             {duck_cosine("e.embedding", "q._qvec")} AS score
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
r AS (SELECT query_id, vec_id, label, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk
      FROM s)
SELECT query_id, vec_id, label, score, rnk FROM r WHERE rnk <= 5""",
)
def sim_knn_bruteforce_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_join(queries, emb, k=5, exclude_same_id="vec_id")
    return out.select(
        "query_id", "vec_id", "label", "score", F.col("rnk").cast("long").alias("rnk")
    )


@register(
    "sim_lsh_bucketed",
    f"""WITH bucketed AS (
  SELECT vec_id, label, embedding, {ann.duck_bucket("embedding", _PLANES)} AS bucket
  FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS _qvec, bucket
      FROM bucketed WHERE vec_id < 10),
cand AS (
  SELECT q.query_id, b.vec_id, {duck_cosine("b.embedding", "q._qvec")} AS score
  FROM bucketed b JOIN q ON b.bucket = q.bucket
  WHERE b.vec_id <> q.query_id),
r AS (SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk
      FROM cand)
SELECT query_id, vec_id, score, rnk FROM r WHERE rnk <= 3""",
)
def sim_lsh_bucketed_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return ann.lsh_topk(queries, emb, k=3, planes=_PLANES)


@register(
    "sim_ivf_topk",
    f"""WITH {_DUCK_IVF_CODEBOOK},
assign AS (
  SELECT e.vec_id, e.label, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {duck_cosine("e.embedding", "c.cvec")} DESC,
                                     c.cid DESC) AS rn
  FROM embeddings e CROSS JOIN cent c),
cells AS (SELECT vec_id, label, embedding, cid AS cell FROM assign WHERE rn = 1),
q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {_IVF_QID}),
qc AS (SELECT c.cid FROM cent c, q
       ORDER BY {duck_cosine("c.cvec", "q.qvec")} DESC, c.cid DESC LIMIT {_IVF_NPROBE}),
scored AS (
  SELECT ce.vec_id, ce.label, {duck_cosine("ce.embedding", "q.qvec")} AS score
  FROM cells ce, q WHERE ce.cell IN (SELECT cid FROM qc)),
ranked AS (
  SELECT vec_id, label, score,
         row_number() OVER (ORDER BY score DESC, vec_id) AS rnk
  FROM scored)
SELECT vec_id, label, score, rnk FROM ranked WHERE rnk <= {_IVF_K}""",
)
def sim_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    return ann.ivf_topk(
        table(spark, sf, "embeddings"),
        query_id=_IVF_QID,
        k=_IVF_K,
        nprobe=_IVF_NPROBE,
        n_centroids=_IVF_N,
        refine_iters=1,
    )


@register(
    "sim_quantized_topk",
    f"""WITH e AS (
  SELECT vec_id, embedding, {duck_abs_max("embedding")} AS m FROM embeddings),
q8 AS (
  SELECT vec_id, m, {duck_quantize_i8("embedding", "m")} AS q FROM e),
qs AS (SELECT vec_id AS query_id, m AS qm, q AS qq FROM q8 WHERE vec_id < 10),
sc AS (
  SELECT s.query_id, e.vec_id,
         CAST({duck_int_dot("e.q", "s.qq")} AS DOUBLE)
         * (e.m / 127.0) * (s.qm / 127.0) AS approx_dot
  FROM q8 e CROSS JOIN qs s WHERE e.vec_id <> s.query_id),
ranked AS (
  SELECT query_id, vec_id, approx_dot,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_dot DESC, vec_id) AS rnk
  FROM sc)
SELECT query_id, vec_id, CAST(rnk AS BIGINT) AS rnk, approx_dot
FROM ranked WHERE rnk <= 5""",
)
def sim_quantized_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    q8 = emb.select(
        "vec_id",
        abs_max(F.col("embedding")).alias("m"),  # zero-guard folded in
        "embedding",
    ).select(
        "vec_id", "m",
        quantize_i8(F.col("embedding"), F.col("m")).alias("q"),
    )
    qs = q8.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("m").alias("qm"),
        F.col("q").alias("qq"),
    )
    scored = (
        q8.crossJoin(F.broadcast(qs))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "approx_dot",
            int_dot(F.col("q"), F.col("qq")).cast("double")
            * (F.col("m") / 127.0)
            * (F.col("qm") / 127.0),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_dot"), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 5)
        .select("query_id", "vec_id", "rnk", "approx_dot")
    )


# ---------------------------------------------------------------------------
# sim_ivf_quantized — the composition that actually ships at scale: IVF
# cell pruning (nprobe/n_centroids of the data touched) over int8 codes
# (4× less IO inside the probed cells). sim_quantized_topk above is the
# compressed-SCAN baseline; this is the pruned path. Shares the Lloyd-
# refined codebook CTE with sim_ivf_topk, so the oracle replays codebook →
# assign → quantize → probe → integer-dot rank end-to-end.
_DUCK_IVF_QUANTIZED = f"""WITH {_DUCK_IVF_CODEBOOK},
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {duck_cosine("e.embedding", "c.cvec")} DESC,
                                     c.cid DESC) AS rn
  FROM embeddings e CROSS JOIN cent c),
cells AS (SELECT vec_id, embedding, cid AS cell FROM assign WHERE rn = 1),
e8 AS (
  SELECT vec_id, cell, embedding,
         {duck_abs_max("embedding")} AS m,
         {duck_quantize_i8("embedding", duck_abs_max("embedding"))} AS q
  FROM cells),
qs AS (SELECT vec_id AS query_id, embedding AS qvec, m AS qm, q AS qq
       FROM e8 WHERE vec_id < 10),
probe AS (
  SELECT s.query_id, c.cid,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY {duck_cosine("c.cvec", "s.qvec")} DESC,
                                     c.cid DESC) AS prn
  FROM qs s CROSS JOIN cent c),
sc AS (
  SELECT s.query_id, e.vec_id,
         CAST({duck_int_dot("e.q", "s.qq")} AS DOUBLE)
         * (e.m / 127.0) * (s.qm / 127.0) AS approx_dot
  FROM e8 e, qs s, (SELECT query_id, cid FROM probe WHERE prn <= 4) p
  WHERE p.query_id = s.query_id AND p.cid = e.cell
    AND e.vec_id <> s.query_id),
ranked AS (
  SELECT query_id, vec_id, approx_dot,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_dot DESC, vec_id) AS rnk
  FROM sc)
SELECT query_id, vec_id, CAST(rnk AS BIGINT) AS rnk, approx_dot
FROM ranked WHERE rnk <= 5"""


@register("sim_ivf_quantized", _DUCK_IVF_QUANTIZED)
def sim_ivf_quantized(spark: SparkSession, sf: str) -> DataFrame:
    return ann.ivf_quantized_topk(
        table(spark, sf, "embeddings"),
        query_max_id=10,
        k=5,
        nprobe=_IVF_NPROBE,
        n_centroids=_IVF_N,
        refine_iters=1,
    )


# ---------------------------------------------------------------------------
# sim_ivf_persisted — S8 at serving scale: the IVF/int8 index is BUILT
# ONCE (codebook + cell-partitioned int8 codes on disk,
# operators/ann.save_ivf_i8_index) and the query only READS it — no
# codebook refinement, assignment, or quantization job at query time
# (test_index_ann pins that by making the build entry points raise).
# The oracle is sim_ivf_quantized's full replay SQL: the persisted path
# must be bit-identical to recomputing the index from scratch, which is
# exactly the invariant a saved index has to honor.
@register("sim_ivf_persisted", _DUCK_IVF_QUANTIZED)
def sim_ivf_persisted(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    path = f"/tmp/ade_ivf_i8_{_source_tag(sf, 'embeddings')}"
    if not os.path.exists(os.path.join(path, "codes", "_SUCCESS")):
        ann.save_ivf_i8_index(
            emb, path, n_centroids=_IVF_N, refine_iters=1
        )
    codes, cents = ann.load_ivf_i8_index(spark, path)
    queries = emb.where(F.col("vec_id") < 10)
    return ann.ivf_i8_search(
        codes, cents, queries, k=5, nprobe=_IVF_NPROBE
    )


# ---------------------------------------------------------------------------
# Element-wise embedding mean-pooling — the aggregation that turns chunk
# or member vectors into a document/class-level vector (centroids for
# classification, doc vectors from chunk vectors, cluster summaries).
# Exactness: float sums are fold-order-dependent, and DECIMAL quantization
# of raw doubles is engine-divergent at the last digit (Spark casts via the
# double's shortest string repr, DuckDB via the exact binary value — a
# 1e-10 disagreement per element surfaced at sf0.01). The bit-exact recipe
# is the one round 1 verified for cosine/histogram parity: a DETERMINISTIC
# left fold — collect per-(label,pos) values sorted by vec_id and sum with
# F.aggregate, which DuckDB mirrors exactly with
# list_aggregate(list(v ORDER BY vec_id), 'sum'). Scale: posexplode is
# map-only (dim×N rows); groupBy(label,pos) shuffles once; the per-group
# list is N/n_labels values — fine for centroid counts in the thousands.
# For billion-vector corpora drop the determinism requirement and use
# plain F.avg (map-side combinable, no lists); the fold here is the
# oracle-exact shape, per-position means are identical up to float
# addition order.
# Output shape: exploded (label, pos, mean_v, n_vecs) rows rather than a
# label→ARRAY<DOUBLE> centroid column — the driver's canonicalizer sorts
# result columns via pandas and cannot hash list cells (r04 RED,
# CORRECTNESS_r04 `TypeError: unhashable type: 'list'`); every other
# catalog entry already flattens arrays (array_join / explode), and the
# long form is also what the downstream broadcast-scoring join
# (emb_centroid_classify) consumes.
@register(
    "emb_label_centroids",
    """WITH ex AS (
  SELECT vec_id, label,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         unnest(embedding) AS v
  FROM embeddings)
SELECT label, CAST(pos AS BIGINT) AS pos,
       list_aggregate(list(CAST(v AS DOUBLE) ORDER BY vec_id), 'sum')
         / count(*) AS mean_v,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM ex GROUP BY label, pos""",
)
def emb_label_centroids(spark: SparkSession, sf: str) -> DataFrame:
    ex = table(spark, sf, "embeddings").select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    )
    return ex.groupBy("label", "pos").agg(
        (
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("vec_id", "v"))),
                    lambda s: s["v"].cast("double"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.count(F.lit(1))
        ).alias("mean_v"),
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
    ).select("label", F.col("pos").cast("long").alias("pos"), "mean_v", "n_vecs")


# ---------------------------------------------------------------------------
# Nearest-centroid classification — assign every vector to its closest
# label centroid (cosine) and report the confusion matrix. Composes
# emb_label_centroids (the training step) with a broadcast scoring join:
# centroids are labels×dim (10×64 here — kilobytes at any corpus size),
# so scoring is a BROADCAST join on pos + one groupBy(vec_id, clabel);
# nothing shuffles on the big side beyond the per-vector reduction. At
# 100 TB you would fold the centroid matrix into a literal array and
# zip_with it per-row (pure map); the exploded-join here is the
# oracle-exact shape. Float parity: every reduction (dot, both norms,
# centroid means) is a pos/vec_id-sorted deterministic fold; sqrt is
# IEEE-correctly-rounded on both engines; argmax tie-breaks on clabel.
@register(
    "emb_centroid_classify",
    """WITH ex AS (
  SELECT vec_id, label,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
cent AS (
  SELECT label AS clabel, pos,
         list_aggregate(list(v ORDER BY vec_id), 'sum') / count(*) AS c
  FROM ex GROUP BY label, pos),
cnorm AS (
  SELECT clabel,
         sqrt(list_aggregate(list(c * c ORDER BY pos), 'sum')) AS nc
  FROM cent GROUP BY clabel),
vnorm AS (
  SELECT vec_id,
         sqrt(list_aggregate(list(v * v ORDER BY pos), 'sum')) AS nv
  FROM ex GROUP BY vec_id),
dots AS (
  SELECT ex.vec_id, cent.clabel,
         list_aggregate(list(ex.v * cent.c ORDER BY ex.pos), 'sum') AS dot
  FROM ex JOIN cent ON ex.pos = cent.pos
  GROUP BY ex.vec_id, cent.clabel),
ranked AS (
  SELECT d.vec_id, d.clabel,
         row_number() OVER (
           PARTITION BY d.vec_id
           ORDER BY d.dot / (vnorm.nv * cnorm.nc) DESC, d.clabel) AS rnk
  FROM dots d
  JOIN vnorm ON d.vec_id = vnorm.vec_id
  JOIN cnorm ON d.clabel = cnorm.clabel),
pred AS (
  SELECT e.vec_id, e.label AS true_label, r.clabel AS pred_label
  FROM (SELECT DISTINCT vec_id, label FROM ex) e
  JOIN ranked r ON e.vec_id = r.vec_id AND r.rnk = 1)
SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY true_label, pred_label""",
)
def emb_centroid_classify(spark: SparkSession, sf: str) -> DataFrame:
    ex = table(spark, sf, "embeddings").select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).withColumn("v", F.col("v").cast("double"))

    def _fold(col):
        return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x)

    cent = ex.groupBy(F.col("label").alias("clabel"), "pos").agg(
        (
            _fold(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("vec_id", "v"))),
                    lambda s: s["v"],
                )
            )
            / F.count(F.lit(1))
        ).alias("c")
    )
    cnorm = cent.groupBy("clabel").agg(
        F.sqrt(
            _fold(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", (F.col("c") * F.col("c")).alias("cc")))
                    ),
                    lambda s: s["cc"],
                )
            )
        ).alias("nc")
    )
    vnorm = ex.groupBy("vec_id").agg(
        F.sqrt(
            _fold(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", (F.col("v") * F.col("v")).alias("vv")))
                    ),
                    lambda s: s["vv"],
                )
            )
        ).alias("nv")
    )
    dots = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "clabel")
        .agg(
            _fold(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", (F.col("v") * F.col("c")).alias("vc")))
                    ),
                    lambda s: s["vc"],
                )
            ).alias("dot")
        )
    )
    from pyspark.sql.window import Window

    ranked = (
        dots.join(vnorm, "vec_id")
        .join(F.broadcast(cnorm), "clabel")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    # try_divide: zero-norm vectors rank all centroids
                    # NULL (DESC NULLS LAST → tie on clabel), matching
                    # the oracle instead of aborting the job
                    F.desc(
                        F.try_divide(
                            F.col("dot"), F.col("nv") * F.col("nc")
                        )
                    ),
                    "clabel",
                )
            ),
        )
        .filter(F.col("rnk") == 1)
        .select("vec_id", F.col("clabel").alias("pred_label"))
    )
    truth = ex.select("vec_id", F.col("label").alias("true_label")).distinct()
    return (
        truth.join(ranked, "vec_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# Product quantization ADC — the compression step beyond sim_quantized_
# topk's int8 (4×): M=8 subspace codes of ksub=16 make a 64-dim float32
# vector 8 bytes at rest (32×), the storage layout of billion-vector
# IVF-PQ serving (Jégou et al., TPAMI'11). Training (sub-slices of the
# 16 smallest-id seeds), encoding (min-L2² code per subspace, map-only
# literal projection), and ADC scoring (query keeps floats, candidates
# are approximated by their centroids; per-subspace terms summed in
# subspace order) all replay in the oracle from the same parquet. See
# operators/ann.py:pq_* for the 100 TB shape discussion.
_DUCK_PQ_ADC = f"""WITH subs AS (
  SELECT unnest(generate_series(0, {PQ_M - 1})) AS sub),
seeds AS (SELECT vec_id AS cid, embedding FROM embeddings
          WHERE vec_id < {PQ_KSUB}),
cent1 AS (
  SELECT s.sub, cid,
         list_slice(embedding, s.sub*{PQ_SUBDIM}+1, s.sub*{PQ_SUBDIM}+{PQ_SUBDIM}) AS cvec
  FROM seeds, subs s),
subv AS (
  SELECT vec_id, s.sub,
         list_slice(embedding, s.sub*{PQ_SUBDIM}+1, s.sub*{PQ_SUBDIM}+{PQ_SUBDIM}) AS sv
  FROM embeddings, subs s),
codes1 AS (
  SELECT vec_id, sub, cid FROM (
    SELECT v.vec_id, v.sub, c.cid,
           row_number() OVER (PARTITION BY v.vec_id, v.sub
                              ORDER BY {duck_l2_sq('v.sv', 'c.cvec')}, c.cid) AS rn
    FROM subv v JOIN cent1 c ON v.sub = c.sub)
  WHERE rn = 1),
-- one Lloyd pass: per (sub, cid, pos) exact sorted-fold mean of the
-- assigned subvectors (mirrors pq_refine_codebooks bit-for-bit)
exs AS (
  SELECT vec_id,
         (unnest(generate_series(1, len(embedding))) - 1) // {PQ_SUBDIM} AS sub,
         (unnest(generate_series(1, len(embedding))) - 1) % {PQ_SUBDIM} AS spos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
cent2p AS (
  SELECT a.sub, a.cid, e.spos,
         list_aggregate(list(e.v ORDER BY e.vec_id), 'sum') / count(*) AS c
  FROM codes1 a JOIN exs e ON a.vec_id = e.vec_id AND a.sub = e.sub
  GROUP BY a.sub, a.cid, e.spos),
cent AS (
  SELECT sub, cid, list(c ORDER BY spos) AS cvec
  FROM cent2p GROUP BY sub, cid),
codes AS (
  SELECT vec_id, sub, cid FROM (
    SELECT v.vec_id, v.sub, c.cid,
           row_number() OVER (PARTITION BY v.vec_id, v.sub
                              ORDER BY {duck_l2_sq('v.sv', 'c.cvec')}, c.cid) AS rn
    FROM subv v JOIN cent c ON v.sub = c.sub)
  WHERE rn = 1),
qsub AS (
  SELECT vec_id AS query_id, sub, sv AS qv FROM subv WHERE vec_id < 10),
terms AS (
  SELECT q.query_id, e.vec_id, e.sub, {duck_l2_sq('q.qv', 'c.cvec')} AS t
  FROM codes e
  JOIN cent c ON e.sub = c.sub AND e.cid = c.cid
  JOIN qsub q ON q.sub = e.sub
  WHERE e.vec_id <> q.query_id),
adist AS (
  SELECT query_id, vec_id,
         list_aggregate(list(t ORDER BY sub), 'sum') AS approx_l2
  FROM terms GROUP BY query_id, vec_id),
ranked AS (
  SELECT query_id, vec_id, approx_l2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_l2, vec_id) AS rnk
  FROM adist)
SELECT query_id, vec_id, CAST(rnk AS BIGINT) AS rnk, approx_l2
FROM ranked WHERE rnk <= 5"""


@register("sim_pq_adc_topk", _DUCK_PQ_ADC)
def sim_pq_adc_topk(spark: SparkSession, sf: str) -> DataFrame:
    return ann.pq_adc_topk(
        table(spark, sf, "embeddings"), query_max_id=10, k=5
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25) and
# dense (embedding cosine) rankings for the SAME query text — the
# standard combiner every hybrid search stack runs (RRF, Cormack et al.
# SIGIR'09: score(d) = Σ_legs 1/(60 + rank_leg(d)); rank-space fusion
# needs no score normalization between legs, which is why it won). The
# dense query vector is the engine's own T5 hashing embedder applied to
# the query string at plan-build time (operators/embedding.embed_one —
# pure Python, deterministic), so both legs genuinely share one query
# and the oracle inlines the same 64 literal floats. Each leg reduces
# with TakeOrderedAndProject before the bounded-10-row rank window; the
# fusion join is 10×10. Float parity: 1/(60+rank) is one correctly-
# rounded division, the fusion sum is one addition with fixed operand
# order (lex + dense) — no fold, no quantization needed.
_RRF_QVEC = embed_one(" ".join(_BM25_TERMS))
_RRF_QLIT = "[" + ", ".join(repr(float(x)) for x in _RRF_QVEC) + "]"


@register(
    "sim_rrf_fusion",
    f"""WITH lex0 AS ({_DUCK_BM25_TOPK}),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rnk
  FROM lex0),
dense0 AS (
  SELECT vec_id AS doc_id,
         {duck_cosine("embedding", _RRF_QLIT)} AS dscore
  FROM embeddings
  ORDER BY dscore DESC, doc_id LIMIT 10),
dense AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY dscore DESC, doc_id) AS vec_rnk
  FROM dense0)
SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.lex_rnk, d.vec_rnk,
       COALESCE(1.0 / (60 + l.lex_rnk), 0.0)
       + COALESCE(1.0 / (60 + d.vec_rnk), 0.0) AS rrf_score
FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id""",
)
def sim_rrf_fusion(spark: SparkSession, sf: str) -> DataFrame:
    lex0 = text_bm25_topk(spark, sf)  # already TakeOrdered k=10
    wl = Window.orderBy(F.desc("score"), "doc_id")
    lex = lex0.withColumn(
        "lex_rnk", F.row_number().over(wl).cast("long")
    ).select("doc_id", "lex_rnk")

    emb = table(spark, sf, "embeddings")
    dense0 = (
        emb.select(
            F.col("vec_id").alias("doc_id"),
            # literal query: |q| folds to a driver constant
            # (bit-exact re-grouping — cosine_to_literal)
            cosine_to_literal(F.col("embedding"), _RRF_QVEC).alias("dscore"),
        )
        .orderBy(F.desc("dscore"), "doc_id")
        .limit(10)
    )
    wd = Window.orderBy(F.desc("dscore"), "doc_id")
    dense = dense0.withColumn(
        "vec_rnk", F.row_number().over(wd).cast("long")
    ).select("doc_id", "vec_rnk")

    fused = lex.join(dense, ["doc_id"], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("lex_rnk")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("vec_rnk")), F.lit(0.0)
    )
    return fused.select(
        "doc_id", "lex_rnk", "vec_rnk", rrf.alias("rrf_score")
    )


# ---------------------------------------------------------------------------
# Embedding outlier detection — per label, the 3 members farthest (by
# cosine distance) from their label centroid: the curation screen that
# catches mislabeled/garbage vectors before training (the embedding-
# space sibling of cur_quality_gate). Composes the emb_label_centroids
# training step (sorted-fold exact means) with a broadcast scoring join
# — labels×dim centroids are kilobytes at any corpus size — and a
# per-label WindowGroupLimit. Every reduction is a pos/vec_id-ordered
# deterministic fold; sqrt is correctly-rounded IEEE; argsort ties break
# on vec_id. At 100 TB: fold centroids into a literal matrix and score
# with zip_with per row (pure map) — the exploded-join here is the
# oracle-exact shape.
@register(
    "emb_outlier_scores",
    """WITH ex AS (
  SELECT vec_id, label,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
cent AS (
  SELECT label, pos,
         list_aggregate(list(v ORDER BY vec_id), 'sum') / count(*) AS c
  FROM ex GROUP BY label, pos),
cnorm AS (
  SELECT label, sqrt(list_aggregate(list(c * c ORDER BY pos), 'sum')) AS nc
  FROM cent GROUP BY label),
vnorm AS (
  SELECT vec_id, sqrt(list_aggregate(list(v * v ORDER BY pos), 'sum')) AS nv
  FROM ex GROUP BY vec_id),
dots AS (
  SELECT e.vec_id, e.label,
         list_aggregate(list(e.v * c.c ORDER BY e.pos), 'sum') AS dot
  FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos
  GROUP BY e.vec_id, e.label),
scored AS (
  SELECT d.vec_id, d.label,
         1.0 - d.dot / (vnorm.nv * cnorm.nc) AS centroid_dist
  FROM dots d
  JOIN vnorm ON d.vec_id = vnorm.vec_id
  JOIN cnorm ON d.label = cnorm.label)
SELECT label, vec_id, centroid_dist, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY label
                               ORDER BY centroid_dist DESC, vec_id) AS rnk
  FROM scored)
WHERE rnk <= 3""",
)
def emb_outlier_scores(spark: SparkSession, sf: str) -> DataFrame:
    ex = (
        table(spark, sf, "embeddings")
        .select("vec_id", "label", F.posexplode("embedding").alias("pos", "v"))
        .withColumn("v", F.col("v").cast("double"))
    )

    def _fold(col):
        return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x)

    def _sorted_fold(key, val):
        return _fold(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(key.alias("k"), val.alias("x")))
                ),
                lambda s: s["x"],
            )
        )

    cent = ex.groupBy("label", "pos").agg(
        (_sorted_fold(F.col("vec_id"), F.col("v")) / F.count(F.lit(1))).alias("c")
    )
    cnorm = cent.groupBy("label").agg(
        F.sqrt(
            _sorted_fold(F.col("pos"), F.col("c") * F.col("c"))
        ).alias("nc")
    )
    vnorm = ex.groupBy("vec_id").agg(
        F.sqrt(
            _sorted_fold(F.col("pos"), F.col("v") * F.col("v"))
        ).alias("nv")
    )
    dots = (
        ex.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            _sorted_fold(F.col("pos"), F.col("v") * F.col("c")).alias("dot")
        )
    )
    scored = (
        dots.join(vnorm, "vec_id")
        .join(F.broadcast(cnorm), "label")
        .select(
            "label",
            "vec_id",
            # try_divide: zero-norm vectors get NULL distance (ranked
            # last under DESC), matching the oracle's x/0 → NULL
            (
                F.lit(1.0)
                - F.try_divide(F.col("dot"), F.col("nv") * F.col("nc"))
            ).alias("centroid_dist"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("centroid_dist"), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
    )


_DIM = 64


_PCA_ITERS = 2


# ---------------------------------------------------------------------------
# Top principal component, matrix-free power iteration: v <- X'(Xv),
# normalized — never materializes the 64x64 covariance (at 100 TB the
# Gram matrix accumulation would be one giant shuffle of d² cells; the
# matrix-free form is two co-partitioned joins per iteration, each
# O(N·d) map work, with the d-vector riding a broadcast). Start vector
# is the exact double 1/8 per position (uniform unit vector — 1/sqrt(64)
# is exactly representable, so iteration 0 is bit-clean on both
# engines). Two unrolled iterations; each dot/sum uses the quantize-
# then-decimal-fold recipe, so the whole recurrence is engine-exact.
# NOTE: mean-centering is deliberately omitted (the hashing embedder
# output is near-centered); this is the dominant-direction extractor,
# the building block under PCA/pq codebook drift monitoring.
def _pca_sql() -> str:
    parts = [
        f"""e AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) - 1 AS j,
         CAST(unnest(embedding) AS DOUBLE) AS xij
  FROM embeddings),
v0 AS (SELECT unnest(generate_series(0, {_DIM - 1})) AS j,
              CAST(0.125 AS DOUBLE) AS vj)"""
    ]
    for i in range(1, _PCA_ITERS + 1):
        parts.append(
            f"""s{i} AS (
  SELECT vec_id,
         CAST(sum(CAST(round(xij * vj * 1e12) / 1e12
                       AS DECIMAL(26,12))) AS DOUBLE)
           AS s
  FROM e JOIN v{i - 1} USING (j) GROUP BY vec_id),
w{i} AS (
  SELECT j,
         CAST(sum(CAST(round(xij * s * 1e12) / 1e12
                       AS DECIMAL(26,12))) AS DOUBLE)
           AS w
  FROM e JOIN s{i} USING (vec_id) GROUP BY j),
n{i} AS (
  SELECT sqrt(CAST(sum(CAST(round(w * w * 1e12) / 1e12
                        AS DECIMAL(30,12)))
              AS DOUBLE)) AS nrm
  FROM w{i}),
v{i} AS (SELECT j, round((w / nrm) * 1e12) / 1e12 AS vj
         FROM w{i} CROSS JOIN n{i})"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(j AS BIGINT) AS pos, vj AS loading FROM v{_PCA_ITERS}"""
    )


@register("emb_pca_power", _pca_sql())
def emb_pca_power(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    e = emb.select("vec_id", F.posexplode("x").alias("j", "xij"))
    v = spark.range(_DIM).select(
        F.col("id").alias("j"), F.lit(0.125).alias("vj")
    )
    for _ in range(_PCA_ITERS):
        s = (
            e.join(F.broadcast(v), "j")
            .groupBy("vec_id")
            .agg(
                F.sum(
                    dblround(F.col("xij") * F.col("vj"), 12).cast(
                        "decimal(26,12)"
                    )
                )
                .cast("double")
                .alias("s")
            )
        )
        w = (
            e.join(s, "vec_id")
            .groupBy("j")
            .agg(
                F.sum(
                    dblround(F.col("xij") * F.col("s"), 12).cast(
                        "decimal(26,12)"
                    )
                )
                .cast("double")
                .alias("w")
            )
        )
        nrm = w.agg(
            F.sqrt(
                F.sum(
                    dblround(F.col("w") * F.col("w"), 12).cast(
                        "decimal(30,12)"
                    )
                ).cast("double")
            ).alias("nrm")
        )
        v = w.crossJoin(F.broadcast(nrm)).select(
            "j", dblround(F.col("w") / F.col("nrm"), 12).alias("vj")
        )
    return v.select(
        F.col("j").cast("long").alias("pos"), F.col("vj").alias("loading")
    )


# ---------------------------------------------------------------------------
# ANN recall evaluation — the eval harness every ANN deployment runs
# before turning down nprobe: recall@5 of the IVF path against exact
# brute-force, over a deterministic probe set (vec_id % 64 == 3). Both
# legs rank by the same bit-identical cosine with the same tie-break,
# so the overlap count — and therefore the recall — is engine-exact.
# Scale shape: the IVF leg touches only the probed cells per query; the
# exact leg (the expensive one) is precisely the cost the IVF path
# avoids — which is why evals run on a sampled probe set, as here.
_EVAL_K = 5


_EVAL_NPROBE = 4


def _ivf_recall_sql() -> str:
    from ..functions.vector import duck_cosine

    return f"""WITH {_DUCK_IVF_CODEBOOK},
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {duck_cosine("e.embedding", "c.cvec")} DESC,
                                     c.cid DESC) AS rn
  FROM embeddings e CROSS JOIN cent c),
cells AS (SELECT vec_id, embedding, cid AS cell FROM assign WHERE rn = 1),
queries AS (
  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
  WHERE vec_id % 64 = 3),
qc AS (
  SELECT qid, cid FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {duck_cosine("c.cvec", "q.qvec")} DESC,
                                       c.cid DESC) AS rn
    FROM cent c CROSS JOIN queries q)
  WHERE rn <= {_EVAL_NPROBE}),
ivf5 AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, ce.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {duck_cosine("ce.embedding", "q.qvec")} DESC,
                                       ce.vec_id) AS rn
    FROM cells ce JOIN qc ON ce.cell = qc.cid
    JOIN queries q ON q.qid = qc.qid)
  WHERE rn <= {_EVAL_K}),
exact5 AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {duck_cosine("e.embedding", "q.qvec")} DESC,
                                       e.vec_id) AS rn
    FROM embeddings e CROSS JOIN queries q)
  WHERE rn <= {_EVAL_K})
SELECT exact5.qid,
       CAST(count(ivf5.vec_id) AS BIGINT) AS n_overlap,
       round((count(ivf5.vec_id) / {_EVAL_K}) * 1e9) / 1e9 AS recall
FROM exact5 LEFT JOIN ivf5
  ON exact5.qid = ivf5.qid AND exact5.vec_id = ivf5.vec_id
GROUP BY exact5.qid"""


@register("sim_ivf_recall", _ivf_recall_sql())
def sim_ivf_recall(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.vector import cosine_staged, l2_norm

    emb = table(spark, sf, "embeddings")
    cents, assigned = ann.ivf_cells(emb, 16)
    queries = emb.where(F.col("vec_id") % 64 == 3).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        # norms staged once per side below the joins (bit-exact
        # re-grouping — functions/vector.cosine_staged)
        l2_norm(F.col("embedding")).alias("_qn"),
        ann.probe_cells(F.col("embedding"), cents, _EVAL_NPROBE).alias("_cells"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), "vec_id")
    ivf5 = (
        assigned.withColumn("_vn", l2_norm(F.col("embedding")))
        .join(
            F.broadcast(queries),
            F.array_contains(F.col("_cells"), F.col("cell")),
        )
        .select(
            "qid",
            "vec_id",
            cosine_staged(
                F.col("embedding"), F.col("qvec"), F.col("_vn"), F.col("_qn")
            ).alias("score"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _EVAL_K)
        .select("qid", "vec_id")
    )
    exact5 = (
        emb.withColumn("_vn", l2_norm(F.col("embedding")))
        .crossJoin(F.broadcast(queries.select("qid", "qvec", "_qn")))
        .select(
            "qid",
            "vec_id",
            cosine_staged(
                F.col("embedding"), F.col("qvec"), F.col("_vn"), F.col("_qn")
            ).alias("score"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _EVAL_K)
        .select("qid", "vec_id")
    )
    j = exact5.join(
        ivf5.withColumnRenamed("vec_id", "ivf_vec"),
        (exact5["qid"] == ivf5["qid"])
        & (exact5["vec_id"] == F.col("ivf_vec")),
        "left",
    )
    return j.groupBy(exact5["qid"].alias("qid")).agg(
        F.count("ivf_vec").alias("n_overlap"),
        dblround(F.count("ivf_vec") / _EVAL_K, 9).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation eval — overlap@5 of retrieval with the leading
# 16 of 64 embedding dims vs the full vector (the MRL serving
# question: how much recall does a 4x-cheaper prefix buy?). Same
# engine-exact eval design as sim_ivf_recall: both legs rank by
# bit-identical cosine with the same tie-break over a deterministic
# probe set, so the overlap is exact. At serving scale the truncated
# leg is the candidate generator (4x less bandwidth/compute per
# vector) and the full-dim leg re-ranks its shortlist; this eval is
# the measurement that justifies the split.
_MRL_K = 5


_MRL_DIMS = 16


def _mrl_sql() -> str:
    from ..functions.vector import duck_cosine

    trunc = "list_slice({0}, 1, %d)" % _MRL_DIMS
    return f"""WITH queries AS (
  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
  WHERE vec_id % 64 = 7),
full5 AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {duck_cosine("e.embedding", "q.qvec")} DESC,
                                       e.vec_id) AS rn
    FROM embeddings e CROSS JOIN queries q)
  WHERE rn <= {_MRL_K}),
trunc5 AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {duck_cosine(trunc.format("e.embedding"), trunc.format("q.qvec"))} DESC,
                                       e.vec_id) AS rn
    FROM embeddings e CROSS JOIN queries q)
  WHERE rn <= {_MRL_K})
SELECT full5.qid,
       CAST(count(trunc5.vec_id) AS BIGINT) AS n_overlap,
       round((count(trunc5.vec_id) / {_MRL_K}) * 1e9) / 1e9 AS overlap_at_5
FROM full5 LEFT JOIN trunc5
  ON full5.qid = trunc5.qid AND full5.vec_id = trunc5.vec_id
GROUP BY full5.qid"""


@register("emb_matryoshka_eval", _mrl_sql())
def emb_matryoshka_eval(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.vector import cosine_staged, l2_norm

    emb = table(spark, sf, "embeddings")
    # norms (full and truncated) staged once per side below the join
    # (bit-exact re-grouping — functions/vector.cosine_staged)
    queries = emb.where(F.col("vec_id") % 64 == 7).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        l2_norm(F.col("embedding")).alias("_qn"),
        l2_norm(F.slice(F.col("embedding"), 1, _MRL_DIMS)).alias("_qn_t"),
    )
    embn = emb.withColumn(
        "_vn", l2_norm(F.col("embedding"))
    ).withColumn(
        "_vn_t", l2_norm(F.slice(F.col("embedding"), 1, _MRL_DIMS))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), "vec_id")

    def top5(score_col):
        return (
            embn.crossJoin(F.broadcast(queries))
            .select("qid", "vec_id", score_col.alias("score"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _MRL_K)
            .select("qid", "vec_id")
        )

    full5 = top5(
        cosine_staged(
            F.col("embedding"), F.col("qvec"), F.col("_vn"), F.col("_qn")
        )
    )
    trunc5 = top5(
        cosine_staged(
            F.slice(F.col("embedding"), 1, _MRL_DIMS),
            F.slice(F.col("qvec"), 1, _MRL_DIMS),
            F.col("_vn_t"),
            F.col("_qn_t"),
        )
    )
    j = full5.join(
        trunc5.withColumnRenamed("vec_id", "t_vec"),
        (full5["qid"] == trunc5["qid"])
        & (full5["vec_id"] == F.col("t_vec")),
        "left",
    )
    return j.groupBy(full5["qid"].alias("qid")).agg(
        F.count("t_vec").alias("n_overlap"),
        dblround(F.count("t_vec") / _MRL_K, 9).alias("overlap_at_5"),
    )


# ---------------------------------------------------------------------------
# Metadata-filtered ANN — the filtered-vector-search serving shape: the
# IVF index is built on the FULL corpus (codebook + cell assignment
# unchanged), and the metadata predicate (label = 3) applies to the
# probed candidates at query time — pre-filtering the corpus before
# indexing would be a different (and wrong) contract, since the index
# is shared across every filter. Because filtering thins each probed
# cell, production filtered search widens nprobe — this entry runs
# nprobe=6 vs sim_ivf_topk's 4, making the recall/selectivity trade
# explicit. Same determinism discipline as the other IVF entries
# (Lloyd-refined codebook, score DESC + vec_id tiebreaks).
def _ivf_filtered_oracle() -> str:
    from ..functions.vector import duck_cosine

    qid, nprobe, k, target = 7, 6, 5, 3
    return f"""WITH {_DUCK_IVF_CODEBOOK},
assign AS (
  SELECT e.vec_id, e.label, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {duck_cosine("e.embedding", "c.cvec")} DESC,
                                     c.cid DESC) AS rn
  FROM embeddings e CROSS JOIN cent c),
cells AS (SELECT vec_id, label, embedding, cid AS cell FROM assign WHERE rn = 1),
q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {qid}),
qc AS (SELECT c.cid FROM cent c, q
       ORDER BY {duck_cosine("c.cvec", "q.qvec")} DESC, c.cid DESC LIMIT {nprobe}),
scored AS (
  SELECT ce.vec_id, ce.label, {duck_cosine("ce.embedding", "q.qvec")} AS score
  FROM cells ce, q
  WHERE ce.cell IN (SELECT cid FROM qc) AND ce.label = {target}),
ranked AS (
  SELECT vec_id, label, score,
         row_number() OVER (ORDER BY score DESC, vec_id) AS rnk
  FROM scored)
SELECT vec_id, label, score, rnk FROM ranked WHERE rnk <= {k}"""


@register("sim_ivf_filtered", _ivf_filtered_oracle())
def sim_ivf_filtered(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vector import cosine_staged, l2_norm

    qid, nprobe, k, target, n_cent = 7, 6, 5, 3, 16
    emb = table(spark, sf, "embeddings")
    cents, assigned = ann.ivf_cells(emb, n_cent)
    q = emb.where(F.col("vec_id") == qid).select(
        F.col("embedding").alias("_qvec"),
        # norms staged once per side below the join (bit-exact
        # re-grouping — functions/vector.cosine_staged)
        l2_norm(F.col("embedding")).alias("_qn"),
        ann.probe_cells(F.col("embedding"), cents, nprobe).alias("_cells"),
    )
    cand = (
        assigned.withColumn("_vn", l2_norm(F.col("embedding")))
        .join(
            F.broadcast(q),
            F.array_contains(F.col("_cells"), F.col("cell")),
        )
        .where(F.col("label") == target)
    )
    scored = cand.select(
        "vec_id",
        "label",
        cosine_staged(
            F.col("embedding"), F.col("_qvec"), F.col("_vn"), F.col("_qn")
        ).alias("score"),
    )
    top = scored.orderBy(F.desc("score"), "vec_id").limit(k)
    w = Window.orderBy(F.desc("score"), "vec_id")
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Per-dimension embedding statistics — the StandardScaler FIT step:
# exact mean and (population) std per vector position, the
# dims×2 doubles a 100 TB training job broadcasts to normalize
# features. posexplode is map-side; the aggregate is dim-keyed (64
# groups) with map-side partials; float32 values promote to DOUBLE
# before squaring, sums quantize through DECIMAL so partition fold
# order can't smear bits (std's sqrt is correctly-rounded IEEE on the
# one final double).
@register(
    "emb_dim_stats",
    f"""WITH ex AS (
  SELECT unnest(generate_series(1, len(embedding))) - 1 AS pos,
         unnest(embedding) AS x
  FROM embeddings)
SELECT CAST(pos AS INT) AS dim, count(*) AS n,
       {halfup_mean_duck(
           "sum(CAST(round(CAST(x AS DOUBLE) * 1e9) / 1e9"
           " AS DECIMAL(20,9)))",
           "count(*)", 9)}
         AS dim_mean,
       round(sqrt(greatest(
         CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9)
                       / 1e9 AS DECIMAL(25,9))) AS DOUBLE) / count(*)
         - pow(CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1e9) / 1e9
                             AS DECIMAL(20,9))) AS DOUBLE) / count(*), 2),
         0.0)) * 1e9) / 1e9 AS dim_std
FROM ex GROUP BY pos""",
)
def emb_dim_stats(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings").select("embedding")
    ex = emb.select(
        F.posexplode("embedding").alias("pos", "x")
    )
    xd = dblround(F.col("x").cast("double"), 9).cast("decimal(20,9)")
    x2d = dblround(
        F.col("x").cast("double") * F.col("x").cast("double"), 9
    ).cast("decimal(25,9)")
    sums = ex.groupBy(F.col("pos").cast("int").alias("dim")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("s1d"),
        F.sum(x2d).cast("double").alias("s2"),
    )
    # dim_mean is a round(sum/count) mean over an exact-decimal fold —
    # integer-exact HALF_UP (ROUND8 §12 class; r9 audit catch). dim_std
    # stays double math: the sqrt/pow path has no exact restatement.
    mean = F.col("s1d").cast("double") / F.col("n")
    var = F.greatest(
        F.col("s2") / F.col("n") - F.pow(mean, 2), F.lit(0.0)
    )
    return sums.select(
        "dim",
        "n",
        halfup_mean("s1d", "n", 9).alias("dim_mean"),
        dblround(F.sqrt(var), 9).alias("dim_std"),
    )


_ANCHOR_CAP = 64


_CAND_CAP = 512


# ---------------------------------------------------------------------------
# Hard-negative mining — for each anchor vector, the single most
# cosine-similar candidate with a DIFFERENT label (the "hardest"
# negative): rank by (cos DESC, cand id) inside the anchor partition
# and keep row 1 (WindowGroupLimit). Cosine doubles are identical
# across engines (same fold order, functions/vector.py), so the argmax
# is deterministic; the id tiebreak covers exact score ties. Both caps
# push into the parquet scan, so the quadratic term is bounded no
# matter the corpus size — the full-corpus path scores inside IVF
# cells (dedup_semantic's blocking) with this same ranking.
@register(
    "emb_hard_negatives",
    f"""WITH scored AS (
  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
         b.vec_id AS neg_id,
         {duck_cosine("a.embedding", "b.embedding")} AS cos
  FROM embeddings a JOIN embeddings b
    ON b.label <> a.label
  WHERE a.vec_id < {_ANCHOR_CAP} AND b.vec_id < {_CAND_CAP}),
ranked AS (
  SELECT anchor_id, anchor_label, neg_id, cos,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY cos DESC, neg_id) AS rn
  FROM scored)
SELECT anchor_id, anchor_label, neg_id,
       round(cos * 1e9) / 1e9 AS hardness
FROM ranked WHERE rn = 1""",
)
def emb_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    a = emb.where(F.col("vec_id") < _ANCHOR_CAP).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("va"),
        # norms staged once per side below the pair join (bit-exact
        # re-grouping — functions/vector.cosine_staged)
        l2_norm(F.col("embedding")).alias("_na"),
    )
    b = emb.where(F.col("vec_id") < _CAND_CAP).select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("vb"),
        l2_norm(F.col("embedding")).alias("_nb"),
    )
    scored = a.join(
        b, F.col("neg_label") != F.col("anchor_label")
    ).withColumn(
        "cos",
        cosine_staged(F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")),
    )
    rn = F.row_number().over(
        Window.partitionBy("anchor_id").orderBy(
            F.col("cos").desc(), "neg_id"
        )
    )
    return (
        scored.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "anchor_id",
            "anchor_label",
            "neg_id",
            dblround(F.col("cos"), 9).alias("hardness"),
        )
    )


_MIPS_ANCHORS = 32


_MIPS_CANDS = 256


# ---------------------------------------------------------------------------
# MIPS vs cosine — per anchor, the top-1 candidate under raw inner
# product AND under cosine, plus whether they agree. Embedding models
# trained with normalized objectives retrieve by cosine; indexes often
# serve raw dot product — when norms vary the two rankings diverge,
# and THIS query measures how often. Both argmaxes rank by
# (score DESC, id) inside the anchor partition — WindowGroupLimit
# twice over one scored join; doubles are fold-order-identical across
# engines (functions/vector.py expressions), ids break exact ties.
@register(
    "emb_mips_vs_cosine",
    f"""WITH scored AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS cand_id,
         {duck_dot("a.embedding", "b.embedding")} AS dot,
         {duck_cosine("a.embedding", "b.embedding")} AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < {_MIPS_ANCHORS} AND b.vec_id < {_MIPS_CANDS}),
ranked AS (
  SELECT anchor_id, cand_id, dot, cos,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY dot DESC, cand_id) AS rn_dot,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY cos DESC, cand_id) AS rn_cos
  FROM scored),
tops AS (
  SELECT anchor_id,
         max(CASE WHEN rn_dot = 1 THEN cand_id END) AS top_mips,
         max(CASE WHEN rn_cos = 1 THEN cand_id END) AS top_cosine
  FROM ranked GROUP BY anchor_id)
SELECT anchor_id, top_mips, top_cosine,
       top_mips = top_cosine AS metrics_agree
FROM tops""",
)
def emb_mips_vs_cosine(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.vector import dot

    emb = table(spark, sf, "embeddings")
    a = emb.where(F.col("vec_id") < _MIPS_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("va"),
        # norms staged once per side below the pair join (bit-exact
        # re-grouping — functions/vector.cosine_staged)
        l2_norm(F.col("embedding")).alias("_na"),
    )
    b = emb.where(F.col("vec_id") < _MIPS_CANDS).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("vb"),
        l2_norm(F.col("embedding")).alias("_nb"),
    )
    scored = a.join(
        b, F.col("anchor_id") != F.col("cand_id")
    ).select(
        "anchor_id",
        "cand_id",
        dot(F.col("va"), F.col("vb")).alias("dot"),
        cosine_staged(
            F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
        ).alias("cos"),
    )
    wd = Window.partitionBy("anchor_id").orderBy(
        F.col("dot").desc(), "cand_id"
    )
    wc = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), "cand_id"
    )
    ranked = scored.select(
        "anchor_id",
        "cand_id",
        F.row_number().over(wd).alias("rn_dot"),
        F.row_number().over(wc).alias("rn_cos"),
    )
    tops = ranked.groupBy("anchor_id").agg(
        F.max(
            F.when(F.col("rn_dot") == 1, F.col("cand_id"))
        ).alias("top_mips"),
        F.max(
            F.when(F.col("rn_cos") == 1, F.col("cand_id"))
        ).alias("top_cosine"),
    )
    return tops.select(
        "anchor_id",
        "top_mips",
        "top_cosine",
        (F.col("top_mips") == F.col("top_cosine")).alias(
            "metrics_agree"
        ),
    )


_TRIPLET_ANCHORS = 48


_TRIPLET_CANDS = 384


# ---------------------------------------------------------------------------
# Training triplets — per anchor: the nearest SAME-label candidate
# (positive: representation should pull together) and the nearest
# DIFFERENT-label candidate (hard negative: should push apart), plus
# the triplet margin (pos_cos − neg_cos; negative margin = the anchor
# currently violates the metric, exactly the examples a trainer wants
# most). One scored join, two label-filtered ranked windows, ids break
# exact ties — the same determinism discipline as emb_hard_negatives.
@register(
    "emb_training_triplets",
    f"""WITH scored AS (
  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
         b.vec_id AS cand_id, b.label AS cand_label,
         {duck_cosine("a.embedding", "b.embedding")} AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < {_TRIPLET_ANCHORS} AND b.vec_id < {_TRIPLET_CANDS}),
pos AS (
  SELECT anchor_id, cand_id AS positive_id, cos AS pos_cos,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY cos DESC, cand_id) AS rn
  FROM scored WHERE cand_label = anchor_label),
neg AS (
  SELECT anchor_id, cand_id AS negative_id, cos AS neg_cos,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY cos DESC, cand_id) AS rn
  FROM scored WHERE cand_label <> anchor_label)
SELECT p.anchor_id, p.positive_id, n.negative_id,
       round(p.pos_cos * 1e9) / 1e9 AS pos_cos,
       round(n.neg_cos * 1e9) / 1e9 AS neg_cos,
       round((p.pos_cos - n.neg_cos) * 1e9) / 1e9 AS margin
FROM pos p JOIN neg n ON n.anchor_id = p.anchor_id
WHERE p.rn = 1 AND n.rn = 1""",
)
def emb_training_triplets(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    a = emb.where(F.col("vec_id") < _TRIPLET_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("va"),
        l2_norm(F.col("embedding")).alias("_na"),
    )
    b = emb.where(F.col("vec_id") < _TRIPLET_CANDS).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("embedding").alias("vb"),
        l2_norm(F.col("embedding")).alias("_nb"),
    )
    scored = a.join(
        b, F.col("anchor_id") != F.col("cand_id")
    ).select(
        "anchor_id",
        "anchor_label",
        "cand_id",
        "cand_label",
        # norms staged once per side (bit-exact re-grouping —
        # functions/vector.cosine_staged)
        cosine_staged(
            F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
        ).alias("cos"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), "cand_id"
    )
    pos = (
        scored.where(F.col("cand_label") == F.col("anchor_label"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("cand_id").alias("positive_id"),
            F.col("cos").alias("pos_cos"),
        )
    )
    neg = (
        scored.where(F.col("cand_label") != F.col("anchor_label"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("cand_id").alias("negative_id"),
            F.col("cos").alias("neg_cos"),
        )
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "positive_id",
        "negative_id",
        dblround(F.col("pos_cos"), 9).alias("pos_cos"),
        dblround(F.col("neg_cos"), 9).alias("neg_cos"),
        dblround(F.col("pos_cos") - F.col("neg_cos"), 9).alias("margin"),
    )


# ideal DCG for graded relevance (K, K-1, …, 1) in ideal order — a
# CONSTANT, precomputed once with each term quantized exactly like the
# live terms, and embedded as the same literal on both engines.
_IDCG = round(
    sum(
        round((_EVAL_K + 1 - p) / math.log2(p + 1), 9)
        for p in range(1, _EVAL_K + 1)
    ),
    9,
)


def _ndcg_sql() -> str:
    from ..functions.vector import duck_cosine

    return f"""WITH {_DUCK_IVF_CODEBOOK},
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {duck_cosine("e.embedding", "c.cvec")} DESC,
                                     c.cid DESC) AS rn
  FROM embeddings e CROSS JOIN cent c),
cells AS (SELECT vec_id, embedding, cid AS cell FROM assign WHERE rn = 1),
queries AS (
  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
  WHERE vec_id % 64 = 3),
qc AS (
  SELECT qid, cid FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {duck_cosine("c.cvec", "q.qvec")} DESC,
                                       c.cid DESC) AS rn
    FROM cent c CROSS JOIN queries q)
  WHERE rn <= {_EVAL_NPROBE}),
ivf5 AS (
  SELECT qid, vec_id, rn AS pos FROM (
    SELECT q.qid, ce.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {duck_cosine("ce.embedding", "q.qvec")} DESC,
                                       ce.vec_id) AS rn
    FROM cells ce JOIN qc ON ce.cell = qc.cid
    JOIN queries q ON q.qid = qc.qid)
  WHERE rn <= {_EVAL_K}),
exact5 AS (
  SELECT qid, vec_id, rn AS exact_rank FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {duck_cosine("e.embedding", "q.qvec")} DESC,
                                       e.vec_id) AS rn
    FROM embeddings e CROSS JOIN queries q)
  WHERE rn <= {_EVAL_K}),
terms AS (
  SELECT i.qid,
         CAST(round((({_EVAL_K} + 1 - e.exact_rank)
                    / log2(i.pos + 1)) * 1e9) / 1e9
              AS DECIMAL(20,9)) AS term
  FROM ivf5 i JOIN exact5 e
    ON e.qid = i.qid AND e.vec_id = i.vec_id)
SELECT q.qid,
       CAST(count(t.term) AS BIGINT) AS n_graded,
       round(CAST(coalesce(sum(t.term), 0) AS DOUBLE), 9) AS dcg,
       {halfup_ratio_duck(
           "coalesce(sum(t.term), CAST(0 AS DECIMAL(20,9)))",
           f"CAST('{_IDCG:.9f}' AS DECIMAL(20,9))", 9, 9, 9)}
         AS ndcg
FROM queries q LEFT JOIN terms t ON t.qid = q.qid
GROUP BY q.qid"""


@register("sim_ivf_ndcg", _ndcg_sql())
def sim_ivf_ndcg(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.vector import cosine_staged, l2_norm

    emb = table(spark, sf, "embeddings")
    cents, assigned = ann.ivf_cells(emb, 16)
    queries = emb.where(F.col("vec_id") % 64 == 3).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        # norms staged once per side below the joins (bit-exact
        # re-grouping — functions/vector.cosine_staged)
        l2_norm(F.col("embedding")).alias("_qn"),
        ann.probe_cells(F.col("embedding"), cents, _EVAL_NPROBE).alias("_cells"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), "vec_id")
    ivf5 = (
        assigned.withColumn("_vn", l2_norm(F.col("embedding")))
        .join(
            F.broadcast(queries),
            F.array_contains(F.col("_cells"), F.col("cell")),
        )
        .select(
            "qid",
            "vec_id",
            cosine_staged(
                F.col("embedding"), F.col("qvec"), F.col("_vn"), F.col("_qn")
            ).alias(
                "score"
            ),
        )
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= _EVAL_K)
        .select("qid", "vec_id", "pos")
    )
    exact5 = (
        emb.withColumn("_vn", l2_norm(F.col("embedding")))
        .crossJoin(F.broadcast(queries.select("qid", "qvec", "_qn")))
        .select(
            "qid",
            "vec_id",
            cosine_staged(
                F.col("embedding"), F.col("qvec"), F.col("_vn"), F.col("_qn")
            ).alias(
                "score"
            ),
        )
        .withColumn("exact_rank", F.row_number().over(w))
        .where(F.col("exact_rank") <= _EVAL_K)
        .select("qid", "vec_id", "exact_rank")
    )
    terms = ivf5.join(exact5, ["qid", "vec_id"]).select(
        "qid",
        dblround(
            (_EVAL_K + 1 - F.col("exact_rank"))
            / F.log2(F.col("pos") + 1),
            9,
        )
        .cast("decimal(20,9)")
        .alias("term"),
    )
    return (
        queries.select("qid")
        .join(terms, "qid", "left")
        .groupBy("qid")
        .agg(
            F.count("term").alias("n_graded"),
            F.round(
                F.coalesce(F.sum("term"), F.lit(0)).cast("double"), 9
            ).alias("dcg"),
            # integer-exact HALF_UP ratio of the 9-dp decimal fold
            # over the 9-dp IDCG constant (ROUND8 §12 class; r9 audit)
            halfup_ratio(
                "coalesce(sum(term), CAST(0 AS DECIMAL(20,9)))",
                f"CAST('{_IDCG:.9f}' AS DECIMAL(20,9))",
                9,
                9,
                9,
            ).alias("ndcg"),
        )
    )


_MMR_QUERY_ID = 3


_MMR_POOL = 20


_MMR_K = 4


_MMR_LAMBDA = 0.7


_MMR_CAND_CAP = 256


# ---------------------------------------------------------------------------
# MMR — pool = top-20 by relevance; step 1 picks max relevance; step
# k>1 picks argmax of λ·rel − (1−λ)·max(sim to already-picked), ids
# breaking exact ties. The oracle unrolls the K greedy steps as
# chained CTEs (sel1 ⊂ sel2 ⊂ …); the Spark side runs the same K
# small-frame iterations. MMR scores quantize round(·,9) BEFORE the
# argmax comparison on both engines so the greedy path can never
# diverge on a last-bit difference. Pool and pairwise-sim matrices
# are bounded (20 rows / 400 pairs) — at serving scale the pool comes
# from the ANN index and K stays single-digit, so the greedy cost is
# O(K·pool), never corpus-shaped.
def _mmr_oracle() -> str:
    rel = duck_cosine("e.embedding", "q.qvec")
    sim = duck_cosine("a.embedding", "b.embedding")
    steps = [
        """sel1 AS (
  SELECT vec_id, 1 AS step, round(rel * 1e9) / 1e9 AS mmr_score
  FROM pool WHERE prank = 1)"""
    ]
    for k in range(2, _MMR_K + 1):
        prev = f"sel{k - 1}"
        steps.append(
            f"""pick{k} AS (
  SELECT p.vec_id,
         round(({_MMR_LAMBDA} * p.rel - {round(1 - _MMR_LAMBDA, 9)}
               * (SELECT max(s.sim) FROM sims s
                  WHERE s.a_id = p.vec_id
                    AND s.b_id IN (SELECT vec_id FROM {prev}))) * 1e9)
           / 1e9 AS mmr_score
  FROM pool p
  WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev})),
sel{k} AS (
  SELECT vec_id, step, mmr_score FROM {prev}
  UNION ALL
  SELECT vec_id, {k} AS step, mmr_score FROM (
    SELECT vec_id, mmr_score,
           row_number() OVER (ORDER BY mmr_score DESC, vec_id) AS rn
    FROM pick{k}) WHERE rn = 1)"""
        )
    return f"""WITH q AS (
  SELECT embedding AS qvec FROM embeddings
  WHERE vec_id = {_MMR_QUERY_ID}),
pool AS (
  SELECT vec_id, embedding, rel,
         row_number() OVER (ORDER BY rel DESC, vec_id) AS prank
  FROM (
    SELECT e.vec_id, e.embedding, {rel} AS rel
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id < {_MMR_CAND_CAP}
      AND e.vec_id <> {_MMR_QUERY_ID})
  QUALIFY prank <= {_MMR_POOL}),
sims AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, {sim} AS sim
  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
{", ".join(steps)}
SELECT step, vec_id, mmr_score FROM sel{_MMR_K}"""


@register("sim_mmr_rerank", _mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") == _MMR_QUERY_ID).select(
        F.col("embedding").alias("qvec"),
        l2_norm(F.col("embedding")).alias("_qn"),
    )
    cands = (
        emb.where(
            (F.col("vec_id") < _MMR_CAND_CAP)
            & (F.col("vec_id") != _MMR_QUERY_ID)
        )
        # norms staged once per side below the join (bit-exact
        # re-grouping — functions/vector.cosine_staged)
        .withColumn("_vn", l2_norm(F.col("embedding")))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            cosine_staged(
                F.col("embedding"), F.col("qvec"), F.col("_vn"), F.col("_qn")
            ).alias("rel"),
        )
    )
    pool = (
        cands.withColumn(
            "prank",
            F.row_number().over(
                Window.orderBy(F.col("rel").desc(), "vec_id")
            ),
        )
        .where(F.col("prank") <= _MMR_POOL)
        .localCheckpoint(eager=True)
    )
    a = pool.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("va"),
        l2_norm(F.col("embedding")).alias("_na"),
    )
    b = pool.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("vb"),
        l2_norm(F.col("embedding")).alias("_nb"),
    )
    sims = (
        a.join(b, F.col("a_id") != F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            cosine_staged(
                F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    selected = pool.where(F.col("prank") == 1).select(
        "vec_id",
        F.lit(1).alias("step"),
        dblround(F.col("rel"), 9).alias("mmr_score"),
    )
    for k in range(2, _MMR_K + 1):
        chosen = selected.select("vec_id")
        max_sim = (
            sims.join(
                chosen.withColumnRenamed("vec_id", "b_id"), "b_id"
            )
            .groupBy("a_id")
            .agg(F.max("sim").alias("max_sim"))
        )
        remaining = pool.join(chosen, "vec_id", "left_anti")
        scored = remaining.join(
            max_sim, remaining["vec_id"] == max_sim["a_id"]
        ).select(
            "vec_id",
            dblround(
                _MMR_LAMBDA * F.col("rel")
                - round(1 - _MMR_LAMBDA, 9) * F.col("max_sim"),
                9,
            ).alias("mmr_score"),
        )
        pick = (
            scored.withColumn(
                "rn",
                F.row_number().over(
                    Window.orderBy(F.col("mmr_score").desc(), "vec_id")
                ),
            )
            .where(F.col("rn") == 1)
            .select("vec_id", F.lit(k).alias("step"), "mmr_score")
        )
        selected = selected.unionByName(pick).localCheckpoint(
            eager=True
        )
    return selected.select("step", "vec_id", "mmr_score")


_ISO_CAP = 128


# ---------------------------------------------------------------------------
# Isotropy — all pairwise cosines among the first 128 vectors (8 128
# pairs, a<b): healthy isotropic embeddings center near 0; a mean
# pushed toward 1 is the anisotropy pathology (dominant direction)
# that makes cosine ranking meaningless. Mean and std from quantized
# decimal folds of cos and cos² (the moments discipline on similarity
# space). The cap pushes into both scans; at corpus scale the sample
# is a deterministic hash slice, same math.
@register(
    "emb_isotropy",
    f"""WITH pairs AS (
  SELECT {duck_cosine("a.embedding", "b.embedding")} AS c
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.vec_id < {_ISO_CAP} AND b.vec_id < {_ISO_CAP}),
q AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(round(c * 1e9) / 1e9 AS DECIMAL(20,9)))
              AS DOUBLE) AS s1,
         CAST(sum(CAST(round(c * c * 1e9) / 1e9 AS DECIMAL(20,9)))
              AS DOUBLE) AS s2
  FROM pairs)
SELECT CAST(n AS BIGINT) AS n_pairs,
       round((s1 / n) * 1e9) / 1e9 AS mean_cosine,
       round(sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) * 1e9)
         / 1e9 AS std_cosine
FROM q""",
)
def emb_isotropy(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings").where(
        F.col("vec_id") < _ISO_CAP
    )
    a = emb.select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("va"),
        # norms staged once per side below the pair join (bit-exact
        # re-grouping — functions/vector.cosine_staged)
        l2_norm(F.col("embedding")).alias("_na"),
    )
    b = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("vb"),
        l2_norm(F.col("embedding")).alias("_nb"),
    )
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        cosine_staged(
            F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
        ).alias("c")
    )
    q = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dblround(F.col("c"), 9).cast("decimal(20,9)"))
        .cast("double")
        .alias("s1"),
        F.sum(
            dblround(F.col("c") * F.col("c"), 9).cast("decimal(20,9)")
        )
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    return q.select(
        F.col("n").cast("long").alias("n_pairs"),
        dblround(mean, 9).alias("mean_cosine"),
        dblround(
            F.sqrt(
                F.greatest(
                    F.col("s2") / F.col("n") - mean * mean, F.lit(0.0)
                )
            ),
            9,
        ).alias("std_cosine"),
    )
