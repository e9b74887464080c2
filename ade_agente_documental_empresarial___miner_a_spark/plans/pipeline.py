"""Pipeline composites — the reference's entry points as Spark jobs.

E1 (ingest/index build, ``micro-infobot/app.py:110-131, 286-287``):
documents → paragraph split (T1) → section forward-fill (T2) → recursive
chunking (T3) → deterministic embedding (T5) → the ``chunks`` table, which
*is* the vector index (SURVEY §1.3).

E3 (scored inspection, app.py:306-328): scored top-k + A4 normalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exactmath import dblround

from ..operators.chunking import chunk_sections
from ..operators.embedding import embed_one, with_embeddings
from ..operators.sectioning import assign_sections
from ..operators.similarity import normalize_scores, topk_similar


def build_chunks(
    documents: DataFrame,
    text_col: str = "text",
    with_embedding: bool = True,
    dim: int = 64,
) -> DataFrame:
    """E1 — the full index build. Returns the ``chunks`` table
    (chunk_id, doc_id, section, para_pos, chunk_pos, text[, embedding]).
    """
    sectioned = assign_sections(documents, text_col)
    chunks = chunk_sections(sectioned)
    w = Window.partitionBy("doc_id").orderBy("para_pos", "chunk_pos")
    chunks = chunks.withColumn(
        "chunk_seq", F.row_number().over(w)
    ).withColumn(
        # globally unique, deterministic chunk id
        "chunk_id", F.col("doc_id") * F.lit(1_000_000) + F.col("chunk_seq")
    )
    if with_embedding:
        chunks = with_embeddings(chunks, "text", dim=dim)
    return chunks.select(
        "chunk_id", "doc_id", "section", "para_pos", "chunk_pos", "text",
        *(["embedding"] if with_embedding else []),
    )


def save_index(chunks: DataFrame, path: str, buckets: int = 0) -> str:
    """S8 — persist the chunks table; Parquet IS the vector index
    (SURVEY §1.3). With ``buckets`` > 0, bucket by section so
    section-filtered retrieval (F2/J2/K3) prunes files and co-locates
    section joins WITHOUT a shuffle (test_bucketing pins the
    Exchange-free plan). Returns the reference to pass to
    ``load_index``: the table name when bucketed (bucket metadata lives
    in the catalog — reading the files as bare parquet would silently
    drop it), else the path. The ANN serving index has its own pair,
    ``operators/ann.save_ivf_i8_index`` / ``load_ivf_i8_index``."""
    if buckets:
        # deterministic table name (NOT Python hash(): PYTHONHASHSEED
        # varies across processes and sessions)
        import hashlib

        name = "ade_chunks_" + hashlib.md5(path.encode()).hexdigest()[:10]
        (
            chunks.write.mode("overwrite")
            .format("parquet")
            .bucketBy(buckets, "section")
            .sortBy("section", "chunk_id")
            .option("path", path)
            .saveAsTable(name)
        )
        return name
    chunks.write.mode("overwrite").partitionBy("section").parquet(path)
    return path


def load_index(spark, ref: str) -> DataFrame:
    """Load a saved index: catalog table name (bucketed path) or a
    filesystem path (partitioned path). Catalog membership decides —
    a path-shaped heuristic would misread a relative single-segment
    parquet path (e.g. ``'idx'``) as a table name."""
    # tableExists() itself throws on slash-containing refs, so only probe
    # the catalog for identifier-shaped refs.
    if "/" not in ref and not ref.startswith("file:") and spark.catalog.tableExists(ref):
        return spark.table(ref)
    return spark.read.parquet(ref)


def persist_serving_index(
    index: DataFrame, rows_per_partition: int = 65_536
) -> DataFrame:
    """Pin a serving copy of an index in memory with DATA-SIZED
    partitioning, and return the materialized frame.

    A chunks/embeddings index read back from parquet inherits the file
    split count (or ``spark.sql.shuffle.partitions`` worth of tiny
    splits), so a small index serves every retrieval as dozens of
    near-empty tasks — pure scheduler overhead on the per-query hot
    path (the reference's Chroma collection is one RAM-resident
    structure, ``micro-infobot/app.py:110-131``). Sizing is
    ``ceil(rows / rows_per_partition)``: a 5k-chunk index collapses to
    one in-memory partition, a 100 TB-scale index keeps thousands of
    partitions and full scan parallelism — the formula, not the small-SF
    outcome, is the contract. The formula is capped at the input's
    CURRENT partition count: the helper only ever narrows, never
    shuffles data wider (and the explicit cap is load-bearing — a bare
    ``coalesce(parts)`` over an input that is itself a coalesce would
    be collapsed by Catalyst's CollapseRepartition rule into the outer,
    wider value).

    Count runs twice by design: once pre-persist for sizing, once
    post-persist to materialize the cache before the first query hits.
    """
    n = index.count()
    parts = max(
        1,
        min(-(-n // rows_per_partition), index.rdd.getNumPartitions()),
    )
    sized = index.coalesce(parts).persist()
    sized.count()
    return sized


def flagship_query(
    documents: DataFrame,
    question: str = "spark vector join query",
    k: int = 4,
    dim: int = 64,
) -> DataFrame:
    """E1+E3 end-to-end: build the index, embed the question with the same
    deterministic embedder, retrieve top-k chunks with scores and A4
    percentage normalization (app.py:312-321).
    """
    chunks = build_chunks(documents, dim=dim)
    qvec = embed_one(question, dim=dim)
    hits = topk_similar(chunks, qvec, k=k)
    out = normalize_scores(hits)
    return out.select(
        "chunk_id",
        "doc_id",
        "section",
        F.col("text"),
        dblround(F.col("score"), 6).alias("score"),
        dblround(F.col("pct"), 6).alias("pct"),
    )
