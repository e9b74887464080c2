"""Pipeline composites — the reference's entry points as Spark jobs.

E1 (ingest/index build, ``micro-infobot/app.py:110-131, 286-287``):
documents → paragraph split (T1) → section forward-fill (T2) → recursive
chunking (T3) → deterministic embedding (T5) → the ``chunks`` table, which
*is* the vector index (SURVEY §1.3). T2, T3 and T5 run as one
Arrow-batched Python pass over the paragraphs, in the input's own
partitions: no window, and no Exchange unless the input is narrower than
the cluster.

E3 (scored inspection, app.py:306-328): scored top-k + A4 normalization.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, StringType, StructField, StructType,
)

from ..functions.exactmath import dblround
from ..functions.text import is_title

# assign_sections, chunk_sections and with_embeddings are the standalone
# T2/T3/T5 operators; they stay importable here because callers trace
# the index-build layers by these names
from ..operators.chunking import RecursiveCharacterSplitter, chunk_sections  # noqa: F401
from ..operators.dedup import spread
from ..operators.embedding import embed_one, embed_vector, with_embeddings  # noqa: F401
from ..operators.sectioning import (  # noqa: F401
    GENERAL_SECTION, assign_sections, split_paragraphs,
)
from ..operators.similarity import normalize_scores, topk_similar
from ..planstats import num_partitions


def _section_chunk_and_embed(dim: int | None):
    """The fused T2+T3+T5 pass for ``mapInArrow``: carry each doc's
    section (``"General"`` until its first title; a title row sets it and
    emits nothing), split each other paragraph row into chunks, number
    the chunks of each doc 1, 2, ... (``chunk_seq``) and, unless ``dim``
    is None, embed each chunk.

    Rows must arrive grouped by doc_id and in para_pos order within a
    doc; the section and the counter carry over Arrow batch boundaries,
    so a doc may straddle batches. Pass-through columns are gathered
    with ``take``, which keeps their Arrow types (a NULL doc_id stays
    NULL)."""

    def run(batches):
        sp = RecursiveCharacterSplitter()
        doc, section, seq = object(), GENERAL_SECTION, 0  # no doc seen yet
        for b in batches:
            src, sections, chunk_pos, chunk_seq, texts = [], [], [], [], []
            ids = b.column("doc_id").to_pylist()
            paras = b.column("paragraph").to_pylist()
            titles = b.column("title").to_pylist()
            for row, (d, para, title) in enumerate(zip(ids, paras, titles)):
                if d != doc:
                    doc, section, seq = d, GENERAL_SECTION, 0
                if title is not None:
                    section = title
                    continue
                for pos, text in enumerate(sp.split_text(para)):
                    seq += 1
                    src.append(row)
                    sections.append(section)
                    chunk_pos.append(pos)
                    chunk_seq.append(seq)
                    texts.append(text)
            take = pa.array(src, pa.int64())
            out = {
                "doc_id": b.column("doc_id").take(take),
                "section": pa.array(sections, pa.string()),
                "para_pos": b.column("para_pos").take(take),
                "chunk_pos": pa.array(chunk_pos, pa.int32()),
                "chunk_seq": pa.array(chunk_seq, pa.int32()),
                "text": pa.array(texts, pa.string()),
            }
            if dim is not None:
                flat = np.array([embed_vector(t, dim) for t in texts], np.float32).ravel()
                offsets = pa.array(np.arange(0, flat.size + 1, dim, dtype=np.int32))
                out["embedding"] = pa.ListArray.from_arrays(offsets, pa.array(flat))
            yield pa.RecordBatch.from_pydict(out)

    return run


def build_chunks(
    documents: DataFrame,
    text_col: str = "text",
    with_embedding: bool = True,
    dim: int = 64,
) -> DataFrame:
    """E1 — the full index build. Returns the ``chunks`` table
    (chunk_id, doc_id, section, para_pos, chunk_pos, text[, embedding]).

    ``documents`` holds one row per doc_id, as ``documents`` and
    ``extract_text`` give; rows sharing a doc_id give an undefined
    numbering.

    ``split_paragraphs`` (``posexplode``) emits each document's
    paragraphs consecutively and in para_pos order, so the section
    forward-fill (T2), chunking (``RecursiveCharacterSplitter``), the
    per-doc chunk numbering and embedding (``embed_vector``) run as one
    ``mapInArrow`` pass in the input's own partitions: one stage, no
    Exchange, no window. Titles are flagged in Spark (``is_title``, the
    same Java regex as ``assign_sections``). Only an input with fewer
    partitions than ``defaultParallelism`` — or one whose count is known
    only at run time — is first hash-spread on doc_id (one Exchange,
    moving document rows). ``chunk_id`` = doc_id · 10⁶ + the chunk's
    1-based rank in (para_pos, chunk_pos) order within its doc.
    """
    docs = documents.select("doc_id", text_col)
    parts = num_partitions(docs)
    if parts is None or parts < docs.sparkSession.sparkContext.defaultParallelism:
        docs = spread(docs, "doc_id")
    paras = split_paragraphs(docs, text_col).withColumn(
        "title", F.when(is_title(F.col("paragraph")), F.trim("paragraph"))
    )
    fields = [
        paras.schema["doc_id"],
        # non-null, as assign_sections' coalesce to "General" gives
        StructField("section", StringType(), False),
        paras.schema["para_pos"],
        StructField("chunk_pos", IntegerType(), False),
        StructField("chunk_seq", IntegerType(), False),
        StructField("text", StringType()),
    ]
    if with_embedding:
        fields.append(StructField("embedding", ArrayType(FloatType())))
    chunks = paras.mapInArrow(
        _section_chunk_and_embed(dim if with_embedding else None), StructType(fields)
    ).withColumn(
        # globally unique, deterministic chunk id
        "chunk_id", F.col("doc_id") * F.lit(1_000_000) + F.col("chunk_seq")
    )
    return chunks.select(
        "chunk_id", "doc_id", "section", "para_pos", "chunk_pos", "text",
        *(["embedding"] if with_embedding else []),
    )


def save_index(chunks: DataFrame, path: str, buckets: int = 0) -> str:
    """S8 — persist the chunks table; Parquet IS the vector index
    (SURVEY §1.3). By default each write task writes ONE file with its
    rows sorted by section (no Exchange, no extra job), so a
    ``section = x`` filter is a pushed Parquet filter that skips row
    groups by their min/max statistics. A free-text heading is no
    hive-partition key (``sources/layout.py``): a directory per section
    would write tasks × sections small files, and read ``""`` back as
    NULL and ``"2024"`` as an int. With
    ``buckets`` > 0, bucket by section so section-filtered retrieval
    (F2/J2/K3) prunes files and co-locates section joins WITHOUT a
    shuffle (test_bucketing pins the Exchange-free plan). Returns the
    reference to pass to ``load_index``: the table name when bucketed
    (bucket metadata lives in the catalog — reading the files as bare
    parquet would silently drop it), else the path. The ANN serving
    index has its own pair, ``operators/ann.save_ivf_i8_index`` /
    ``load_ivf_i8_index``."""
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
    chunks.sortWithinPartitions("section").write.mode("overwrite").parquet(path)
    return path


def load_index(spark, ref: str) -> DataFrame:
    """Load a saved index: catalog table name (bucketed path) or a
    filesystem path (the clustered files, or the per-section directories
    an older ``save_index`` wrote). Catalog membership decides —
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
