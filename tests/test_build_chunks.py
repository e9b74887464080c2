"""The index build's fused section, chunk and embed pass
(``plans/pipeline.build_chunks``) against the layered composition it
replaces: section window → ``chunk_sections`` → ``row_number`` chunk
numbering → ``with_embeddings``. Every row is compared, ``chunk_id`` and
``embedding`` included, and the schema with its nullability.

Each comparison runs on both sides of the build's spread choice: a
``createDataFrame`` input is already ``defaultParallelism`` partitions
wide and runs with no Exchange; the same rows coalesced to one partition
are first hash-spread on doc_id (one Exchange)."""

import hashlib
import re

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.operators import embedding
from ade_agente_documental_empresarial___miner_a_spark.operators.chunking import (
    chunk_sections,
)
from ade_agente_documental_empresarial___miner_a_spark.operators.embedding import (
    embed_one,
    with_embeddings,
)
from ade_agente_documental_empresarial___miner_a_spark.operators.sectioning import (
    assign_sections,
)
from ade_agente_documental_empresarial___miner_a_spark.plans.pipeline import (
    build_chunks,
)

_BODY = (
    "Quarterly revenue grew in every region. The board approved the plan.\n"
    "Costs stayed flat while headcount rose. "
) * 12


def layered_build(documents, with_embedding=True):
    sectioned = assign_sections(documents)
    chunks = chunk_sections(sectioned)
    w = Window.partitionBy("doc_id").orderBy("para_pos", "chunk_pos")
    chunks = chunks.withColumn(
        "chunk_id", F.col("doc_id") * F.lit(1_000_000) + F.row_number().over(w)
    )
    if with_embedding:
        chunks = with_embeddings(chunks, "text")
    return chunks.select(
        "chunk_id", "doc_id", "section", "para_pos", "chunk_pos", "text",
        *(["embedding"] if with_embedding else []),
    )


def sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def assert_same_index(documents, with_embedding=True):
    """Both sides of the spread choice equal the layered build; returns
    the rows."""
    sides = []
    for docs, exchanges in ((documents, 0), (documents.coalesce(1), 1)):
        got = build_chunks(docs, with_embedding=with_embedding)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"\bExchange ", plan)) == exchanges
        assert "Window" not in plan
        want = layered_build(docs, with_embedding=with_embedding)
        assert got.schema == want.schema
        rows = sorted_rows(got)
        assert rows == sorted_rows(want)
        sides.append(rows)
    return sides[0]


def corpus(spark, id_type="long", extra=()):
    rows = [
        (1, f"ANNUAL REPORT\n\n{_BODY}\n\nshort tail\n\nRISK NOTES\n\n{_BODY}"),
        (2, "\n\n".join(f"paragraph {i}. " + _BODY[: 90 * i] for i in range(1, 7))),
        (3, "no title at all, one paragraph"),
        (4, f"GENERAL\n\n{_BODY}{_BODY}"),
        *extra,
    ]
    return spark.createDataFrame(rows, f"doc_id {id_type}, text string")


def test_fused_build_matches_layered_build(spark):
    rows = assert_same_index(corpus(spark))
    assert {r[1] for r in rows} == {1, 2, 3, 4}
    assert max(r[4] for r in rows) > 0  # some paragraph spans several chunks


def test_fused_build_without_embedding(spark):
    assert_same_index(corpus(spark), with_embedding=False)


def test_fused_build_int_doc_ids_keep_int_chunk_ids(spark):
    rows = assert_same_index(corpus(spark, "int"))
    assert all(isinstance(r[0], int) for r in rows)


def test_fused_build_docs_straddle_arrow_batches(spark):
    """Two rows per Arrow batch: every multi-paragraph doc crosses a batch
    boundary, so its chunk numbering and its section must carry over
    batches. Doc 5's titles sit at paragraphs 0 and 3, one even and one
    odd, so wherever the doc starts in its partition one of them ends a
    batch and its body opens the next."""
    straddle = (5, "FIRST TITLE\n\nbody a\n\nmore a\n\nSECOND TITLE\n\nbody b")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(key, "2")
    try:
        rows = assert_same_index(corpus(spark, extra=[straddle]))
    finally:
        spark.conf.unset(key)
    doc2 = sorted(r[0] for r in rows if r[1] == 2)
    assert doc2 == list(range(2_000_001, 2_000_001 + len(doc2)))
    doc5 = sorted((r[0], r[2], r[5]) for r in rows if r[1] == 5)
    assert doc5 == [
        (5_000_001, "FIRST TITLE", "body a"),
        (5_000_002, "FIRST TITLE", "more a"),
        (5_000_003, "SECOND TITLE", "body b"),
    ]


@pytest.mark.parametrize("text", ["TITLE ONLY DOC", "", None])
def test_fused_build_doc_without_chunks(spark, text):
    documents = spark.createDataFrame(
        [(1, text), (2, "one body paragraph")], "doc_id long, text string"
    )
    rows = assert_same_index(documents)
    assert [r[1] for r in rows] == [2]


def test_fused_build_null_doc_id(spark):
    """A NULL doc_id stays NULL (not a float NaN) and its chunks get a
    NULL chunk_id, as with the row_number numbering."""
    documents = spark.createDataFrame(
        [(None, f"SOME TITLE\n\n{_BODY}"), (7, "seven")], "doc_id long, text string"
    )
    rows = assert_same_index(documents)
    null_rows = [r for r in rows if r[1] is None]
    assert null_rows and all(r[0] is None for r in null_rows)
    assert all(r[2] == "SOME TITLE" for r in null_rows)


def _uncached_embed(text, dim=64, seed=42):
    vec = np.zeros(dim, dtype=np.float64)
    if text:
        for tok in text.lower().split():
            h = hashlib.md5(f"{seed}:{tok}".encode("utf-8")).digest()
            vec[int.from_bytes(h[:4], "little") % dim] += 1.0 if h[4] & 1 else -1.0
    n = float(np.linalg.norm(vec))
    if n > 0:
        vec = vec / n
    return [float(x) for x in vec.astype(np.float32)]


@pytest.mark.parametrize(
    "text",
    [
        "",
        None,
        "   ",
        "ünïcödé 日本語 テキスト ÜNÏCÖDÉ İstanbul ß",
        "spark spark spark SPARK Spark",
        "a " * 500,
        "the quick brown fox jumps over the lazy dog " * 20,
    ],
)
@pytest.mark.parametrize("dim", [64, 7])
def test_cached_embed_one_matches_md5_path(text, dim):
    assert embed_one(text, dim=dim) == _uncached_embed(text, dim=dim)
    # a second call is served from the token cache and is unchanged
    assert embed_one(text, dim=dim) == _uncached_embed(text, dim=dim)


def test_token_cache_is_bounded_and_reused():
    info = embedding._token_slot.cache_info()
    assert info.maxsize is not None
    embed_one("cache probe repeated repeated repeated")
    assert embedding._token_slot.cache_info().hits > info.hits
