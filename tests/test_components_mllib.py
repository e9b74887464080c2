"""Connected-components clustering + MLlib TF-IDF embedder tests."""

from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.operators.dedup import (
    connected_components,
)
from ade_agente_documental_empresarial___miner_a_spark.operators.embedding import (
    mllib_tfidf_embeddings,
)
from ade_agente_documental_empresarial___miner_a_spark.operators.similarity import (
    topk_similar,
)


def test_components_chain_and_islands(spark):
    # chain 1-2-3 (one component), pair 10-11, isolated pair 20-21; a
    # NULL endpoint is a node with a NULL label that links 30 and 31 to
    # nothing
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (None, 30), (31, None)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20,
        30: 30, 31: 31, None: None,
    }


def test_components_cycle(spark):
    pairs = spark.createDataFrame(
        [(5, 6), (6, 7), (7, 5)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert set(got.values()) == {5}


def test_components_long_chain_converges(spark):
    # a 31-node path takes 30 rounds: the loop must run to the fixpoint,
    # under no iteration cap
    for n in (13, 31):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
        )
        got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
        assert set(got.values()) == {0}
        assert len(got) == n


def test_mllib_embeddings_drop_in(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark joins broadcast shuffle"),
            (2, "spark joins broadcast shuffle"),
            (3, "completely different words entirely"),
        ],
        "doc_id long, text string",
    )
    emb = mllib_tfidf_embeddings(docs, dim=32)
    rows = {r.doc_id: r.embedding for r in emb.collect()}
    assert len(rows[1]) == 32
    assert rows[1] == rows[2]          # identical docs → identical vectors
    assert rows[1] != rows[3]
    # drop-in with the similarity operators
    hits = topk_similar(emb, list(rows[1]), k=2, vec_col="embedding").collect()
    assert {h.doc_id for h in hits} <= {1, 2}
