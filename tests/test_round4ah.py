"""Unit tests for the round-4ah batch (Bresenham sampling, graph
reciprocity)."""

import math

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_graph,
)

SF = "/root/testdata/sf0.001"


def test_bresenham_selects_floor_rate_n_exactly(spark):
    import duckdb

    kept = {r.lang: r.n_kept for r in queries_curation.cur_bresenham_sample(spark, SF).collect()}
    stats = duckdb.sql(
        f"""WITH avail AS (
              SELECT lang, count(*) AS n_docs,
                     sum(len(string_split(text, ' '))) AS n_tokens
              FROM read_parquet('{SF}/documents.parquet') GROUP BY lang)
            SELECT lang, n_docs, n_tokens,
                   (SELECT sum(n_tokens) FROM avail) AS total,
                   (SELECT count(*) FROM avail) AS n_langs
            FROM avail"""
    ).fetchall()
    for lang, n_docs, n_tokens, total, n_langs in stats:
        rate = round(min(1.0, (total / n_langs) / n_tokens), 6)
        assert kept[lang] == math.floor(n_docs * rate), lang


def test_bresenham_spreads_selection(spark):
    # rate 0.5 over 10 ranked rows keeps exactly every other row
    rows = [(i, "x", " ".join(["w"] * 10)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    from ade_agente_documental_empresarial___miner_a_spark.plans import catalog

    orig = queries_curation.table
    try:
        queries_curation.table = lambda _s, _sf, _n: df
        out = queries_curation.cur_bresenham_sample(spark, SF).collect()
    finally:
        queries_curation.table = orig
    # single lang -> rate = min(1, total/1/total) = 1.0 -> keeps all
    assert out[0].n_kept == 10


def test_reciprocity_bounds(spark):
    r = queries_graph.graph_reciprocity(spark, SF).collect()[0]
    assert 0 <= r.n_reciprocated <= r.n_directed_edges
    assert abs(r.reciprocity - round(r.n_reciprocated / r.n_directed_edges, 9)) < 1e-12
