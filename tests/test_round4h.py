"""Unit tests for the round-4h batch (raw-Arrow lanes). Parity vs
DuckDB is covered by tools/parity.py / the driver gate; these pin the
chars≠bytes semantics on multibyte input (the fixture corpus is ASCII,
so the distinction only shows here) and the grouped-Arrow contract."""

from ade_agente_documental_empresarial___miner_a_spark.plans import queries_text

SF = "/root/testdata/sf0.001"


def test_mapinarrow_multibyte_chars_vs_bytes(spark):
    df = spark.createDataFrame(
        [(1, "abc"), (2, "héllo"), (3, "日本語"), (4, "")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_chars, r.n_bytes)
        for r in df.mapInArrow(
            queries_text._bytestats_batches,
            "doc_id long, n_chars long, n_bytes long",
        ).collect()
    }
    assert out[1] == (3, 3)
    assert out[2] == (5, 6)   # é = 2 bytes
    assert out[3] == (3, 9)   # CJK = 3 bytes each
    assert out[4] == (0, 0)


def test_applyinarrow_rollup_matches_builtin(spark):
    from pyspark.sql import functions as F

    out = {r.lang: r for r in queries_text.text_arrow_lang_rollup(spark, SF).collect()}
    from ade_agente_documental_empresarial___miner_a_spark.plans.catalog import (
        table,
    )

    ref = {
        r.lang: r
        for r in table(spark, SF, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .collect()
    }
    assert set(out) == set(ref)
    for lang, r in out.items():
        assert r.n_docs == ref[lang].n_docs
        assert r.total_chars == ref[lang].total_chars
        assert r.total_bytes >= r.total_chars  # bytes >= chars always


def test_bytestats_is_map_only(spark):
    plan = (
        queries_text.text_arrow_bytestats(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # map-only: no shuffle anywhere
