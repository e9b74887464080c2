"""Unit tests for the round-4ag batch (language-ID margin)."""

from ade_agente_documental_empresarial___miner_a_spark.plans import queries_text

SF = "/root/testdata/sf0.001"


def test_lang_margin_consistency(spark):
    rows = queries_text.text_lang_margin(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.best_hits >= r.second_hits >= 0
        assert r.margin == r.best_hits - r.second_hits
        assert bool(r.confident) == (
            r.best_hits > 0 and r.margin >= queries_text._MARGIN_MIN
        )
        if r.best_hits == 0:
            assert r.pred_lang == "unk"


def test_lang_margin_agrees_with_lang_id(spark):
    from ade_agente_documental_empresarial___miner_a_spark.operators.textstats import (
        language_id,
    )
    from ade_agente_documental_empresarial___miner_a_spark.plans.catalog import (
        table,
    )

    margin = {r.doc_id: r for r in queries_text.text_lang_margin(spark, SF).collect()}
    lang = {
        r.doc_id: r
        for r in language_id(table(spark, SF, "documents")).collect()
    }
    for doc_id, r in margin.items():
        assert r.pred_lang == lang[doc_id].pred_lang
        assert r.best_hits == lang[doc_id].best_hits
