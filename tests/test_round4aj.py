"""Unit tests for the round-4aj batch (blocklist filter, readability)."""

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_text,
)

SF = "/root/testdata/sf0.001"


def test_blocklist_scunthorpe_cases(spark):
    df = spark.createDataFrame(
        [
            (1, "the batch runs"),        # substring hit only
            (2, "a bat flew by"),         # true word hit
            (3, "slowly we go"),          # substring of 'slow' + suffix
            (4, "this is slow code"),     # true word hit
            (5, "nothing here"),          # clean
        ],
        "doc_id long, text string",
    )

    orig = queries_curation.table
    try:
        queries_curation.table = lambda _s, _sf, _n: df
        got = {r.doc_id: r for r in queries_curation.cur_blocklist_filter(spark, SF).collect()}
    finally:
        queries_curation.table = orig
    assert got[1].flagged_substr and not got[1].flagged_word
    assert got[1].scunthorpe
    assert got[2].flagged_word and not got[2].scunthorpe
    assert got[3].scunthorpe  # 'slowly' contains 'slow' but isn't the word
    assert got[4].flagged_word
    assert not got[5].flagged_substr and not got[5].flagged_word


def test_fk_grade_formula(spark):
    rows = queries_text.text_readability_fk(spark, SF).collect()
    assert rows
    for r in rows[:20]:
        expect = round(
            0.39 * (r.n_words / r.n_sentences)
            + 11.8 * (r.n_syllables / r.n_words)
            - 15.59,
            9,
        )
        assert abs(r.fk_grade - expect) < 1e-9
        assert r.n_syllables >= r.n_words * 0  # sanity
