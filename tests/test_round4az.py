"""Unit tests for the round-4az batch (concurrency percentiles,
backoff bigram LM)."""

import math

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_relational,
    queries_text,
)

SF = "/root/testdata/sf0.001"


def test_concurrency_percentiles_ordered(spark):
    rows = queries_relational.rel_concurrency_percentiles(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.p50_open <= r.p90_open <= r.p99_open <= r.peak_open


def test_backoff_lm_scores_are_valid_logprobs(spark):
    rows = queries_text.text_bigram_backoff_lm(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.avg_logp < 0  # log of a probability < 1
        assert r.n_bigrams >= 1


def test_backoff_literal(spark, monkeypatch):
    # corpus: "a b a b" and "a c": bigrams ab,ba,ab + ac
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c")], "doc_id long, text string"
    )

    orig = queries_text.table
    try:
        queries_text.table = lambda _s, _sf, _n: df
        got = {r.doc_id: r for r in queries_text.text_bigram_backoff_lm(spark, SF).collect()}
    finally:
        queries_text.table = orig
    # counts: bigrams total 4; c(ab)=2, c(ba)=1, c(ac)=1; c1(a)=3, c1(b)=1
    # unigram(w2): b:2, a:1, c:1, total 4
    p_ab = 0.9 * (2 / 3) + 0.1 * (2 / 4)
    p_ba = 0.9 * (1 / 1) + 0.1 * (1 / 4)
    p_ac = 0.9 * (1 / 3) + 0.1 * (1 / 4)
    exp1 = (2 * round(math.log(p_ab), 9) + round(math.log(p_ba), 9)) / 3
    exp2 = round(math.log(p_ac), 9)
    assert abs(got[1].avg_logp - round(exp1, 9)) < 2e-9
    assert abs(got[2].avg_logp - exp2) < 2e-9
