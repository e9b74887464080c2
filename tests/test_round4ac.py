"""Unit tests for the round-4ac batch (A/B z-test, sentence stats)."""

import math

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_relational,
    queries_text,
)

SF = "/root/testdata/sf0.001"


def test_ztest_literal(spark, monkeypatch):
    # cohort 0 (even users): 10 users, 2 convert; cohort 1: 10 users, 8
    rows = []
    eid = 0
    for u in range(20):
        eid += 1
        rows.append((eid, u, "view"))
        converts = (u % 2 == 0 and u < 4) or (u % 2 == 1 and u < 16)
        if converts:
            eid += 1
            rows.append((eid, u, "purchase"))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string"
    )
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    r = queries_relational.rel_abtest_ztest(spark, SF).collect()[0]
    assert (r.n0, r.c0, r.n1, r.c1) == (10, 2, 10, 8)
    p0, p1, pp = 0.2, 0.8, 0.5
    z = (p1 - p0) / math.sqrt(pp * 0.5 * (0.1 + 0.1))
    assert abs(r.z_score - z) < 1e-8
    assert bool(r.significant) is (abs(z) > 1.96)


def test_ztest_degenerate_pool_is_null_not_error(spark, monkeypatch):
    rows = [(1, 0, "purchase"), (2, 1, "purchase")]  # everyone converts
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string"
    )
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    r = queries_relational.rel_abtest_ztest(spark, SF).collect()[0]
    assert r.z_score is None
    assert bool(r.significant) is False


def test_sentence_stats_consistency(spark):
    rows = queries_text.text_sentence_stats(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_sentences >= 1
        assert r.longest_sentence_words >= r.avg_sentence_words - 1e-9
