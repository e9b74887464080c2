"""Unit tests for the round-4t batch (longest streak, basket pairs,
equi-depth histogram)."""

from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.plans import queries_relational

SF = "/root/testdata/sf0.001"


def test_longest_streak_literal(spark, monkeypatch):
    rows = [
        # user 1: Jan 1,2,3 then gap then Jan 5 -> longest 3
        (1, "2024-01-01 10:00:00"),
        (2, "2024-01-02 10:00:00"),
        (3, "2024-01-02 22:00:00"),  # same day, no double count
        (4, "2024-01-03 10:00:00"),
        (5, "2024-01-05 10:00:00"),
        # user 2: two singleton days -> longest 1, first start Jan 1
        (6, "2024-01-01 00:00:00"),
        (7, "2024-01-03 00:00:00"),
    ]
    ev = spark.createDataFrame(
        [(eid, ts, 1 if eid <= 5 else 2) for eid, ts in rows],
        "event_id long, ts string, user_id long",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id")
    # 4t binds events_table at module import time — patch ITS binding
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    got = {
        r.user_id: (r.longest_streak, str(r.first_best_start))
        for r in queries_relational.rel_longest_streak(spark, SF).collect()
    }
    assert got == {
        1: (3, "2024-01-01"),
        2: (1, "2024-01-01"),
    }


def test_basket_pairs_bounded_and_symmetric_free(spark):
    rows = queries_relational.rel_basket_pairs(spark, SF).collect()
    assert len(rows) <= 15
    for r in rows:
        assert r.brand_a < r.brand_b  # canonical ordering, no mirrors
        assert r.support >= 1
    supports = [r.support for r in rows]
    assert supports == sorted(supports, reverse=True)


def test_equidepth_hist_depth_balanced(spark):
    rows = queries_relational.rel_equidepth_hist(spark, SF).collect()
    assert {r.decile for r in rows} == set(range(1, 11))
    counts = [r.n_orders for r in rows]
    assert max(counts) - min(counts) <= 1  # equi-DEPTH
    by_decile = sorted(rows, key=lambda r: r.decile)
    for lo_r, hi_r in zip(by_decile, by_decile[1:]):
        assert lo_r.hi <= hi_r.lo  # buckets tile the value axis in order
