"""Unit tests for the round-4ae batch (capped running sum, peak
concurrency)."""

from ade_agente_documental_empresarial___miner_a_spark.plans import queries_relational

SF = "/root/testdata/sf0.001"


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )


def test_capped_running_sum_literal(spark, monkeypatch):
    # user 1: +5, -8 (floored to 0), +3, -1  -> final 2, peak 5, floored once
    ev = _events(spark, [
        (1, "2024-01-01 10:00:00", 1, "click", 5.0),
        (2, "2024-01-01 10:01:00", 1, "purchase", 8.0),
        (3, "2024-01-01 10:02:00", 1, "click", 3.0),
        (4, "2024-01-01 10:03:00", 1, "purchase", 1.0),
    ])
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    r = queries_relational.rel_capped_running_sum(spark, SF).collect()[0]
    assert (r.n_steps, r.final_balance, r.peak_balance, r.n_floored) == (
        4, 2.0, 5.0, 1,
    )
    # a plain running-sum-then-clamp would give max(0, 5-8+3-1)=0 peak -1:
    # the clamp INSIDE the fold is what produces final 2 - pinned above.


def test_capped_running_sum_is_not_window_expressible(spark, monkeypatch):
    ev = _events(spark, [
        (1, "2024-01-01 10:00:00", 1, "purchase", 10.0),
        (2, "2024-01-01 10:01:00", 1, "click", 4.0),
    ])
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    r = queries_relational.rel_capped_running_sum(spark, SF).collect()[0]
    # clamped fold: max(0,-10)=0 then 0+4=4; naive clamp of the plain
    # running sum would read max(0, -6)=0
    assert r.final_balance == 4.0


def test_peak_concurrency_literal(spark, monkeypatch):
    # three overlapping 10-min intervals, then a disjoint one
    ev = _events(spark, [
        (1, "2024-01-01 10:00:00", 1, "click", 0.0),
        (2, "2024-01-01 10:04:00", 2, "click", 0.0),
        (3, "2024-01-01 10:08:00", 3, "click", 0.0),
        (4, "2024-01-01 12:00:00", 4, "click", 0.0),
        # touching intervals do NOT overlap: ends sort before starts
        (5, "2024-01-01 12:10:00", 5, "click", 0.0),
    ])
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    got = {
        r.event_type: r.peak_concurrent
        for r in queries_relational.rel_peak_concurrency(spark, SF).collect()
    }
    assert got == {"click": 3}
