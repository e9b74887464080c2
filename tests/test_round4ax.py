"""Unit tests for the round-4ax batch (CUSUM changepoint, burstiness)."""

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_relational,
    queries_text,
)

SF = "/root/testdata/sf0.001"


def test_cusum_finds_injected_shift(spark, monkeypatch):
    # 10 days at level 10, then 10 days at level 30: shift after day 10
    rows = []
    eid = 0
    for day in range(1, 21):
        eid += 1
        level = 10.0 if day <= 10 else 30.0
        rows.append((eid, f"2024-01-{day:02d} 12:00:00", 1, "click", level))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    r = queries_relational.rel_cusum_changepoint(spark, SF).collect()[0]
    # change_day is TIMESTAMP since r9 (gate-mimic date-class
    # retirement): midnight UTC of the changepoint day
    assert str(r.change_day) == "2024-01-10 00:00:00"
    assert abs(r.mean_before - 10.0) < 1e-6
    assert abs(r.mean_after - 30.0) < 1e-6
    assert r.cusum_magnitude > 0


def test_burstiness_bounds(spark):
    rows = queries_text.text_term_burstiness(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.burstiness <= 1.0
        assert r.burst_docs <= r.df
