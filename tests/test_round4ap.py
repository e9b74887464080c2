"""Unit tests for the round-4ap batch (growth accounting)."""

from ade_agente_documental_empresarial___miner_a_spark.plans import queries_relational

SF = "/root/testdata/sf0.001"


def test_growth_accounting_literal(spark, monkeypatch):
    # weeks: W1 = 2024-01-01 (Mon), W2 = 01-08, W3 = 01-15
    rows = [
        # user 1: active W1, W2, W3  -> new, retained, retained
        (1, "2024-01-01 10:00:00", 1),
        (2, "2024-01-08 10:00:00", 1),
        (3, "2024-01-15 10:00:00", 1),
        # user 2: active W1, gap, W3 -> new, resurrected
        (4, "2024-01-02 10:00:00", 2),
        (5, "2024-01-16 10:00:00", 2),
        # user 3: active W1 only -> new, then churned in W2
        (6, "2024-01-03 10:00:00", 3),
    ]
    ev = spark.createDataFrame(
        [(eid, ts, u, "click", 1.0) for eid, ts, u in rows],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    # week is TIMESTAMP since r9 (gate-mimic date-class retirement):
    # midnight UTC, so keying on the date part keeps the literals
    got = {
        str(r.week.date()): (
            r.n_new, r.n_retained, r.n_resurrected, r.n_active,
            r.n_churned_from_prev,
        )
        for r in queries_relational.rel_growth_accounting(spark, SF).collect()
    }
    assert all(
        r.week.time().isoformat() == "00:00:00"
        for r in queries_relational.rel_growth_accounting(spark, SF).collect()
    )
    assert got["2024-01-01"] == (3, 0, 0, 3, 0)
    assert got["2024-01-08"] == (0, 1, 0, 1, 2)  # users 2 and 3 churned
    assert got["2024-01-15"] == (0, 1, 1, 2, 0)


def test_growth_identity_holds(spark):
    rows = queries_relational.rel_growth_accounting(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_active == r.n_new + r.n_retained + r.n_resurrected
        assert r.n_churned_from_prev >= 0
