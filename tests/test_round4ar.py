"""Unit tests for the round-4ar batch (Kaplan-Meier survival)."""

from ade_agente_documental_empresarial___miner_a_spark.plans import queries_relational

SF = "/root/testdata/sf0.001"


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, ts, u, "click", 1.0) for i, (ts, u) in enumerate(rows)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )


def test_km_literal_with_censoring(spark, monkeypatch):
    # observation edge = Jan 30. users:
    #  u1: Jan 1 -> Jan 3   lifetime 2, churned
    #  u2: Jan 1 -> Jan 6   lifetime 5, churned
    #  u3: Jan 1 -> Jan 29  lifetime 28, CENSORED (within 3d of edge)
    #  u4: Jan 1 -> Jan 30  lifetime 29, CENSORED
    rows = [
        ("2024-01-01 10:00:00", 1), ("2024-01-03 10:00:00", 1),
        ("2024-01-01 10:00:00", 2), ("2024-01-06 10:00:00", 2),
        ("2024-01-01 10:00:00", 3), ("2024-01-29 10:00:00", 3),
        ("2024-01-01 10:00:00", 4), ("2024-01-30 10:00:00", 4),
    ]
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: _ev(spark, rows))
    out = {r.lifetime_days: r for r in queries_relational.rel_survival_km(spark, SF).collect()}
    # t=2: 4 at risk, 1 churn -> S=0.75 ; t=5: 3 at risk, 1 churn -> 0.5
    assert out[2].n_at_risk == 4 and out[2].n_churned == 1
    assert abs(out[2].survival - 0.75) < 1e-6
    assert out[5].n_at_risk == 3 and out[5].n_churned == 1
    assert abs(out[5].survival - 0.5) < 1e-6
    # censored users consume risk but never drop the curve
    assert out[28].n_churned == 0 and abs(out[28].survival - 0.5) < 1e-6
    assert out[29].n_churned == 0 and abs(out[29].survival - 0.5) < 1e-6


def test_km_curve_is_monotone_nonincreasing(spark):
    rows = sorted(
        queries_relational.rel_survival_km(spark, SF).collect(),
        key=lambda r: r.lifetime_days,
    )
    assert rows
    last = 1.0 + 1e-12
    for r in rows:
        assert r.survival <= last + 1e-9
        last = r.survival
        assert 0.0 <= r.survival <= 1.0
