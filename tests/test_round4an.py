"""Unit tests for the round-4an batch (max drawdown, PSI)."""

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_relational,
)

SF = "/root/testdata/sf0.001"


def test_max_drawdown_literal(spark, monkeypatch):
    # series: 5, 8, 3, 6  -> peak 8, worst drawdown 3-8 = -5
    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 5.0),
        (2, "2024-01-01 10:01:00", 1, "click", 3.0),
        (3, "2024-01-01 10:02:00", 1, "click", -5.0),
        (4, "2024-01-01 10:03:00", 1, "click", 3.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    r = queries_relational.rel_max_drawdown(spark, SF).collect()[0]
    assert (r.peak_value, r.max_drawdown) == (8.0, -5.0)


def test_max_drawdown_nonpositive(spark):
    rows = queries_relational.rel_max_drawdown(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.max_drawdown <= 0.0


def test_psi_bounds_and_self_consistency(spark):
    rows = queries_curation.cur_psi_sources(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.psi >= -1e-9  # PSI is a sum of (p-q)ln(p/q) terms, each >= 0
        assert 1 <= r.n_active_bins <= queries_curation._PSI_BINS
