"""Unit tests for the round-4ao batch (duplicate payments, missing
sequence)."""

from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.plans import queries_relational

SF = "/root/testdata/sf0.001"


def test_duplicate_payments_literal(spark, monkeypatch):
    rows = [
        # same user, same amount, 2 min apart -> flagged
        (1, "2024-01-01 10:00:00", 1, "purchase", 9.99),
        (2, "2024-01-01 10:02:00", 1, "purchase", 9.99),
        # same amount but 2 hours later -> clean
        (3, "2024-01-01 12:00:00", 1, "purchase", 9.99),
        # different amount within window -> clean
        (4, "2024-01-01 10:03:00", 1, "purchase", 5.00),
        # different user -> clean
        (5, "2024-01-01 10:02:30", 2, "purchase", 9.99),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    got = [
        (r.suspect_event, r.original_event, r.gap_sec)
        for r in queries_relational.rel_duplicate_payments(spark, SF).collect()
    ]
    assert got == [(2, 1, 120)]


def test_missing_sequence_literal(spark, monkeypatch):
    df = spark.createDataFrame(
        [(k,) for k in (1, 2, 3, 7, 8, 12)], "o_orderkey long"
    )
    monkeypatch.setattr(queries_relational, "table", lambda _s, _sf, _n: df)
    got = sorted(
        (r.missing_from, r.missing_to, r.n_missing)
        for r in queries_relational.rel_missing_sequence(spark, SF).collect()
    )
    assert got == [(4, 6, 3), (9, 11, 3)]


def test_fixture_is_clean_on_both_audits(spark):
    assert queries_relational.rel_duplicate_payments(spark, SF).count() == 0
    assert queries_relational.rel_missing_sequence(spark, SF).count() == 0
