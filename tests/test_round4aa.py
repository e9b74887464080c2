"""Unit tests for the round-4aa batch (event transitions, dataset
diff)."""

from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_relational,
)

SF = "/root/testdata/sf0.001"


def test_transition_matrix_literal(spark, monkeypatch):
    rows = [
        (1, "2024-01-01 10:00:00", 1, "a"),
        (2, "2024-01-01 10:01:00", 1, "b"),
        (3, "2024-01-01 10:02:00", 1, "a"),
        (4, "2024-01-01 10:03:00", 1, "b"),
        (5, "2024-01-01 10:00:00", 2, "a"),
        (6, "2024-01-01 10:01:00", 2, "a"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type")
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    got = {
        (r.prev_type, r.next_type): (r.n_transitions, r.p_transition)
        for r in queries_relational.rel_event_transitions(spark, SF).collect()
    }
    # user1: a->b, b->a, a->b ; user2: a->a
    assert got[("a", "b")] == (2, round(2 / 3, 9))
    assert got[("a", "a")] == (1, round(1 / 3, 9))
    assert got[("b", "a")] == (1, 1.0)


def test_transition_probabilities_row_normalize(spark):
    rows = queries_relational.rel_event_transitions(spark, SF).collect()
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r.prev_type, []).append(r.p_transition)
    for prev, ps in by_prev.items():
        assert abs(sum(ps) - 1.0) < 1e-6, prev


def test_dataset_diff_classes(spark):
    import duckdb

    got = {r.change: (r.n_docs, r.token_delta)
           for r in queries_curation.cur_dataset_diff(spark, SF).collect()}
    n, = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF}/documents.parquet')"
    ).fetchone()
    ids = [i for (i,) in duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()]
    removed = sum(1 for i in ids if i % 7 == 0)
    added = sum(1 for i in ids if i % 13 == 3)
    changed = sum(1 for i in ids if i % 7 != 0 and i % 11 == 0)
    unchanged = n - removed - changed
    assert got["removed"][0] == removed
    assert got["added"][0] == added
    assert got["changed"][0] == changed
    assert got["unchanged"][0] == unchanged
    assert got["removed"][1] < 0 and got["added"][1] > 0
    assert got["changed"][1] > 0  # doubled text adds tokens
    assert got["unchanged"][1] == 0
