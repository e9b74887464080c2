"""Unit tests for the round-4s batch (SCD2 point-in-time join, epoch
shuffle, mixture weights)."""

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_relational,
)

SF = "/root/testdata/sf0.001"


def test_pit_join_sees_version_valid_at_event_time(spark, monkeypatch):
    rows = [
        # (event_id, ts, user_id, event_type, value)
        (1, "2024-01-01 10:00:00", 1, "click", 100.0),   # v1
        (2, "2024-01-01 12:00:00", 1, "click", 200.0),   # v2
        (3, "2024-01-01 09:00:00", 1, "purchase", 0.0),  # before v1 -> null
        (4, "2024-01-01 11:00:00", 1, "purchase", 0.0),  # sees v1
        (5, "2024-01-01 13:00:00", 1, "purchase", 0.0),  # sees v2
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    got = {
        r.purchase_id: (r.attr_version, r.attr_value)
        for r in queries_relational.rel_scd2_pit_join(spark, SF).collect()
    }
    assert got == {3: (None, None), 4: (1, 100.0), 5: (2, 200.0)}


def test_epoch_shuffle_is_reproducible_and_partitioning(spark):
    a = {
        r.shard: (r.n_docs, r.id_sum, r.lead_doc)
        for r in queries_curation.cur_epoch_shuffle(spark, SF).collect()
    }
    b = {
        r.shard: (r.n_docs, r.id_sum, r.lead_doc)
        for r in queries_curation.cur_epoch_shuffle(spark, SF).collect()
    }
    assert a == b  # same epoch -> byte-identical deal
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF}/documents.parquet')"
    ).fetchone()[0]
    assert sum(n for n, _, _ in a.values()) == n_docs


def test_epoch_change_redeals(spark):
    base = {
        r.shard: r.id_sum for r in queries_curation.cur_epoch_shuffle(spark, SF).collect()
    }
    orig = queries_curation._EPOCH
    try:
        queries_curation._EPOCH = orig + 1
        # rebuild the query with the new epoch literal (module-level
        # constant is read at call time inside the function body)
        other = {
            r.shard: r.id_sum
            for r in queries_curation.cur_epoch_shuffle(spark, SF).collect()
        }
    finally:
        queries_curation._EPOCH = orig
    assert other != base  # a different epoch deals different shards


def test_mixture_weights_bounds(spark):
    rows = queries_curation.cur_mixture_weights(spark, SF).collect()
    total = sum(r.n_tokens for r in rows)
    target = total / len(rows)
    for r in rows:
        assert 0.0 < r.sampling_rate <= 1.0
        assert r.expected_tokens <= r.n_tokens
        if r.n_tokens > target:
            assert r.sampling_rate < 1.0
            assert abs(r.expected_tokens - target) <= 1
        else:
            assert r.sampling_rate == 1.0
            assert r.expected_tokens == r.n_tokens
