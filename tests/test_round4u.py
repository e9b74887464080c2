"""Unit tests for the round-4u batch (attribution, dim stats, local
time rollup)."""

from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_relational,
    queries_similarity,
)

SF = "/root/testdata/sf0.001"


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )


def test_attribution_splits_evenly_and_conserves(spark, monkeypatch):
    ev = _events(spark, [
        (1, "2024-01-01 10:00:00", 1, "view", 0.0),
        (2, "2024-01-01 10:20:00", 1, "view", 0.0),
        (3, "2024-01-01 10:40:00", 1, "view", 0.0),
        (4, "2024-01-01 11:00:00", 1, "purchase", 9.0),
        (5, "2024-01-01 12:30:00", 1, "purchase", 5.0),  # only view 3+... none in window
        (6, "2024-01-02 09:00:00", 2, "purchase", 7.0),  # no views at all
    ])
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    got = {
        r.view_id: (r.n_conversions, r.credit_total)
        for r in queries_relational.rel_multitouch_attribution(spark, SF).collect()
    }
    assert got == {1: (1, 3.0), 2: (1, 3.0), 3: (1, 3.0)}
    # conservation: attributed purchases' value fully distributed
    assert sum(c for _, c in got.values()) == 9.0


def test_dim_stats_match_numpy(spark):
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/embeddings.parquet")
    mat = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    out = {r.dim: r for r in queries_similarity.emb_dim_stats(spark, SF).collect()}
    assert len(out) == mat.shape[1]
    for d in (0, 7, 31, mat.shape[1] - 1):
        col = mat[:, d]
        assert abs(out[d].dim_mean - col.mean()) < 1e-6
        assert abs(out[d].dim_std - col.std()) < 1e-6


def test_local_date_shifts_across_utc_midnight(spark, monkeypatch):
    ev = _events(spark, [
        # 02:00 UTC on Jan 1 is 21:00 Dec 31 in New York
        (1, "2024-01-01 02:00:00", 1, "click", 1.0),
        # 13:00 UTC on Jan 1 is 08:00 Jan 1 in New York
        (2, "2024-01-01 13:00:00", 1, "click", 1.0),
    ])
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    got = {
        str(r.local_date): r.n_events
        for r in queries_relational.rel_local_time_rollup(spark, SF).collect()
    }
    assert got == {"2023-12-31": 1, "2024-01-01": 1}
