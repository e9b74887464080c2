"""Unit tests for the round-4v batch (rolling correlation,
time-to-convert, CSV interop)."""

import glob

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_ingest,
    queries_relational,
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


def test_rolling_corr_perfect_linear(spark, monkeypatch):
    rows = []
    eid = 0
    # daily click total = day index + 1, view total = 2x + 3 -> corr 1
    for day in range(1, 9):
        eid += 1
        rows.append((eid, f"2024-01-{day:02d} 10:00:00", 1, "click", float(day)))
        eid += 1
        rows.append((eid, f"2024-01-{day:02d} 11:00:00", 1, "view", float(2 * day + 3)))
    ev = _events(spark, rows)
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    out = {
        str(r.d): (r.n_days, r.corr_7d)
        for r in queries_relational.rel_rolling_corr(spark, SF).collect()
    }
    assert out["2024-01-01"][0] == 1
    assert out["2024-01-01"][1] is None  # single point: zero variance
    assert out["2024-01-05"][0] == 5
    assert abs(out["2024-01-05"][1] - 1.0) < 1e-9
    assert out["2024-01-08"][0] == 7  # frame capped at 7 days
    assert abs(out["2024-01-08"][1] - 1.0) < 1e-9


def test_time_to_convert_literal(spark, monkeypatch):
    ev = _events(spark, [
        (1, "2024-01-01 10:00:00", 5, "view", 0.0),
        (2, "2024-01-01 10:01:30", 5, "purchase", 1.0),   # 90 s
        (3, "2024-01-01 12:00:00", 5, "purchase", 1.0),   # 7200 s, same view
        (4, "2024-01-01 09:00:00", 6, "purchase", 1.0),   # no prior view
    ])
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    rows = queries_relational.rel_time_to_convert(spark, SF).collect()
    assert len(rows) == 1  # only cohort 5%4=1 converts with a prior view
    r = rows[0]
    assert r.cohort == 1 and r.n_conversions == 2
    assert r.p25_sec == 90 + 0.25 * (7200 - 90)
    assert r.p50_sec == (90 + 7200) / 2


def test_csv_interop_quotes_in_files(spark):
    df = queries_ingest.s18_csv_interop(spark, SF)
    assert df.count() > 0
    csv_dir = queries_ingest._csv_dir(SF)
    raw = ""
    for p in glob.glob(csv_dir + "/*.csv"):
        with open(p) as f:
            raw += f.read()
    # injected quotes force RFC-4180 quoting in the written files
    assert '"' in raw and "," in raw
    # roundtrip preserves the injected shapes
    sample = df.where(df.spiked.contains('"the"')).limit(1).collect()
    assert sample and ', "the" ,' in sample[0].spiked
