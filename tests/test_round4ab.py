"""Unit tests for the round-4ab batch (nearest-event join, n-gram
novelty, compression ratio)."""

import zlib

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_relational,
    queries_text,
)

SF = "/root/testdata/sf0.001"


def test_nearest_event_picks_smaller_gap(spark, monkeypatch):
    rows = [
        # user 1: views at 10:00 and 10:10; purchase at 10:07 -> after (3min < 7min)
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 10:07:00", 1, "purchase"),
        (3, "2024-01-01 10:10:00", 1, "view"),
        # user 2: only a later view -> direction 'after'
        (4, "2024-01-01 09:00:00", 2, "purchase"),
        (5, "2024-01-01 09:30:00", 2, "view"),
        # user 3: no views at all -> excluded
        (6, "2024-01-01 09:00:00", 3, "purchase"),
        # user 4: equidistant views -> tie breaks toward 'before'
        (7, "2024-01-01 10:00:00", 4, "view"),
        (8, "2024-01-01 10:05:00", 4, "purchase"),
        (9, "2024-01-01 10:10:00", 4, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type")
    monkeypatch.setattr(queries_relational, "events_table", lambda _s, _sf: ev)
    got = {
        r.purchase_id: (r.direction, r.gap_sec)
        for r in queries_relational.rel_nearest_event_join(spark, SF).collect()
    }
    assert got == {
        2: ("after", 180),
        4: ("after", 1800),
        8: ("before", 300),
    }


def test_novelty_bounds_and_boilerplate_detection(spark):
    rows = queries_text.text_ngram_novelty(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.novelty <= 1.0
        assert r.n_unique_grams <= r.n_distinct_grams


def test_compression_ratio_pins_zlib(spark):
    docs = spark.createDataFrame(
        [
            (1, "ab" * 500),            # highly repetitive
            (2, "the quick brown fox jumps over the lazy dog " * 3),
            (3, ""),                     # empty -> null ratio
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in queries_text.compression_ratio(docs).collect()}
    for i, text in ((1, "ab" * 500), (2, "the quick brown fox jumps over the lazy dog " * 3)):
        raw = text.encode()
        assert got[i].n_raw_bytes == len(raw)
        packed = zlib.compress(raw, queries_text._ZLIB_LEVEL)
        assert got[i].n_zlib_bytes == len(packed)
        assert abs(got[i].ratio - round(len(packed) / len(raw), 9)) < 1e-12
    assert got[1].ratio < got[2].ratio  # repetition compresses harder
    assert got[3].ratio is None
