"""Unit tests for the round-4o batch (running distinct window,
compaction, winsorize)."""

import glob
import os

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_ingest,
)

SF = "/root/testdata/sf0.001"


def test_running_distinct_matches_bruteforce(spark):
    rows = [
        # (event_type, event_id, ts-second, user)
        ("a", 1, 1, 10),
        ("a", 2, 2, 11),
        ("a", 3, 3, 10),  # repeat user -> count stays
        ("a", 4, 4, 12),
        ("b", 5, 1, 10),
        ("b", 6, 2, 10),
    ]
    df = spark.createDataFrame(
        [
            (t, eid, f"2024-01-01 00:00:0{ts}", u)
            for t, eid, ts, u in rows
        ],
        "event_type string, event_id long, ts string, user_id long",
    )
    from pyspark.sql import Window, functions as F

    first_w = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    running_w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        df.select(
            "event_type",
            "event_id",
            "ts",
            F.when(F.row_number().over(first_w) == 1, 1)
            .otherwise(0)
            .alias("first_seen"),
        )
        .select(
            "event_id",
            F.sum("first_seen").over(running_w).alias("d"),
        )
        .collect()
    )
    got = {r.event_id: r.d for r in out}
    assert got == {1: 1, 2: 2, 3: 2, 4: 3, 5: 1, 6: 1}


def test_compaction_bounds_file_count(spark, tmp_path):
    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    orders.repartition(64).write.mode("overwrite").parquet(src)
    n_before = len(glob.glob(os.path.join(src, "*.parquet")))
    assert n_before == 64

    n_parts = queries_ingest.compact_parquet(
        spark, src, dst, target_file_bytes=4 * 1024 * 1024
    )
    n_after = len(glob.glob(os.path.join(dst, "*.parquet")))
    assert n_after == n_parts
    assert n_after < n_before
    # same table
    assert (
        spark.read.parquet(dst).count()
        == spark.read.parquet(src).count()
    )


def test_winsorize_respects_bounds(spark):
    out = {r.lang: r for r in queries_curation.cur_winsorize(spark, SF).collect()}
    import duckdb

    con = duckdb.connect()
    exp = con.execute(
        """SELECT lang, min(CAST(n_chars AS DOUBLE)), max(CAST(n_chars AS DOUBLE)),
                  avg(CAST(n_chars AS DOUBLE))
           FROM read_parquet('/root/testdata/sf0.001/documents.parquet')
           GROUP BY lang"""
    ).fetchall()
    for lang, lo, hi, raw_mean in exp:
        w = out[lang].winsorized_mean
        assert lo <= w <= hi
        # clipping pulls the mean toward the middle or leaves it in range
        assert abs(w - raw_mean) <= (hi - lo)
