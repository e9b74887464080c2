"""Unit tests for the round-4r batch (incremental MV, corrupt records,
GDPR deletion)."""

import glob
import os

from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_ingest,
    queries_relational,
)

SF = "/root/testdata/sf0.001"


def test_incremental_mv_equals_full_recompute(spark):
    from ade_agente_documental_empresarial___miner_a_spark.plans.catalog import (
        events_table,
    )

    merged = {
        r.event_type: (r.n_events, r.total_value)
        for r in queries_relational.rel_incremental_mv(spark, SF).collect()
    }
    full = {
        r.event_type: (r.n, r.s)
        for r in events_table(spark, SF)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("s"),
        )
        .collect()
    }
    assert merged == full


def test_corrupt_records_counts(spark):
    row = queries_ingest.s17_corrupt_records(spark, SF).collect()[0]
    assert row.n_good == len(queries_ingest._GOOD_ROWS)
    assert row.n_corrupt == len(queries_ingest._BAD_LINES)
    assert row.good_value_sum == sum(v for _, v in queries_ingest._GOOD_ROWS)


def test_gdpr_delete_touches_only_affected_partitions(spark, tmp_path):
    lake = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(i, f"p{i % 3}", i * 2) for i in range(30)],
        "doc_id long, source string, val long",
    )
    df.repartition("source").write.mode("overwrite").partitionBy(
        "source"
    ).parquet(lake)
    # forget-set lives only in partition p1 (ids ≡ 1 mod 3, pick id 7/13)
    untouched = {
        p: sorted(glob.glob(os.path.join(lake, f"source={p}", "*")))
        for p in ("p0", "p2")
    }
    forget = F.col("doc_id").isin(7, 13)
    queries_curation.gdpr_delete(spark, lake, forget, partition_col="source")

    after = spark.read.parquet(lake)
    ids = {r.doc_id for r in after.collect()}
    assert 7 not in ids and 13 not in ids
    assert len(ids) == 28
    for p, files in untouched.items():
        assert (
            sorted(glob.glob(os.path.join(lake, f"source={p}", "*")))
            == files
        ), f"partition {p} was rewritten"


def test_gdpr_delete_is_idempotent(spark, tmp_path):
    lake = str(tmp_path / "lake2")
    df = spark.createDataFrame(
        [(i, f"p{i % 2}", i) for i in range(10)],
        "doc_id long, source string, val long",
    )
    df.repartition("source").write.mode("overwrite").partitionBy(
        "source"
    ).parquet(lake)
    forget = F.col("doc_id") == 4
    queries_curation.gdpr_delete(spark, lake, forget, partition_col="source")
    queries_curation.gdpr_delete(spark, lake, forget, partition_col="source")
    assert spark.read.parquet(lake).count() == 9
