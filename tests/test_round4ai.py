"""Unit tests for the round-4ai batch (multi-band counts, layout
migration)."""

import glob
import os

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_ingest,
    queries_relational,
)

SF = "/root/testdata/sf0.001"


def test_multiband_is_single_scan(spark):
    df = queries_relational.rel_multiband_counts(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # formatted explain lists each node once in the tree ("Scan parquet  (n)")
    # and once in the details; count tree nodes only
    n_scans = sum(
        1 for line in plan.splitlines() if "Scan parquet  (" in line
    )
    assert n_scans == 1  # 9 answers, ONE scan
    r = df.collect()[0]
    bands = [getattr(r, name) for name, *_ in queries_relational._BANDS]
    assert all(b >= 0 for b in bands)
    assert sum(bands) <= r.n_total


def test_layout_migration_partitions_by_month(spark):
    queries_ingest.s19_layout_migration(spark, SF).collect()
    monthly = queries_ingest._monthly_dir(SF)
    dirs = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(monthly, "event_month=*"))
    )
    assert dirs and all(d.startswith("event_month=2024-") for d in dirs)
    # migrated row count equals the raw events row count
    import duckdb

    n_raw = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF}/events.parquet')"
    ).fetchone()[0]
    assert spark.read.parquet(monthly).count() == n_raw
