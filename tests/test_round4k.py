"""Unit tests for the round-4k batch (HOF/calendar batteries, portable
mode/median, chi-squared cells, cluster representatives, vocab
coverage, Python DataSource writer)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_dedup,
    queries_relational,
    queries_text,
)

SF = "/root/testdata/sf0.001"


def test_hof_battery_invariants(spark):
    rows = queries_text.func_hof_battery(spark, SF).collect()
    assert rows
    for r in rows:
        # filter-count and exists/forall agree with each other
        assert r.any_gt_half in (True, False)
        assert (r.n_pos > 0) or (not r.all_pos)
        assert r.sum_sq >= 0.0 and r.l1 >= 0.0
        # Cauchy-Schwarz: |Σ aᵢ·a_{n-i}| ≤ Σ aᵢ² (same multiset)
        assert abs(r.rev_dot) <= r.sum_sq + 1e-9


def test_calendar_fns_clamped_month_arith(spark):
    df = spark.createDataFrame(
        [(1, "2020-01-31"), (2, "2020-11-30")], "k long, s string"
    ).select("k", F.col("s").cast("date").alias("d"))
    out = df.select(
        "k",
        F.add_months("d", 3).alias("plus_quarter"),
        F.last_day("d").alias("month_end"),
        F.weekofyear("d").alias("w"),
    ).collect()
    by_k = {r.k: r for r in out}
    assert str(by_k[1].plus_quarter) == "2020-04-30"  # clamped
    assert str(by_k[1].month_end) == "2020-01-31"
    assert str(by_k[2].plus_quarter) == "2021-02-28"
    assert by_k[2].w == 49  # ISO week


def test_mode_is_deterministic_on_ties(spark):
    # two priorities tie at 2 occurrences: lexicographically smaller wins
    j = spark.createDataFrame(
        [("S", "2-HIGH"), ("S", "2-HIGH"), ("S", "1-URGENT"),
         ("S", "1-URGENT"), ("S", "5-LOW")],
        "segment string, pri string",
    )
    counts = j.groupBy("segment", "pri").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy("segment").orderBy(F.desc("n"), F.asc("pri"))
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    )
    assert top[0].pri == "1-URGENT"


def test_chi2_cells_marginals(spark):
    rows = queries_relational.rel_chi2_cells(spark, SF).collect()
    assert rows
    n = sum(r.obs for r in rows)
    # expected counts are positive and sum to ≤ N (equality only when
    # every lang × source combination is observed — empty cells carry
    # no row, so their expected mass is absent from the output)
    tot_exp = sum(r.expected for r in rows)
    assert 0 < tot_exp <= n + 1e-6
    for r in rows:
        assert r.expected > 0.0
        assert r.contrib >= 0.0


def test_representatives_have_best_quality(spark):
    reps = queries_dedup.dedup_representatives(spark, SF)
    rows = reps.collect()
    assert rows
    # a representative is a member of its own cluster and n_members >= 2
    for r in rows:
        assert r.n_members >= 2
    # cluster ids unique (one rep per cluster)
    assert len(rows) == len({r.cluster_id for r in rows})


def test_vocab_coverage_monotone_and_bounded(spark):
    rows = (
        queries_curation.cur_vocab_coverage(spark, SF)
        .orderBy("rank")
        .collect()
    )
    assert rows
    assert rows[0].rank == 1
    # cumulative share strictly increasing and below 50% + last share
    prev = 0.0
    for r in rows:
        assert r.cum_share > prev
        prev = r.cum_share
    # every kept token's pre-row coverage is < 0.5 by construction;
    # counts are non-increasing down the ranking
    cnts = [r.cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)


def test_ds_writer_manifest_matches_rows(spark, tmp_path):
    from ade_agente_documental_empresarial___miner_a_spark.sources.pydatasource import (
        JsonlCommitDataSource,
    )

    spark.dataSource.register(JsonlCommitDataSource)
    out = str(tmp_path / "sink")
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        (F.col("id") * 3).alias("n_chars"),
    )
    df.repartition(4).write.format("jsonl_commit").mode("append").option(
        "path", out
    ).save()
    with open(os.path.join(out, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    assert manifest["total_rows"] == 100
    assert len(manifest["files"]) == 4
    # nothing staged left behind; all committed files listed
    files = sorted(os.listdir(out))
    assert not [f for f in files if f.endswith(".tmp")]
    back = spark.read.schema("doc_id long, lang string, n_chars long").json(
        os.path.join(out, "part-*.jsonl")
    )
    assert back.count() == 100


def test_ds_writer_requires_path(spark):
    from ade_agente_documental_empresarial___miner_a_spark.sources.pydatasource import (
        JsonlCommitWriter,
    )
    from pyspark.sql.types import StructType

    with pytest.raises(ValueError, match="path"):
        JsonlCommitWriter({}, StructType([]))
