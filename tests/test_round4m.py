"""Unit tests for the round-4m batch (dynamic partition overwrite,
oversampling, MAD, drift terms)."""

import os

from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_dedup,
    queries_ingest,
    queries_similarity,
    queries_text,
)

SF = "/root/testdata/sf0.001"


def test_dynamic_overwrite_touches_only_target_partition(spark, tmp_path):
    out = str(tmp_path / "dpo")
    base = spark.createDataFrame(
        [(1, 10.0, "O"), (2, 20.0, "F"), (3, 30.0, "P")],
        "k long, v double, status string",
    )
    base.write.mode("overwrite").partitionBy("status").parquet(out)
    o_files_before = sorted(os.listdir(os.path.join(out, "status=O")))

    repaired = spark.createDataFrame(
        [(2, 40.0, "F")], "k long, v double, status string"
    )
    with queries_ingest._dynamic_overwrite(spark):
        repaired.write.mode("overwrite").partitionBy("status").parquet(out)

    # sibling partitions survive byte-for-byte (same file names)
    assert os.path.isdir(os.path.join(out, "status=O"))
    assert os.path.isdir(os.path.join(out, "status=P"))
    o_files_after = sorted(os.listdir(os.path.join(out, "status=O")))
    assert o_files_before == o_files_after
    got = {r.k: r.v for r in spark.read.parquet(out).collect()}
    assert got == {1: 10.0, 2: 40.0, 3: 30.0}


def test_dynamic_overwrite_restores_conf(spark):
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "STATIC")
    with queries_ingest._dynamic_overwrite(spark):
        assert spark.conf.get(key) == "dynamic"
    assert spark.conf.get(key, "STATIC") == prev


def test_oversample_factors(spark):
    rows = {r.lang: r for r in queries_curation.cur_oversample_rare(spark, SF).collect()}
    assert rows
    max_before = max(r.n_before for r in rows.values())
    for r in rows.values():
        assert r.factor == max_before // r.n_before
        assert r.factor >= 1
        assert r.n_after == r.n_before * r.factor
        # upsampling never overshoots the majority class
        assert r.n_after <= max_before


def test_mad_is_robust_to_one_outlier(spark):
    # 5 values around 10 plus one huge outlier: stddev explodes, MAD not
    df = spark.createDataFrame(
        [("A", 9.0), ("A", 10.0), ("A", 10.0), ("A", 11.0), ("A", 1e9)],
        "g string, x double",
    )
    med = df.groupBy("g").agg(F.median("x").alias("m"))
    j = df.join(med, "g")
    mad = j.groupBy("g").agg(
        F.median(F.abs(F.col("x") - F.col("m"))).alias("mad")
    ).collect()[0]
    assert mad.mad == 1.0  # |9-10|,|10-10|,|10-10|,|11-10|,|1e9-10| → med 1


def test_drift_terms_ranked_and_bounded(spark):
    rows = queries_text.text_drift_terms(spark, SF).collect()
    assert 0 < len(rows) <= 20
    contribs = [r.kl_contrib for r in rows]
    assert contribs == sorted(contribs, reverse=True)
    for r in rows:
        assert 0.0 < r.p_en < 1.0 and 0.0 < r.p_de < 1.0
    # the top drift term is en-overrepresented → positive contribution
    # (the top-20 tail may dip negative on a tiny sf0.001 vocabulary)
    assert rows[0].kl_contrib > 0.0
    assert rows[0].p_en > rows[0].p_de


def test_lsh_recall_bounds(spark):
    r = queries_dedup.dedup_lsh_recall(spark, SF).collect()[0]
    assert r.n_exact > 0
    assert 0 <= r.n_found <= r.n_exact  # verified ⊆ exact by construction
    assert 0.0 <= r.recall <= 1.0
    # the 8/4 config should find a usable fraction on the fixture corpus
    assert r.recall >= 0.5


def test_set_ops_all_multiplicities(spark):
    # literal multisets: a = [x,x,x,y], b = [x,y,y]
    a = spark.createDataFrame(
        [("x",), ("x",), ("x",), ("y",)], "pri string"
    )
    b = spark.createDataFrame([("x",), ("y",), ("y",)], "pri string")
    inter = {
        (r.pri, r.n)
        for r in a.intersectAll(b)
        .groupBy("pri")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    exc = {
        (r.pri, r.n)
        for r in a.exceptAll(b)
        .groupBy("pri")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert inter == {("x", 1), ("y", 1)}  # min multiplicities
    assert exc == {("x", 2)}  # 3-1 copies of x, 1-2 -> 0 of y


def test_ivf_filtered_only_target_label(spark):
    rows = queries_similarity.sim_ivf_filtered(spark, SF).collect()
    assert 0 < len(rows) <= 5
    assert all(r.label == 3 for r in rows)
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    # ranks are dense 1..n
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
