"""Round-4 relational shapes: TPC-H Q13/Q21/Q2/Q7/Q8/Q9 adaptations.

Semantic assertions at small SF plus physical-plan checks that the
join strategies are the ones the docstrings promise (semi/anti with
residuals for Q21, broadcast for the small sides)."""

import pytest

from ade_agente_documental_empresarial___miner_a_spark.plans import catalog
from tests.conftest import SF001_DIR, SF_DIR


def _q(name):
    return catalog.queries()[name]


def test_q13_distribution_accounts_for_every_customer(spark):
    rows = _q("rel_q13_custdist")(spark, SF_DIR).collect()
    total_customers = sum(r.custdist for r in rows)
    n_cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").count()
    assert total_customers == n_cust
    # the left join must preserve zero-order customers (c_count = 0 bucket
    # exists whenever some customer has only URGENT or no orders)
    assert all(r.c_count >= 0 for r in rows)


def test_q21_plan_has_semi_and_anti_join(spark):
    df = _q("rel_q21_waiting")(spark, SF001_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    rows = df.collect()
    assert rows and all(r.numwait >= 1 for r in rows)


def test_q2_rows_are_size_class_minima(spark):
    rows = _q("rel_q2_min_price")(spark, SF_DIR).collect()
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    mins = {
        r.p_size: r.m
        for r in part.groupBy("p_size").min("p_retailprice").withColumnRenamed(
            "min(p_retailprice)", "m"
        ).collect()
    }
    assert rows
    for r in rows:
        assert r.p_retailprice == pytest.approx(mins[r.p_size])


def test_q7_symmetric_nation_pair(spark):
    rows = _q("rel_q7_volume")(spark, SF001_DIR).collect()
    assert rows
    pairs = {(r.supp_nation, r.cust_nation) for r in rows}
    assert pairs <= {("NATION_2", "NATION_9"), ("NATION_9", "NATION_2")}
    assert all(r.revenue > 0 for r in rows)


def test_q8_share_bounded(spark):
    rows = _q("rel_q8_market_share")(spark, SF001_DIR).collect()
    assert rows
    assert all(0.0 <= r.mkt_share <= 1.0 for r in rows)


def test_q9_profit_grouping(spark):
    rows = _q("rel_q9_profit")(spark, SF_DIR).collect()
    assert rows
    assert len({(r.nation, r.o_year) for r in rows}) == len(rows)


def test_q15_selects_the_max_revenue_supplier(spark):
    rows = _q("rel_q15_top_supplier")(spark, SF001_DIR).collect()
    assert rows and len({r.total_revenue for r in rows}) == 1


def test_q17_small_qty_threshold(spark):
    r = _q("rel_q17_small_qty")(spark, SF001_DIR).collect()[0]
    assert r.n_small >= 0
    if r.n_small:
        assert r.avg_yearly > 0


def test_q20_semi_joins_only(spark):
    df = _q("rel_q20_excess_shippers")(spark, SF001_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftSemi") >= 2
    rows = df.collect()
    assert len({r.s_suppkey for r in rows}) == len(rows)


def test_q11_threshold_is_global_fraction(spark):
    rows = _q("rel_q11_important_parts")(spark, SF001_DIR).collect()
    assert rows
    assert len({r.l_partkey for r in rows}) == len(rows)
    # recompute the filtered global total independently and assert the
    # fractional threshold strictly: kept parts exceed 0.1% of it,
    # and the result-set total can never exceed the global total
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF001_DIR}/lineitem.parquet")
    supp = spark.read.parquet(f"{SF001_DIR}/supplier.parquet")
    nat = spark.read.parquet(f"{SF001_DIR}/nation.parquet").where(
        F.col("n_name").isin("NATION_7", "NATION_19")
    )
    total = (
        li.join(
            supp.join(
                nat, F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
            ).select("s_suppkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(24,8)"
                )
            )
        )
        .collect()[0][0]
    )
    assert all(r.part_value * 1000 > float(total) * (1 - 1e-9) for r in rows)
    assert sum(r.part_value for r in rows) <= float(total) * (1 + 1e-9)


def test_q11_plan_broadcasts_scalar_total(spark):
    df = _q("rel_q11_important_parts")(spark, SF001_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan  # 1-row total, no collect


def test_q16_anti_join_excludes_complaint_suppliers(spark):
    df = _q("rel_q16_supplier_cnt")(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    rows = df.collect()
    assert rows
    assert all(r.supplier_cnt >= 1 for r in rows)
    assert all(r.p_size in {1, 9, 14, 19, 23, 36, 45, 49} for r in rows)
    assert all(not r.p_type.startswith("PROMO") for r in rows)


def test_emb_label_centroids_match_numpy_mean(spark):
    import numpy as np

    # r05 reshape: exploded (label, pos, mean_v, n_vecs) rows — the r04
    # ARRAY<DOUBLE> centroid column crashed the driver's canonicalizer
    rows = _q("emb_label_centroids")(spark, SF001_DIR).collect()
    emb = spark.read.parquet(f"{SF001_DIR}/embeddings.parquet").collect()
    by_label = {}
    for r in emb:
        by_label.setdefault(r.label, []).append(r.embedding)
    assert {r.label for r in rows} == set(by_label)
    dim = len(emb[0].embedding)
    centroids = {}
    for r in rows:
        vecs = by_label[r.label]
        assert r.n_vecs == len(vecs)
        assert 0 <= r.pos < dim
        centroids.setdefault(r.label, {})[r.pos] = r.mean_v
    for label, by_pos in centroids.items():
        assert len(by_pos) == dim  # every position surfaced exactly once
        vecs = np.array(by_label[label], dtype=np.float64)
        got = np.array([by_pos[p] for p in range(dim)])
        assert np.allclose(got, vecs.mean(axis=0), atol=1e-12)


def test_partition_pruned_scan_reads_only_three_days(spark):
    import os

    from ade_agente_documental_empresarial___miner_a_spark.plans.queries_ingest import (
        _ensure_partitioned_events,
    )

    path = _ensure_partitioned_events(spark, SF001_DIR)
    # layout contract: repartition-by-key → ONE file per day-directory
    days = [d for d in os.listdir(path) if d.startswith("event_date=")]
    assert len(days) >= 25  # ~30 days of fixture events
    for d in days:
        files = [
            f
            for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (d, files)

    df = _q("rel_partition_pruned_scan")(spark, SF001_DIR)
    # pruning contract, planned: the date range is consumed ENTIRELY as
    # PartitionFilters — no residual DataFilters reach the parquet rows
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_date" in plan
    assert "DataFilters: []" in plan
    # pruning contract, executed: the files actually read at runtime are
    # exactly the 3 filtered day-directories (inputFiles() would list the
    # unpruned relation — input_file_name() sees what was scanned)
    from pyspark.sql import functions as F

    ev = spark.read.parquet(path).where(
        (F.col("event_date") >= F.lit("2024-01-10").cast("date"))
        & (F.col("event_date") <= F.lit("2024-01-12").cast("date"))
    )
    touched = {
        seg
        for (f,) in ev.select(F.input_file_name()).distinct().collect()
        for seg in f.split("/")
        if seg.startswith("event_date=")
    }
    assert touched == {
        "event_date=2024-01-10",
        "event_date=2024-01-11",
        "event_date=2024-01-12",
    }
    rows = df.collect()
    assert rows and all(r.n_events >= 1 for r in rows)


def test_bm25_topk_scores_match_reference_formula(spark):
    import math

    rows = _q("text_bm25_topk")(spark, SF001_DIR).collect()
    assert len(rows) == 10
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r.n_matched <= 3 for r in rows)

    # recompute BM25 for the top hit from raw tokens (python floats)
    docs = spark.read.parquet(f"{SF001_DIR}/documents.parquet").collect()
    toks = {
        d.doc_id: [t for t in d.text.lower().split(" ") if len(t) > 3]
        for d in docs
    }
    n_docs = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    top = rows[0]
    expect = 0.0
    for term in sorted(["hash", "spark", "vector"]):
        tf = toks[top.doc_id].count(term)
        if tf == 0:
            continue
        df = sum(1 for v in toks.values() if term in v)
        idf = math.log(1 + (n_docs - df + 0.5) / (df + 0.5))
        dl = len(toks[top.doc_id])
        expect += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert abs(top.score - expect) < 1e-8


def test_centroid_classify_confusion_is_consistent_and_learns(spark):
    rows = _q("emb_centroid_classify")(spark, SF001_DIR).collect()
    emb = spark.read.parquet(f"{SF001_DIR}/embeddings.parquet").collect()
    # row sums per true label == label counts; every vector classified once
    from collections import Counter

    truth = Counter(r.label for r in emb)
    by_true = Counter()
    for r in rows:
        by_true[r.true_label] += r.n
    assert by_true == truth
    total = sum(r.n for r in rows)
    diag = sum(r.n for r in rows if r.true_label == r.pred_label)
    assert total == len(emb)
    assert diag / total > 0.3  # 10 labels, chance = 0.1; observed 0.41
