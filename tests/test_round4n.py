"""Unit tests for the round-4n batch (BFS levels, skyline, HLL sketch
merge, perplexity filter, runtime bloom-filter join)."""

import math
import random

from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_graph,
    queries_relational,
)

SF = "/root/testdata/sf0.001"


def test_bfs_levels_on_path_graph(spark):
    # 1-2-3-4 chain plus isolated edge 8-9: BFS from 1 never reaches it.
    und = [(1, 2), (2, 3), (3, 4), (8, 9)]
    sym = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src int, dst int"
    )
    source = spark.createDataFrame([(1, 0)], "node int, level int")
    got = {
        r.node: r.level for r in queries_graph.bfs_levels(sym, source).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_levels_respects_max_iter(spark):
    und = [(1, 2), (2, 3), (3, 4)]
    sym = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src int, dst int"
    )
    source = spark.createDataFrame([(1, 0)], "node int, level int")
    got = {
        r.node: r.level
        for r in queries_graph.bfs_levels(sym, source, max_iter=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}  # node 4 is beyond the horizon


def test_skyline_bruteforce_exact(spark):
    rng = random.Random(11)
    rows = [
        (i, float(rng.randint(1, 30)), rng.randint(1, 20))
        for i in range(150)
    ]

    def dominated(p):
        return any(
            qq[1] <= p[1]
            and qq[2] >= p[2]
            and (qq[1] < p[1] or qq[2] > p[2])
            for qq in rows
        )

    expect = {p[0] for p in rows if not dominated(p)}

    part = spark.createDataFrame(
        rows, "p_partkey long, p_retailprice double, p_size int"
    )
    from pyspark.sql import Window

    levels = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("lvl_max")
    )
    prev = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    levels = levels.withColumn("prev_max", F.max("lvl_max").over(prev))
    joined = part.join(F.broadcast(levels), "p_retailprice")
    dominated_col = (
        F.coalesce(F.col("prev_max"), F.lit(-1)) >= F.col("p_size")
    ) | (F.col("lvl_max") > F.col("p_size"))
    got = {
        r.p_partkey for r in joined.where(~dominated_col).collect()
    }
    assert got == expect


def test_hll_sketch_merge_contract(spark):
    row = queries_relational.rel_hll_sketch_merge(spark, SF).collect()[0]
    assert row.merged_ok and row.global_ok
    assert row.n_shards >= 1 and row.exact_users > 0


def test_perplexity_filter_decile_count(spark):
    rows = queries_curation.cur_perplexity_filter(spark, SF).collect()
    n = len(rows)
    dropped = sum(1 for r in rows if not r.keep)
    assert dropped == math.ceil(0.1 * n)
    # the dropped set is exactly the lowest-scoring prefix of the
    # (avg_logp, doc_id) total order
    ordered = sorted(rows, key=lambda r: (r.avg_logp, r.doc_id))
    assert all(not r.keep for r in ordered[:dropped])
    assert all(r.keep for r in ordered[dropped:])


def test_bloom_runtime_filter_injected(spark):
    prev = {
        k: spark.conf.get(k) for k in queries_relational._BLOOM_CONFS
    }
    for k, v in queries_relational._BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        plan = queries_relational._bloom_plan(spark, SF)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bloom_entry_restores_confs(spark):
    before = {
        k: spark.conf.get(k) for k in queries_relational._BLOOM_CONFS
    }
    queries_relational.rel_bloom_runtime_filter(spark, SF).collect()
    after = {k: spark.conf.get(k) for k in queries_relational._BLOOM_CONFS}
    assert before == after
