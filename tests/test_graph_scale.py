"""operators/graph.pagerank — the reusable checkpointed kernel behind
the catalog's unrolled oracle entry (queries_graph.graph_pagerank)."""

import pytest

from ade_agente_documental_empresarial___miner_a_spark.operators.graph import (
    pagerank,
    synthetic_edge_graph,
)


def test_cycle_graph_is_uniform(spark):
    # directed 4-cycle: perfectly symmetric, so pr stays exactly 1/n at
    # every iteration regardless of damping
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    rows = {r.node: r.pr for r in pagerank(edges, iters=4).collect()}
    assert set(rows) == {0, 1, 2, 3}
    for v in rows.values():
        assert abs(v - 0.25) < 1e-12


def test_star_graph_concentrates_on_hub(spark):
    # 4 leaves all pointing at node 0: hub absorbs the damped mass,
    # leaves keep only teleport share (1-d)/n
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 0)], "src long, dst long"
    )
    rows = {r.node: r.pr for r in pagerank(edges, iters=3).collect()}
    n, d = 5, 0.85
    leaf = (1 - d) / n
    for node in (1, 2, 3, 4):
        assert abs(rows[node] - leaf) < 1e-12
    assert rows[0] > rows[1] * 3  # hub dominates
    # hub after >=2 iters: teleport + d * 4 * leaf (leaves are stable
    # from iteration 1 on)
    assert abs(rows[0] - (leaf + d * 4 * leaf)) < 1e-12


def test_checkpointing_does_not_change_results(spark):
    edges = synthetic_edge_graph(spark, n_edges=2000, n_nodes=300,
                                 partitions=8)
    base = {
        r.node: r.pr
        for r in pagerank(edges, iters=4, checkpoint_every=0).collect()
    }
    ckpt = {
        r.node: r.pr
        for r in pagerank(edges, iters=4, checkpoint_every=1).collect()
    }
    assert set(base) == set(ckpt)
    for k in base:
        assert base[k] == pytest.approx(ckpt[k], rel=1e-9)


def test_matches_catalog_recurrence_on_nation_graph(spark):
    """Same recurrence as the oracle-paired catalog entry: on the tiny
    nation trade graph (sf0.001) the reusable kernel must agree with the
    unrolled decimal-quantized version to well inside the latter's
    round(.,12) quantum accumulated over 3 iterations."""
    from ade_agente_documental_empresarial___miner_a_spark.plans.queries_graph import (
        graph_pagerank,
    )

    sf = "/root/testdata/sf0.001"
    catalog = {
        r.nationkey: r.pagerank for r in graph_pagerank(spark, sf).collect()
    }

    from ade_agente_documental_empresarial___miner_a_spark.plans.catalog import (
        table,
    )
    from pyspark.sql import functions as F

    li = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .distinct()
    )
    # note: kernel derives nodes from edge endpoints; the catalog entry
    # seeds from the nation table — on this fixture every nation trades,
    # so the node sets coincide
    ours = {r.node: r.pr for r in pagerank(edges, iters=3).collect()}
    assert set(ours) == set(catalog)
    for k, v in catalog.items():
        assert ours[k] == pytest.approx(v, abs=1e-9)


def test_synthetic_graph_is_deterministic(spark):
    a = synthetic_edge_graph(spark, 1000, 100).collect()
    b = synthetic_edge_graph(spark, 1000, 100).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 1000
    assert all(0 <= r.src < 100 and 0 <= r.dst < 100 for r in a)
