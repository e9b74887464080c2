"""Property test: `connected_components` (iterative min-label
propagation, operators/dedup.py) against a pure-Python union-find oracle
over hypothesis-generated random graphs.

The Spark kernel is the piece the 100 TB dedup story leans on
(O(diameter) shuffle joins + localCheckpoint lineage truncation); this
pins that its fixpoint answer is exactly the textbook connected
components for arbitrary graph shapes — chains (worst-case diameter),
cliques, self-loops, disconnected singletons mixed with components.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ade_agente_documental_empresarial___miner_a_spark.operators.dedup import (
    connected_components,
)

edge_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=0, max_value=14),
    ),
    min_size=1,
    max_size=25,
)


def _union_find_min_labels(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for a, b in edges:
        union(a, b)
    roots = {}
    for n in parent:
        roots.setdefault(find(n), []).append(n)
    out = {}
    for members in roots.values():
        lbl = min(members)
        for n in members:
            out[n] = lbl
    return out


def test_connected_components_matches_union_find(spark):
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(edge_st)
    def check(edges):
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r.doc_id: r.cluster_id
            for r in connected_components(df).collect()
        }
        assert got == _union_find_min_labels(edges)

    check()


def test_connected_components_long_chain_converges(spark):
    # a 12-node path is the max-diameter shape for its size — the
    # hardest case for per-round min propagation
    edges = [(i, i + 1) for i in range(11)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(12)}


def test_connected_components_materializes_pairs_once(spark):
    # r10 optimization pin: the symmetric edge list must be built from
    # one reference to the pair list, NOT re-execute the (often
    # expensive LSH+verify) upstream plan once per orientation. An
    # accumulator-instrumented pandas_udf in the pairs plan counts
    # upstream row evaluations: exactly n_pairs, not 2*n_pairs.
    import pandas as pd
    from pyspark.sql import functions as F

    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("long")
    def tick(s: pd.Series) -> pd.Series:
        acc.add(len(s))
        return s

    edges = [(0, 1), (1, 2), (5, 6)]
    df = spark.createDataFrame(edges, "a long, b long").select(
        tick("a").alias("doc_a"), F.col("b").alias("doc_b")
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(df).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5}
    assert acc.value == len(edges), (
        f"pairs plan executed {acc.value / len(edges):.1f}x; "
        "expected exactly once (one reference, in the edge checkpoint)"
    )


def test_connected_components_job_budget(spark):
    # Spark jobs = a constant (the edge and seed checkpoints, the collect)
    # plus a fixed count per round. A clique is final after the seed, so
    # it takes one confirming round; an n-node path takes n - 1 rounds
    # (the seed covers the first hop, each round one more, the last round
    # confirms). The exact per-round figure depends on how AQE plans the
    # round's join, so only linear growth and a ceiling on the per-round
    # count are pinned. The changed count must ride on the round's
    # checkpoint; a probe job per round would lift it over the ceiling.
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(edges, group):
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        df = df.localCheckpoint(eager=True)
        sc.setJobGroup(group, "connected components job budget")
        try:
            connected_components(df).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(tracker.getJobIdsForGroup(group) or [])

    clique = jobs([(i, j) for i in range(6) for j in range(i + 1, 6)], "cc-budget-clique")
    path3 = jobs([(i, i + 1) for i in range(2)], "cc-budget-path3")
    path5 = jobs([(i, i + 1) for i in range(4)], "cc-budget-path5")
    per_round = path3 - clique  # 2 rounds against 1
    assert 0 < per_round <= 5, (clique, path3, path5)
    assert path5 - path3 == 2 * per_round, (clique, path3, path5)  # 4 rounds against 2
