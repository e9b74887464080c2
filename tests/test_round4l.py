"""Unit tests for the round-4l batch (triangles, interval merge,
MERGE classification)."""

from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_graph,
    queries_relational,
)

SF = "/root/testdata/sf0.001"


def test_triangles_known_graph(spark):
    # K4 minus one edge: nodes {1,2,3,4}, edges 12 13 14 23 24 (no 34)
    # → triangles {1,2,3} and {1,2,4}; node 1,2 in two, 3,4 in one
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (2, 1)],  # dup reversed
        "src long, dst long",
    )
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
        .collect()
    )
    tris = {tuple(sorted((r.x, r.y, r.z))) for r in tri}
    assert tris == {(1, 2, 3), (1, 2, 4)}
    assert len(tri) == 2  # each triangle enumerated exactly once


def test_triangles_fixture_nonneg(spark):
    rows = queries_graph.graph_triangles(spark, SF).collect()
    assert len(rows) == 25  # every nation reported, zero or not
    assert all(r.n_triangles >= 0 for r in rows)
    assert any(r.n_triangles > 0 for r in rows)


def test_merge_intervals_overlap_rule(spark):
    # events at 0m, 5m (overlap), 30m (gap>10m) → two islands
    rows = (
        spark.createDataFrame(
            [
                (1, 10, "2024-01-01 00:00:00"),
                (2, 10, "2024-01-01 00:05:00"),
                (3, 10, "2024-01-01 00:30:00"),
            ],
            "event_id long, user_id long, s string",
        )
        .select("event_id", "user_id", F.col("s").cast("timestamp").alias("ts"))
        .createOrReplaceTempView("_iv_ev")
    )
    from pyspark.sql import Window

    ev = spark.table("_iv_ev")
    iv = ev.select(
        "user_id", "event_id", "ts",
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("iv_end"),
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frontier = F.max("iv_end").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(frontier >= F.col("ts"), F.lit(0)).otherwise(F.lit(1)),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_island").over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).collect()
    ids = {r.event_id: r.island_id for r in islands}
    assert ids[1] == ids[2] != ids[3]


def test_merge_intervals_fixture_structure(spark):
    rows = queries_relational.rel_merge_intervals(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.island_end > r.island_start
        assert r.n_events >= 1


def test_upsert_merge_actions_complete(spark):
    rows = {r.action: r for r in queries_relational.rel_upsert_merge(spark, SF).collect()}
    assert set(rows) == {"insert", "update", "unchanged", "noop"}
    # inserts came from the disjoint key space: one per %100==7 order
    assert rows["insert"].n_rows >= 1
    # resent-unchanged rows classify as unchanged, not update
    assert rows["unchanged"].n_rows >= 1
    assert rows["update"].n_rows >= 1
    assert rows["noop"].n_rows >= 1


# ---------------------------------------------------------------------------
# property-based: the kernels' invariants on random inputs (pure-Python
# reference models, no Spark in the hot loop — Spark checked once above)

from hypothesis import given, settings
from hypothesis import strategies as st


def _brute_triangles(edge_set):
    nodes = sorted({n for e in edge_set for n in e})
    tris = set()
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if (a, b) not in edge_set:
                continue
            for c in nodes:
                if c > b and (a, c) in edge_set and (b, c) in edge_set:
                    tris.add((a, b, c))
    return tris


@settings(max_examples=25, deadline=None)
@given(
    st.sets(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=0,
        max_size=20,
    )
)
def test_triangle_enumeration_matches_bruteforce(spark, raw_edges):
    und = {
        (min(a, b), max(a, b)) for a, b in raw_edges if a != b
    }
    expected = _brute_triangles(und)
    if not und:
        return
    edges = spark.createDataFrame(
        [(a, b) for a, b in sorted(und)], "a long, b long"
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
        .collect()
    )
    got = {(r.x, r.y, r.z) for r in tri}
    assert got == expected
    assert len(tri) == len(got)  # no double counting


def _model_islands(times, horizon):
    """Reference interval-merge: sorted event times, [t, t+horizon)."""
    islands = []
    for t in sorted(times):
        if islands and t <= islands[-1][1]:
            islands[-1][1] = max(islands[-1][1], t + horizon)
            islands[-1][2] += 1
        else:
            islands.append([t, t + horizon, 1])
    return [(a, b, n) for a, b, n in islands]


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.integers(0, 3600), min_size=1, max_size=30, unique=True)
)
def test_interval_merge_matches_model(spark, offsets):
    from pyspark.sql import Window

    base = 1_700_000_000
    rows = [
        (i, 1, base + off) for i, off in enumerate(sorted(offsets))
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, epoch long"
    ).select(
        "event_id", "user_id", F.timestamp_seconds("epoch").alias("ts")
    )
    horizon = 600
    iv = ev.select(
        "user_id", "event_id", "ts",
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("iv_end"),
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frontier = F.max("iv_end").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(frontier >= F.col("ts"), F.lit(0)).otherwise(F.lit(1)),
    )
    got = (
        flagged.withColumn(
            "island_id",
            F.sum("new_island").over(
                order.rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        .groupBy("user_id", "island_id")
        .agg(
            F.min("ts").alias("s"),
            F.max("iv_end").alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    got_set = {
        (int(r.s.timestamp()), int(r.e.timestamp()), r.n) for r in got
    }
    model = {
        (base + a, base + b, n)
        for a, b, n in _model_islands(offsets, horizon)
    }
    assert got_set == model
