"""Graph queries (``graph_*``) — PageRank, BFS levels, Bellman-Ford
shortest paths, reciprocity and triangle counting over the link
graph, each oracle-paired with DuckDB (the iterative ones as unrolled
fixed-depth SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exactmath import halfup_ratio, halfup_ratio_duck
from .catalog import register, table


# ---------------------------------------------------------------------------
# PageRank over the nation trade graph — the catalog's iterative-
# algorithm representative. Edges: DISTINCT (customer nation -> supplier
# nation) pairs realized by lineitems (the Q7 join shape); 3 unrolled
# power iterations with damping 0.85. Iterative float math is the parity
# minefield here: each node's inbound contribution sum has engine-
# specific fold order, so every contribution is quantized round(·,12)
# then summed as DECIMAL(22,12) (order-insensitive, exact at scale 12),
# and each new rank is re-quantized round(·,12) — the recurrence is
# bit-identical on both engines at every iteration. Scale shape: the
# contribution join is co-partitioned on src; rank/deg/node frames are
# node-sized (tiny vs edges); at web scale each iteration is one shuffle
# and the loop would checkpoint every few iterations to cut lineage —
# noted, not needed for 3 unrolled steps.
_PR_ITERS = 3


def _pagerank_sql() -> str:
    parts = [
        """edges AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT n_nationkey AS node FROM nation),
nn AS (SELECT CAST(count(*) AS BIGINT) AS ni FROM nodes),
r0 AS (SELECT node, {r0} AS pr
       FROM nodes CROSS JOIN nn)""".format(
            r0=halfup_ratio_duck("1", "ni", 12)
        )
    ]
    # every per-iteration rounding is integer-exact HALF_UP on the
    # exact rational (ROUND8 §12 class; r9 audit): the contribution is
    # a 12-dp/integer ratio, and the damped combine 0.15/n + 0.85*csum
    # equals (3*10^12 + 17*S*n) / (20*n*10^12) with S = csum*10^12 an
    # exact integer — both engines compute the identical integers.
    damp = ("CAST((2 * (3000000000000 + 17 *"
            " CAST(coalesce(csum, 0) * 1000000000000 AS HUGEINT)"
            " * ni) + 20 * ni) // (40 * ni) AS DOUBLE) / 1e12")
    for i in range(1, _PR_ITERS + 1):
        contrib = halfup_ratio_duck(
            "CAST(r.pr AS DECIMAL(26,12))", "d.outdeg", 12, 12, 0
        )
        parts.append(
            f"""c{i} AS (
  SELECT e.dst AS node,
         CAST({contrib} AS DECIMAL(22,12)) AS c
  FROM r{i - 1} r JOIN edges e ON r.node = e.src JOIN deg d ON e.src = d.src),
s{i} AS (SELECT node, sum(c) AS csum FROM c{i} GROUP BY node),
r{i} AS (
  SELECT nodes.node,
         {damp} AS pr
  FROM nodes LEFT JOIN s{i} ON nodes.node = s{i}.node CROSS JOIN nn)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT r{_PR_ITERS}.node AS nationkey, n_name AS nation, pr AS pagerank
FROM r{_PR_ITERS} JOIN nation ON node = n_nationkey"""
    )


@register("graph_pagerank", _pagerank_sql())
def graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf, "nation").select("n_nationkey", "n_name")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .select(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    nn = nodes.agg(F.count(F.lit(1)).alias("ni"))
    # integer-exact HALF_UP at every rounding point (see _pagerank_sql)
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", halfup_ratio("1", "ni", 12).alias("pr")
    )
    damp = F.expr(
        "CAST((2 * (3000000000000 + 17 *"
        " CAST(coalesce(csum, 0) * 1000000000000 AS DECIMAL(38,0))"
        " * ni) + 20 * ni) div (40 * ni) AS DOUBLE)"
    ) / F.lit(1e12)
    for _ in range(_PR_ITERS):
        contribs = (
            ranks.join(edges, ranks["node"] == edges["src"])
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                halfup_ratio(
                    "CAST(pr AS DECIMAL(26,12))", "outdeg", 12, 12, 0
                )
                .cast("decimal(22,12)")
                .alias("c"),
            )
        )
        summed = contribs.groupBy("node").agg(F.sum("c").alias("csum"))
        ranks = (
            nodes.join(summed, "node", "left")
            .crossJoin(F.broadcast(nn))
            .select("node", damp.alias("pr"))
        )
    return ranks.join(
        F.broadcast(nation), ranks["node"] == F.col("n_nationkey")
    ).select(
        F.col("node").alias("nationkey"),
        F.col("n_name").alias("nation"),
        F.col("pr").alias("pagerank"),
    )


# MATERIALIZED: consumers reference `edges` several times (wedge
# closure, reciprocity's dir x dir self-join, per-iteration BFS
# relaxations) and DuckDB otherwise re-inlines the DISTINCT over the
# 4-table join per reference — at sf0.1 the reciprocity shape spilled
# tmp to disk-full before the r10 hint (same class as the SSSP fix)
_EDGES_SQL = """edges AS MATERIALIZED (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey)"""


# ---------------------------------------------------------------------------
# Triangle counting — each triangle enumerated exactly once through the
# canonical ordering a < b < c (undirected-ify, dedupe, then the
# two-hop join closed by the third edge). Per-node participation counts
# come from exploding each triangle's three corners. The fixture graph
# is nation-sized, but the SHAPE is the scale story: the join is driven
# by the ordered edge list, so each wedge (a<b, b<c) is generated once
# and closed by one hash-join probe — at web scale the standard
# refinement orders nodes by DEGREE instead of id so high-degree hubs
# never anchor wedge generation (noted; id-order suffices here).
@register(
    "graph_triangles",
    f"""WITH {_EDGES_SQL},
und AS (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
  GROUP BY least(src, dst), greatest(src, dst)),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
corners AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri)
SELECT n_nationkey AS nationkey, n_name AS nation,
       count(corners.node) AS n_triangles
FROM nation LEFT JOIN corners ON corners.node = n_nationkey
GROUP BY n_nationkey, n_name""",
)
def graph_triangles(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf, "nation").select("n_nationkey", "n_name")
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
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    e3 = und.alias("e3")
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
    )
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return (
        nation.join(
            corners, corners["node"] == nation["n_nationkey"], "left"
        )
        .groupBy(
            F.col("n_nationkey").alias("nationkey"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.count("node").alias("n_triangles"))
    )


# ---------------------------------------------------------------------------
# Single-source BFS levels — hop distance from nation 0 over the
# undirected trade graph. Spark side is the standard iterative frontier
# expansion: each round joins the current frontier against the symmetric
# edge list, anti-joins out already-visited nodes, and localCheckpoints
# the (small) visited set so the lineage stays flat — the same
# per-round discipline as dedup_clusters' label propagation. The number
# of rounds is the graph diameter, and every round is one co-partitioned
# join on the node key; at web scale the frontier/visited sets live
# partitioned on node id and never collect. The oracle is a recursive
# CTE made cycle-safe by UNION (dedup on (node, lvl)) plus a depth guard,
# reduced to min(lvl) per node.
@register(
    "graph_bfs_levels",
    f"""WITH RECURSIVE {_EDGES_SQL},
und AS (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
  GROUP BY least(src, dst), greatest(src, dst)),
sym AS (
  SELECT a AS src, b AS dst FROM und
  UNION ALL SELECT b AS src, a AS dst FROM und),
bfs AS (
  SELECT CAST(0 AS INTEGER) AS node, 0 AS lvl
  UNION
  SELECT sym.dst AS node, bfs.lvl + 1 AS lvl
  FROM bfs JOIN sym ON sym.src = bfs.node
  WHERE bfs.lvl < 24)
SELECT n_nationkey AS nationkey, n_name AS nation,
       CAST(min(lvl) AS BIGINT) AS level
FROM bfs JOIN nation ON n_nationkey = bfs.node
GROUP BY n_nationkey, n_name""",
)
def graph_bfs_levels(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf, "nation").select("n_nationkey", "n_name")
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
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    sym = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    source = nation.where(F.col("n_nationkey") == 0).select(
        F.col("n_nationkey").alias("node"), F.lit(0).alias("level")
    )
    visited = bfs_levels(sym, source, max_iter=24)
    return visited.join(
        F.broadcast(nation), visited["node"] == F.col("n_nationkey")
    ).select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_name").alias("nation"),
        F.col("level").cast("long").alias("level"),
    )


def bfs_levels(
    sym_edges: DataFrame, source: DataFrame, max_iter: int = 24
) -> DataFrame:
    """Iterative BFS: ``sym_edges`` is the SYMMETRIC (src, dst) edge
    list, ``source`` the seed frontier with schema (node, level). The
    per-round ``count()`` is the termination probe — it materializes the
    (frontier-sized, not graph-sized) new-nodes set, exactly the bounded
    driver knowledge an iterative graph job needs."""
    visited = source.localCheckpoint(eager=True)
    frontier = visited
    for lvl in range(1, max_iter + 1):
        nbrs = (
            frontier.join(
                sym_edges, frontier["node"] == sym_edges["src"]
            )
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            nbrs.join(visited, "node", "left_anti")
            .withColumn("level", F.lit(lvl))
            .localCheckpoint(eager=True)
        )
        if new.count() == 0:
            break
        visited = visited.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    return visited


# ---------------------------------------------------------------------------
# Bellman-Ford shortest paths — the WEIGHTED sibling of
# graph_bfs_levels: edge weight = cheapest line item ever shipped
# between the two nations (exact DECIMAL), distance = min-plus over ≤4
# relaxation rounds from nation 0. Each round is one join + one
# min-aggregate on the node key (the co-partitioned Pregel step); decimal
# min/+ are exact so no fold-order concerns anywhere. The oracle unrolls
# the SAME four rounds as chained CTEs — both engines run Bellman-Ford,
# one iteratively, one textually.
_SSSP_ROUNDS = 4


_SSSP_EDGES_SQL = """pairs AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey),
e AS MATERIALIZED (
  SELECT src, dst, min(w) AS w FROM (
    SELECT src, dst, w FROM pairs
    UNION ALL SELECT dst AS src, src AS dst, w FROM pairs)
  GROUP BY src, dst)"""


def _sssp_oracle() -> str:
    steps = ["d0 AS (SELECT CAST(0 AS INTEGER) AS node, CAST(0 AS DECIMAL(20,2)) AS dist)"]
    for k in range(1, _SSSP_ROUNDS + 1):
        steps.append(
            f"""d{k} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{k - 1}
    UNION ALL
    SELECT e.dst AS node, CAST(d{k - 1}.dist + e.w AS DECIMAL(20,2)) AS dist
    FROM d{k - 1} JOIN e ON e.src = d{k - 1}.node)
  GROUP BY node)"""
        )
    return (
        f"WITH {_SSSP_EDGES_SQL},\n"
        + ",\n".join(steps)
        + f"""
SELECT n_nationkey AS nationkey, n_name AS nation,
       CAST(dist AS DOUBLE) AS dist
FROM d{_SSSP_ROUNDS} JOIN nation ON n_nationkey = node"""
    )


def bellman_ford(
    edges: DataFrame, dist0: DataFrame, rounds: int
) -> DataFrame:
    """``rounds`` min-plus relaxations of ``dist0`` (node, dist) over
    ``edges`` (src, dst, w). Each round: one node-keyed join + one
    min-aggregate, lineage cut per round."""
    dist = dist0
    for _ in range(rounds):
        relaxed = dist.join(
            edges, dist["node"] == edges["src"]
        ).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w"))
            .cast("decimal(20,2)")
            .alias("dist"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist


@register("graph_sssp_bellman", _sssp_oracle())
def graph_sssp_bellman(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf, "nation").select("n_nationkey", "n_name")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("w"),
        )
    )
    edges = (
        pairs.unionAll(
            pairs.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                "w",
            )
        )
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)  # reused every round: cut the 4-join lineage
    )
    dist0 = spark.createDataFrame([(0,)], "node int").select(
        "node", F.lit("0").cast("decimal(20,2)").alias("dist")
    )
    dist = bellman_ford(edges, dist0, _SSSP_ROUNDS)
    return dist.join(
        F.broadcast(nation), dist["node"] == F.col("n_nationkey")
    ).select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_name").alias("nation"),
        F.col("dist").cast("double").alias("dist"),
    )


# ---------------------------------------------------------------------------
# Trade-graph reciprocity — of the distinct directed customer-nation →
# supplier-nation edges (self-loops excluded), how many have their
# reverse edge present? One distinct edge list, one self-join on the
# swapped key, two counts and a ratio — the graph-level symmetry
# statistic (1.0 = every trade relation is mutual).
@register(
    "graph_reciprocity",
    f"""WITH {_EDGES_SQL},
dir AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
recip AS MATERIALIZED (
  SELECT a.src, a.dst
  FROM dir a JOIN dir b ON b.src = a.dst AND b.dst = a.src)
SELECT (SELECT count(*) FROM dir) AS n_directed_edges,
       (SELECT count(*) FROM recip) AS n_reciprocated,
       {halfup_ratio_duck("(SELECT count(*) FROM recip)",
                           "(SELECT count(*) FROM dir)", 9)} AS reciprocity
""",
)
def graph_reciprocity(spark: SparkSession, sf: str) -> DataFrame:
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
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    recip = edges.intersect(rev)
    n_dir = edges.agg(F.count(F.lit(1)).alias("n"))
    n_rec = recip.agg(F.count(F.lit(1)).alias("n"))
    return (
        n_dir.crossJoin(n_rec.withColumnRenamed("n", "nr"))
        .select(
            F.col("n").alias("n_directed_edges"),
            F.col("nr").alias("n_reciprocated"),
            # integer-exact HALF_UP ratio (ROUND8 §12 class; r9 audit)
            halfup_ratio("nr", "n", 9).alias("reciprocity"),
        )
    )
