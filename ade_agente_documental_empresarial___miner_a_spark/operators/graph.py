"""Iterative graph kernels at scale — the reusable engine behind the
catalog's graph entries (``plans/queries_graph.py: graph_pagerank``
runs 3 UNROLLED iterations on the 25-node nation trade graph for oracle
exactness; this module is the same recurrence shaped for million-edge
graphs, matching the ``dedup.connected_components`` evidence pattern).

Scale design (the part the tiny catalog graph cannot demonstrate):

- **Only node-sized data moves per iteration.** ``edges`` is
  hash-partitioned on ``src`` ONCE up front and cached; each iteration
  shuffles the |V|-sized ``ranks`` frame to it (never the |E|-sized
  edges), and the by-``dst`` contribution aggregation shuffles
  partially-combined sums — map-side combine collapses the |E| products
  to at most |V| rows per partition before they move.
- **Bounded lineage.** Iterative loops grow the plan linearly; past
  ~10 joins Catalyst analysis time dominates and executors re-derive
  ever-deeper lineage on any retry. ``checkpoint_every`` truncates via
  ``localCheckpoint(eager=True)`` — the same per-round pattern as
  ``dedup.connected_components``, measured there at 50k docs / r4:
  14.1 s.
- **No driver materialization.** Nothing collects; the returned frame
  is a plan over the final ranks.

Float posture: plain double math (map-side-combinable sums). The
catalog entry's decimal-quantized recurrence exists for cross-engine
bit-exactness; at a million edges that exactness contract is dropped
deliberately — fold order varies by partitioning, as documented in the
catalog entry's header.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DAMPING = 0.85


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = DAMPING,
    checkpoint_every: int = 2,
    num_partitions: int | None = None,
) -> DataFrame:
    """PageRank over an (src, dst) edge frame; returns (node, pr).

    Same recurrence as the oracle-paired catalog entry: nodes = union of
    endpoints, r0 = 1/n, r_{i+1}(v) = (1-d)/n + d * Σ_{u→v} r_i(u)/outdeg(u)
    (dangling mass leaks, as in the catalog entry — simplified PageRank).
    """
    edges = edges.select("src", "dst")
    if num_partitions:
        edges = edges.repartition(num_partitions, "src")
    else:
        edges = edges.repartition("src")
    edges = edges.persist()

    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # contribution weight is static across iterations: pre-divide once,
    # keyed by src with the edges so each iteration is join + groupBy only
    weighted = (
        edges.join(deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"))
        .persist()
    )

    n = nodes.count()  # one job; also materializes nodes/edges caches
    ranks = nodes.select("node", F.lit(1.0 / n).alias("pr"))

    for i in range(1, iters + 1):
        contribs = (
            ranks.join(weighted, ranks["node"] == weighted["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("pr") * F.col("w")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("csum"), F.lit(0.0))
            ).alias("pr"),
        )
        if checkpoint_every and i % checkpoint_every == 0 and i < iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def synthetic_edge_graph(
    spark, n_edges: int, n_nodes: int, partitions: int = 32
) -> DataFrame:
    """Deterministic pseudo-random (src, dst) multigraph for scale legs:
    edge k = (k mod n_nodes  →  knuth-hash(k) mod n_nodes). Pure
    ``spark.range`` generator — no fixture IO, identical across runs and
    engines, ~uniform degree (so the scale number measures the iteration
    machinery, not accidental skew; skewed graphs are the salting
    story, operators/skew.py)."""
    return spark.range(n_edges, numPartitions=partitions).select(
        (F.col("id") % n_nodes).alias("src"),
        ((F.col("id") * F.lit(2654435761)) % n_nodes).alias("dst"),
    )
