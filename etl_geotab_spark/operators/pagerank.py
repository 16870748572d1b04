"""Distributed PageRank over an edge DataFrame.

North-star extension: graph centrality over entity/link graphs a
training-data pipeline builds anyway (domain link graphs for source
weighting, co-purchase graphs for recommendations, citation graphs).
Completes the iterative-algorithm family next to connected components
(operators/clusters.py) and k-means (operators/kmeans.py).

Scale design (100 TB of edges): each iteration is

    contribs: ranks ⋈ edges on src (both pre-partitioned on the join
              key — co-partitioned shuffle once, reused every round),
              then groupBy(dst) SUM with map-side partial aggregation.
    dangling: nodes without out-edges leak rank mass; each node carries
              a dangling flag fixed once with the node table, and the
              round's total dangling mass (a bounded scalar, not data)
              is observed on the rank checkpoint's own job, then
              redistributed uniformly in the next round.

Lineage: iterative plans grow exponentially under AQE re-planning —
`localCheckpoint(eager=True)` every round truncates it (the
`blocks.advance` round step, as in clusters.py; on a real cluster use
reliable checkpointing to HDFS). One action per round: no count, no
collect.

Determinism: rank sums are float adds across partitions → stable to
~1e-12 ulps, not bit-exact; queries()/tests treat PageRank as
rows-only + invariant-gated (mass conservation, convergence vs a
driver-side numpy power iteration on small fixtures).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_geotab_spark.blocks import advance


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 8,
) -> DataFrame:
    """Power-iteration PageRank; returns (node, rank) with ranks
    summing to 1 (no rows for an empty edge frame). Edges are
    directed; pass both directions for an undirected graph."""
    # r17 batch 3 (guide §5): materialize the edge list ONCE before the
    # loop-invariant derivations. `e` feeds nodes (two union branches),
    # out_deg and e_deg — five evaluations of the caller's edge
    # subtree (for pagerank_parts: a lineitem self-join) without this.
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    # r17: hash-partition the two loop-invariant tables by their join
    # keys BEFORE checkpointing — localCheckpoint preserves the
    # physical partitioning, so the per-round ranks⋈edges join and the
    # nodes⋈contribs rebuild reuse it instead of re-shuffling the edge
    # list and node list every iteration (guide §2.4: two operations
    # keyed the same way share one exchange; co-partition once, reuse
    # every round). Measured at sf0.1 (6 rounds): 2.54 s → 1.97 s with
    # identical top-20 output; at cluster scale this removes the
    # O(iters) re-shuffles of the EDGE table — the dominant shuffle
    # mass, since edges >> nodes on any real graph.
    # Each node carries its dangling flag (no out-edges: it appears
    # only as a dst), so each rank checkpoint observes the round's
    # dangling mass on its own job — no per-round collect.
    nodes, m = advance(
        None,
        e.selectExpr("src AS node", "false AS dangling")
        .unionByName(e.selectExpr("dst AS node", "true AS dangling"))
        .groupBy("node")
        .agg(F.bool_and("dangling").alias("dangling"))
        .repartition(F.col("node")),
        F.count(F.lit(1)).alias("n"),
    )
    n = m["n"]
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # edges carry their source degree once, up front — the per-round
    # join then only touches (node, rank). `e` feeds nothing after
    # this checkpoint, so advancing releases the raw edge copy: |E|
    # rows of executor storage freed for the whole iteration phase.
    e_deg, _ = advance(
        e, e.join(out_deg, "src").select("src", "dst", "deg").repartition("src")
    )
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))

    mass = F.sum(F.col("rank") * F.col("dangling").cast("double")).alias("m")
    ranks, m = advance(None, nodes.withColumn("rank", F.lit(1.0 / n)), mass)
    for _ in range(iters):
        contribs = (
            e_deg.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("in_mass"))
        )
        # dangling nodes (no out-edges) leak their mass: fold the
        # previous round's observed total into the teleport term
        base = (1.0 - damping) / n + damping * m["m"] / n
        rank = F.lit(base) + damping * F.coalesce("in_mass", F.lit(0.0))
        # eager, not lazy: measured at sf0.1 the lazy variant is
        # ~60% SLOWER (9.7 s vs 6.0 s) — deferring materialization
        # stacks all rounds into one AQE mega-job that replans and
        # re-reads worse than one small job per round
        ranks, m = advance(
            ranks,
            nodes.join(contribs, "node", "left").select(
                "node", "dangling", rank.alias("rank")
            ),
            mass,
        )
    return ranks.select("node", "rank")
