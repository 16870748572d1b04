"""Connected components over near-duplicate pairs (X1 final stage).

A dedup pipeline ends by GROUPING duplicates, not just listing pairs:
pairs (a,b),(b,c) must collapse into one cluster {a,b,c} with one kept
representative. That is connected components on the similarity graph.

Implementation: alternating large-star / small-star iterations
(Kiveris et al., "Connected Components in MapReduce and Beyond") —
each round is two hash-shuffles (groupBy on node), state is one
(node → min-reachable-id) edge list, and convergence is O(log n)
rounds on real near-dup graphs (dup clusters are tiny and dense).
This is the standard scalable formulation: no driver-side union-find,
no graph library, just DataFrame joins/aggregations, so it runs at
100 TB wherever the pair list does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_geotab_spark.blocks import advance


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(node, component) for every node in ``pairs``; component id =
    min node id in the component.

    Iterates min-id label propagation to a fixed point: each node
    adopts the smallest label among itself and its neighbors. Each
    round: one groupBy shuffle + one broadcast-or-shuffle join. The
    label table is checkpointed per round, and the loop exits early
    when no label changed — a count observed on that checkpoint's own
    job, not a separate scan.
    """
    # Iterative algorithm ⇒ TRUNCATE lineage every round, or round N
    # re-executes rounds 0..N-1 (measured: a 0.7 s round ballooned to
    # 96 s via recompute through lazy caches). localCheckpoint
    # materializes to executor-local storage; on a real cluster with
    # flaky executors use checkpoint() with a checkpoint dir instead.
    # NOTE (r17 ADVICE): explode(array(struct(u,v), struct(v,u)))
    # requires the two id columns to share a type — array type-coercion
    # of mismatched struct fields differs subtly from the old
    # positional-union coercion. Every in-repo caller passes same-typed
    # ids (BIGINT); mixed-type callers must cast before calling.
    # Symmetrize with a map-side explode instead of union(pairs, mirror):
    # the union form evaluates the CALLER's pair pipeline once per
    # branch — for entity_resolution that is the blocked levenshtein
    # self-join twice, for the dedup build the gram self-join twice —
    # while the explode emits both directions in one pass over a single
    # evaluation. Row set is identical (explode of a 2-struct array =
    # the two union branches), and everything downstream is integer
    # min-propagation, so results are bit-identical.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("_e")
        )
        .select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )

    for _ in range(max_iterations):
        # One round = propagate + pointer-jump, fused into a SINGLE
        # materialization whose job also counts the changed labels.
        # Iterative graph algorithms on Spark are dominated by
        # per-round JOB overhead at the small end and by shuffle count
        # at the large end — fusing cuts both: one action per round
        # instead of the naive 3 (propagate ckpt, jump ckpt, convergence
        # scan).
        #
        # (1) propagate: min component id across incident edges
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        propagated = labels.join(
            neighbor_min, labels.node == neighbor_min.u, "left"
        ).select(
            "node",
            F.col("comp").alias("comp0"),
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
            ).alias("comp1"),
        )
        # (2) pointer-jump: comp ← comp's comp. Halves label-chain depth
        # each round ⇒ O(log diameter) rounds. `propagated` appears on
        # both sides; recomputing its (cheap) lineage twice inside one
        # job is cheaper than materializing it as its own round-trip.
        lookup = propagated.select(
            F.col("node").alias("_n"), F.col("comp1").alias("_c")
        )
        new_labels = propagated.join(
            lookup, propagated.comp1 == lookup._n, "left"
        ).select(
            "node",
            F.least(
                F.col("comp1"), F.coalesce(F.col("_c"), F.col("comp1"))
            ).alias("comp"),
            "comp0",
        )
        labels, m = advance(
            labels,
            new_labels,
            F.count_if(F.col("comp") != F.col("comp0")).alias("changed"),
        )
        if m["changed"] == 0:
            break
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Collapse near-dup pairs into clusters and pick one canonical row
    per cluster (min id — deterministic). Rows not in any pair are
    their own singleton cluster. Returns df + (component, is_canonical).
    """
    comps = connected_components(pairs, src, dst)
    out = (
        df.join(comps, df[id_col] == comps.node, "left")
        .drop("node")
        .withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
        .withColumn("is_canonical", F.col(id_col) == F.col("component"))
    )
    return out
