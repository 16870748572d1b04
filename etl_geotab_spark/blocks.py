"""Storage-block hygiene (guide §5: bound the footprint you pin).

Two leak classes this module closes (r17 verdict item 3):

1. **Iterative checkpoint pile-up.** The iterative operators
   (pagerank, connected components, BPE) re-``localCheckpoint`` their
   state every round to truncate lineage. Each round's blocks stay
   pinned until the Python objects are garbage collected — O(rounds)
   copies of the state table live in executor storage during the
   query instead of O(1). Their one round step, ``advance``, frees
   the superseded checkpoint's blocks the moment the next round's
   checkpoint is materialized (safe exactly then: eager checkpoints
   have no lineage back into the released RDD, and nothing downstream
   reads it). The round's convergence values ride on that same job
   as an ``Observation``, not on a probe action of their own.

2. **Session-lifetime persists.** Operators ``persist()`` shared
   intermediates (band tables, gram tables) and hand the consumer a
   DataFrame; after the consumer's terminal action the blocks stay
   pinned until the session's ContextCleaner happens to run. In a
   long-lived session (the 219-query bench, any real deployment) those
   blocks shrink the unified-memory execution pool for every later
   query. ``release_all_cached`` is the per-query-exit hook: it clears
   the catalog cache (persisted plans) AND unpersists every surviving
   RDD block (localCheckpoint blocks are plain persisted RDDs the
   catalog cache does not track). ``run.scope`` calls it on every
   query's exit.

The release helpers go through private seams (``_jdf``/``_jsc``) because
PySpark exposes no public API for "the RDD behind this checkpointed
DataFrame" or "all persisted RDDs"; they are pinned by tests
(tests/test_plans.py) so a PySpark upgrade fails loudly instead of
silently leaking again, and both swallow failures — block release is
an optimization, never worth failing a query over.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession


def release_checkpoint(df: DataFrame) -> bool:
    """Free the storage blocks behind a ``localCheckpoint``-ed
    DataFrame. Only call once nothing will read ``df`` again: a
    checkpoint's lineage is truncated, so its data CANNOT be recomputed
    after release. Returns True iff blocks were released; a frame whose
    analyzed root is not a persisted ``LogicalRDD`` (a projection, a
    ``createDataFrame`` over an RDD) is left alone and gives False."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        # LogicalRDD (the checkpoint's plan node) carries the RDD
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        rdd = plan.rdd()
        if not rdd.getStorageLevel().isValid():  # NONE: nothing persisted
            return False
        rdd.unpersist(False)
        return True
    except Exception:
        return False


def advance(
    prev: DataFrame | None, nxt: DataFrame, *observed: Column
) -> tuple[DataFrame, dict]:
    """Checkpoint ``nxt`` eagerly (the round's only action), then release
    ``prev`` unless it is None. Returns the checkpoint and the
    ``observed`` aggregates over ``nxt``, read after that job returns:
    a failed job raises instead of leaving ``Observation.get`` waiting."""
    if observed:
        obs = Observation()
        nxt = nxt.observe(obs, *observed)
    ckpt = nxt.localCheckpoint(eager=True)
    metrics = obs.get if observed else {}
    if prev is not None:
        release_checkpoint(prev)
    return ckpt, metrics


def release_all_cached(spark: SparkSession) -> int:
    """Per-query-exit hook: drop every cached plan and every surviving
    persisted RDD block in the session. Returns the number of RDD
    blocks force-released (0 on a clean session). Deterministic —
    unlike waiting for ContextCleaner/GC — so a long-lived session's
    execution-memory pool never shrinks under leaked storage."""
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    n = 0
    try:
        # snapshot the entries first — unpersist mutates the map. A Java
        # array, not py4j's iterator: that one ends by raising a Java
        # error that PySpark converts, ~20 ms per call.
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for entry in jmap.entrySet().toArray():
            entry.getValue().unpersist(False)
            n += 1
    except Exception:
        pass
    return n


def persistent_rdd_count(spark: SparkSession) -> int:
    """How many RDDs currently hold persisted blocks (test/debug aid)."""
    try:
        return len(spark.sparkContext._jsc.getPersistentRDDs())
    except Exception:
        return -1
