"""Deterministic localCheckpoint lifecycle for fixpoint loops.

Every iterative operator truncates lineage with ``localCheckpoint()`` per
round. Before this module, a superseded round's blocks were freed only
when the driver GC collected the references AND the async ContextCleaner
drained its queue — measured on sf0.1/local[32]: the orphaned-block
backlog from one ``reference_network`` run taxed the NEXT query 4-20×
(``lsh_pairs`` 56s vs its clean 2.0s; ``zonal_pct`` 26s vs 2.4s) while
the GC-triggered unpersist storm raced it (the CLAUDE.md 15×-slowdown
note was this effect).

``CheckpointSlots.checkpoint(df, slot)`` frees the slot's previous blocks
the moment the new round is materialized: eager localCheckpoint first
(the new state no longer needs the old state's lineage), then a direct
``unpersist(blocking=False)`` on the superseded LogicalRDD's backing RDD.
No GC dependence, and the live block count per loop is bounded at exactly
one state per slot — which is also the 1000-executor requirement
(orphaned localCheckpoint blocks are executor-memory creep at scale).

NOT thread-safe: fixpoint loops are sequential by construction. The final
slot contents intentionally survive — they back the returned DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def backing_rdd(df: DataFrame):
    """The JVM RDD behind a localCheckpoint()ed DataFrame (its analyzed
    plan is a LogicalRDD). None for non-checkpoint plans."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return None
    return plan.rdd()


class CheckpointSlots:
    """Per-slot checkpoint tracker for sequential fixpoint loops."""

    def __init__(self) -> None:
        self._live: dict[str, object] = {}

    def checkpoint(self, df: DataFrame, slot: str = "state") -> DataFrame:
        """localCheckpoint ``df`` (eager) and free the slot's superseded
        blocks. Safe ordering: the new checkpoint is fully materialized
        before the old blocks go away, so nothing ever recomputes through
        a freed LogicalRDD."""
        out = df.localCheckpoint()
        old = self._live.pop(slot, None)
        if old is not None:
            old.unpersist(False)
        self._live[slot] = backing_rdd(out)
        return out

    def hold(self, df: DataFrame, slot: str = "state") -> DataFrame:
        """Track an already checkpointed ``df`` (a gate's pinned input) as
        the slot's state, so the slot's next checkpoint frees it."""
        self.release(slot)
        self._live[slot] = backing_rdd(df)
        return df

    def release(self, slot: str = "state") -> None:
        """Free a slot's blocks NOW — only when its DataFrame is no longer
        reachable by any consumer (a freed LogicalRDD cannot recompute)."""
        old = self._live.pop(slot, None)
        if old is not None:
            old.unpersist(False)


def release_all_persistent(spark) -> int:
    """Unpersist every persisted RDD in the session — the between-queries
    hygiene call for benchmarks/drivers (NOT for library code: it would
    free blocks that back still-live checkpointed DataFrames). Returns the
    number of RDDs released."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for jrdd in jmap.values():
        jrdd.unpersist(False)
        n += 1
    return n
