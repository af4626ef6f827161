"""Lifetimes of materialized state: the only code that checkpoints,
caches, frees or overrides a session conf.

Two kinds of state, freed by two calls:

* scratch: a frame an operator marks for its own use that its result
  does not read. The operator frees it in ``finally`` with :func:`free`.
  ``free`` releases only what the frame itself holds, which is the
  checkpoint at its plan root or its cache entry. It never touches a
  checkpoint the frame merely reads from an input.
* result state: a checkpoint the returned frame reads. It lives as long
  as the caller needs the result. :func:`release` frees every
  checkpoint a frame's plan reads, and ``queries.register`` calls it on
  a graded key's previous result when the key's next call starts.

A checkpoint's id comes from the frame's own plan, whose root is a
``LogicalRDD`` over the persisted RDD. So marks made concurrently from
several threads never see, or free, each other's blocks.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# Held while a mark is planned and for the whole of a conf override, so
# no mark made here is planned under another thread's override.
# Re-entrant: the thread holding an override marks inside it.
_PLAN_LOCK = threading.RLock()


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint ``df``: MEMORY_AND_DISK blocks that cannot be
    recomputed once freed. ``eager`` materializes it now; a lazy mark
    is stored by the caller's next action that scans every partition.
    Only the planning holds the lock, so threads still overlap their
    jobs (the mark reuses the plan its frame caches)."""
    with _PLAN_LOCK:
        df._jdf.queryExecution().executedPlan()
    return df.localCheckpoint(eager=eager)


def cached(df: DataFrame) -> DataFrame:
    """persist ``df``. Unlike a checkpoint, the cached plan keeps its
    output partitioning and can be recomputed if blocks are lost."""
    with _PLAN_LOCK:
        return df.persist()


@contextmanager
def aqe_off(spark: SparkSession):
    """Plan the body with adaptive execution off, then restore it. A
    frame cached inside keeps its static output partitioning, where an
    adaptive cached plan reports it as unknown."""
    key = "spark.sql.adaptive.enabled"
    with _PLAN_LOCK:
        was = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            yield
        finally:
            spark.conf.set(key, was)


def _is_checkpoint(plan) -> bool:
    return plan.getClass().getSimpleName() == "LogicalRDD"


def free(*frames: DataFrame | None) -> None:
    """Release what each frame itself holds, without blocking: its
    cache entry, else the checkpoint at its plan root. ``None`` is
    skipped and freeing twice is harmless."""
    for df in frames:
        if df is None:
            continue
        if df.is_cached:
            df.unpersist(blocking=False)
            continue
        root = df._jdf.queryExecution().logical()
        if _is_checkpoint(root):
            root.rdd().unpersist(False)


def release(df: DataFrame) -> None:
    """Free every checkpoint ``df``'s plan reads, without blocking. Use
    it only when those checkpoints are all the caller's to free."""
    it = df._jdf.queryExecution().logical().collectLeaves().iterator()
    while it.hasNext():
        leaf = it.next()
        if _is_checkpoint(leaf):
            leaf.rdd().unpersist(False)


def clear(spark: SparkSession) -> None:
    """Free every persisted RDD and cache entry in the session: a
    harness's reset between legs."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
    spark.catalog.clearCache()
