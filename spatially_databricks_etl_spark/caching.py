"""Release hooks for operators that persist intermediates.

Operators like :func:`minhash_near_dedup` persist intermediate frames
(MEMORY_AND_DISK) because their DAGs consume them from several
branches; without a release path a long-lived session calling such
operators repeatedly leaks cached blocks until eviction pressure
degrades everything else on the executors — exactly what polluted the
round-3 bench numbers. The contract:

- an operator registers its persisted intermediates on the RESULT
  DataFrame via :func:`register_persists`;
- the caller materializes the result (count/write/collect), then calls
  :func:`release_intermediates` on it.

The hook rides on the result's Python object, so release AFTER
materializing the object you got from the operator — a further
transformation returns a new DataFrame without the hook (the original
still holds it). ``spark.catalog.clearCache()`` remains the blunt
catch-all for harnesses that don't track handles.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame

_ATTR = "_spark_graft_persists"


def register_persists(result: DataFrame, frames: Iterable[DataFrame]) -> DataFrame:
    """Attach ``frames`` (persisted intermediates) to ``result`` so the
    caller can free executor memory once the result is materialized."""
    setattr(result, _ATTR, [*getattr(result, _ATTR, []), *frames])
    return result


def release_intermediates(df: DataFrame, *, blocking: bool = False) -> None:
    """Unpersist every intermediate an operator registered on ``df``.
    Safe to call multiple times, and a no-op for results that carry no
    hook."""
    for f in getattr(df, _ATTR, []):
        f.unpersist(blocking=blocking)
    setattr(df, _ATTR, [])


def unpersist_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a SUPERSEDED local checkpoint: unpersist the
    RDD(s) behind ``df``'s ``LogicalRDD`` leaves. ``localCheckpoint``
    persists its RDD outside the cache manager, so neither
    ``DataFrame.unpersist`` nor :func:`release_intermediates` reaches
    it, and the blocks otherwise stay until a JVM garbage collection
    lets Spark's ContextCleaner reclaim them. Call it only on a frame
    that IS a checkpoint (not on something derived from one) and only
    once every frame that still reads it has been checkpointed in turn
    — a later read of an unpersisted checkpoint fails."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(False)
