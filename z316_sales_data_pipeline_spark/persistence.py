"""Materialization discipline: which frames may localCheckpoint.

The grain rule (r8 VERDICT item 3):

- ``localCheckpoint`` ONLY for *reductions* — calendar-grain,
  key-grain, set-grain, capped-audit frames whose size is bounded far
  below the input. It stores blocks in executor-local, non-reliable
  storage and SEVERS lineage, so on executor loss the blocks are gone
  and the job dies instead of recomputing. For a small reduction the
  cheap re-run is acceptable and the plan-truncation benefit (exact
  AQE sizes, no re-derivation of an iterative lineage) is large.
- *Fact-grain* frames (doc-grain, corpus-grain, pair-output-grain —
  anything proportional to the input or the answer) must use
  :func:`persist_fact` instead: ``persist(DISK_ONLY)`` KEEPS lineage,
  so a lost block is recomputed from source; an eager ``count()``
  materializes it so callers may safely unpersist the parents it was
  derived from (matching ``localCheckpoint(eager=True)`` semantics).

Pinned by ``tests/test_plan_properties.py::
test_fact_grain_frames_never_localcheckpoint``.

Either kind of pin lives until it is released: :func:`release` frees
both, so a long-running stream can drop each epoch's pins at its end.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def pin_fact(df: DataFrame) -> DataFrame:
    """LAZY variant of :func:`persist_fact` (r14 optimization): same
    DISK_ONLY storage level and same lineage-keeping posture, but no
    eager ``count()`` — the frame materializes at the consumer's own
    action, so a multi-consumer reduction dedupes through the
    CacheManager while the whole query still executes as ONE job
    (the graph-loop lesson: an eager pin pays one extra
    materialization job per pin inside every query that uses the
    operator). Use wherever nothing between the pin and the final
    action *requires* the data to exist yet; keep :func:`persist_fact`
    where a caller unpersists the pinned frame's parents right after
    (the eager count is what makes that safe) or where a driver-side
    decision reads the frame before the main action.
    """
    return df.persist(StorageLevel.DISK_ONLY)


def persist_fact(df: DataFrame) -> DataFrame:
    """Eagerly materialize a fact-grain frame to disk WITHOUT severing
    lineage (recompute-on-loss stays possible at 100 TB, where an
    executor loss over a multi-hour job is routine, not exceptional).

    DISK_ONLY rather than MEMORY_AND_DISK: fact-grain frames are by
    definition too big to pin in executor memory at scale, and the
    consumers below them are one-pass joins/aggregations for which OS
    page cache already buffers the hot blocks.
    """
    df = df.persist(StorageLevel.DISK_ONLY)
    df.count()
    return df


def release(*frames: DataFrame) -> None:
    """Free what each frame pins, once nothing reads it again: the
    cache of a frame persisted through this very object, or the blocks
    of a ``localCheckpoint``. ``unpersist()`` alone does not free a
    local checkpoint: its blocks belong to the RDD under the frame's
    ``LogicalRDD`` plan, which stays among the SparkContext's
    persistent RDDs until that RDD is unpersisted. Uncaching goes by
    plan, so release only frames the caller itself pinned."""
    for df in frames:
        if df.is_cached:
            df.unpersist()
            continue
        plan = df._jdf.queryExecution().logical()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
