"""Bounded DataFrame caching for shared builder frames.

Several operators persist an intermediate frame that multiple branches
of the SAME query consume (MinHash band signatures, shingle posting
lists, tf-idf weights).  A bare ``df.persist()`` at the builder leaks:
registry queries hand their DataFrames to the driver, so no consumer
can pair an ``unpersist()`` with materialization, and every invocation
strands another cached frame for the session lifetime (observed across
the 175-query correctness sweep).

Both slot functions keep AT MOST ONE live frame per key and turn the
slot over on every call: the previous occupant is evicted before the
new frame is materialized.  There is no lineage-keyed reuse — a frame
rebuilt over a path that was rewritten in place has the same
semantics as the old one, so reuse would hand back stale rows.  For
lazy slots Spark's CacheManager already substitutes a persisted frame
into any plan with the same result, so nothing is lost.  Evicting a
frame a still-referenced plan uses is safe — Spark just recomputes it
— so the turnover can never corrupt an earlier query, only uncache it.
Frames persist MEMORY_AND_DISK so an oversized frame spills instead of
evicting executor memory.

Lifecycle caveat for the CHECKPOINT slots: ``DataFrame.unpersist``
only talks to the CacheManager, and a ``localCheckpoint`` frame was
never registered there — the eviction unpersist is a no-op for
checkpointed occupants.  Their blocks are RDD-level persisted storage,
freed by the ContextCleaner once the JVM RDD becomes unreachable;
dropping the slot's reference here (plus the py4j proxy GC) is what
makes that happen.  This is the SAFE direction: eagerly force-freeing
the blocks would break any still-unexecuted plan referencing the
evicted LogicalRDD (a truncated lineage cannot be recomputed), which
would violate the invariant above.  The cost is that reclamation is
deferred to GC — bounded in practice because each key holds at most
one frame and turnover drops the old reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_slots: dict[str, DataFrame] = {}


def _evict(key: str) -> None:
    old = _slots.pop(key, None)
    if old is not None:
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass  # session torn down / frame already gone


def cache_slot(key: str, df: DataFrame) -> DataFrame:
    """Lazily persist ``df`` under ``key``, evicting the key's previous
    frame."""
    _evict(key)
    _slots[key] = df.persist(StorageLevel.MEMORY_AND_DISK)
    return _slots[key]


def checkpoint_slot(key: str, df: DataFrame) -> DataFrame:
    """Eagerly ``localCheckpoint`` ``df`` and keep at most one live
    checkpointed frame per key (same slot discipline as cache_slot).

    Use instead of cache_slot when the frame feeds MANY consumers in
    one plan (self-joins, band joins, re-expansion joins): a persisted
    frame still inlines its FULL logical lineage at every reference, so
    Catalyst re-analyzes/re-optimizes the subtree once per consumer —
    measured at 1.5-2.5 s of pure driver time on the banded-dedup
    family (optimization guide §3.3: "Materialising an intermediate
    result ... or localCheckpoint truncates the plan").  The eager
    checkpoint runs the subtree ONCE at build time and every consumer
    references a LogicalRDD leaf.

    Trade-offs vs cache_slot (why this is not the default): the build
    is eager (no lazy composition; an explain-only caller pays the full
    execution just to print a plan), the checkpointed blocks are
    non-replicated executor state (a lost executor at cluster scale
    forces a recompute-from-source restart of the query — acceptable
    for intra-query intermediates, same failure domain as shuffle
    files; SCALE.md), and the frame can no longer fuse with downstream
    projections.  Block reclamation is GC-deferred (module-header
    lifecycle note)."""
    _evict(key)
    _slots[key] = df.localCheckpoint(eager=True)
    return _slots[key]


def release_all_slots() -> None:
    """Drop every live slot.  Bench rep hygiene: calling this between
    timed reps makes every rep rebuild its shared frames, so reported
    times include the build cost.  For checkpointed occupants dropping
    the reference is the release (module-header lifecycle note)."""
    for key in list(_slots):
        _evict(key)
