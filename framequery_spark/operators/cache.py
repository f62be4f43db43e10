"""One registry of the resources engine calls hold between calls.

Operators return *lazy* DataFrames, so whatever they persist to feed several
plan branches (shingle/gram streams, MinHash signatures, loop checkpoints)
cannot be released inside the operator — the caller has not materialized
anything yet. Every such resource is registered here instead, in the one
list ``_TRACKED``, and released later by :func:`release_cached` (all of
them) or :func:`release_one` (one persist). Nothing outside this module
calls ``.persist()``, ``.cache()``, ``.localCheckpoint()`` or
``sparkContext.broadcast()`` (tests/test_cache_discipline.py scans for it),
and a user's own caches are never registered, so they are never released.

Each entry belongs to one of two release classes:

- **recompute-safe**: DataFrame persists (:func:`persist_tracked`) and
  broadcasts (:func:`broadcast_tracked`). Releasing one is always safe — a
  later read of a still-lazy result recomputes the persist or re-ships the
  broadcast.
- **pinned**: local checkpoints (:func:`local_checkpoint_tracked`) and
  streaming memory-sink views (:func:`track_temp_view`). A checkpoint
  truncates lineage, so a read after release FAILS
  (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) instead of recomputing; a released
  sink view no longer resolves by name. ``release_cached(checkpoints=False)``
  — the hook the ``__spark_entry__`` op wrappers fire between calls —
  releases the recompute-safe class only; explicit callers that have
  materialized everything (bench reps, tests, teardown) release both.

An entry may have an **owner**: an ``Executor`` registers the local
checkpoints that bound the lineage of the tables it wrote under its own
token. Only :func:`release_owned` releases those (``Connection.close()``);
``release_cached`` releases ownerless entries only, so a live session's
tables survive a full release, and :func:`forget_owned` drops a collected
owner's entries without releasing them (results may still read them; the
ContextCleaner frees blocks nothing references).

``REGISTRATIONS`` counts every registration, monotonically, plus the
compile-time events that hold nothing but still make a compiled plan
unsafe to reuse (:func:`note_compile_materialization`). The executor's
plan cache stores a compiled plan only when the count did not move during
the compile.
"""
from __future__ import annotations

from typing import Callable, List, Tuple

from pyspark.sql import DataFrame

try:
    from pyspark import StorageLevel
    _DEFAULT_LEVEL = StorageLevel.MEMORY_AND_DISK
except Exception:  # pragma: no cover
    _DEFAULT_LEVEL = None

# (handle, release(blocking), pinned, owner). Persist and broadcast handles are
# strong refs on purpose: the cached blocks exist on the JVM side whether or
# not the Python handle stays reachable, so the registry keeps the handle
# alive until it is released. Checkpoints and views are held by RDD id and
# by name. No handle carries data.
_TRACKED: List[Tuple[object, Callable[[bool], object], bool, object]] = []
REGISTRATIONS = 0


def _register(handle, release: Callable[[bool], object],
              pinned: bool, owner=None) -> None:
    global REGISTRATIONS
    _TRACKED.append((handle, release, pinned, owner))
    REGISTRATIONS += 1


def note_compile_materialization() -> None:
    """Count a compile-time event that holds nothing but makes the compiled
    plan unsafe to reuse, so it is never plan-cached: a materialization
    (the recursive-CTE driver-local frontier collects rows into a
    LocalRelation — rebuilding the plan would replay frozen data instead
    of recomputing from the sources), or a table resolved outside the
    scope (the durable root or the Spark catalog — the name can be rebound
    while the scope, which keys the cache, stays the same)."""
    global REGISTRATIONS
    REGISTRATIONS += 1


def persist_tracked(df: DataFrame, level=None) -> DataFrame:
    """``df.persist(level)``, registered as recompute-safe."""
    df = df.persist(level if level is not None else _DEFAULT_LEVEL)
    _register(df, df.unpersist, pinned=False)
    return df


def local_checkpoint_tracked(df: DataFrame, eager: bool = True,
                             owner=None) -> DataFrame:
    """``df.localCheckpoint(eager)``, registered as pinned. localCheckpoint
    persists its RDD outside the DataFrame cache manager (neither
    ``df.unpersist()`` nor ``catalog.clearCache()`` drops it), so the
    registry records that RDD's id, read off the checkpoint's own analyzed
    plan (a ``LogicalRDD`` over exactly the persisted RDD, eager or not),
    and release unpersists it by id. Holding the id, not the RDD, leaves a
    checkpoint nothing references to the ContextCleaner. The returned
    DataFrame must not be read after its release: a full
    ``release_cached()`` when ``owner`` is None, ``release_owned(owner)``
    otherwise."""
    out = df.localCheckpoint(eager)
    try:
        jsc = df.sparkSession.sparkContext._jsc
        rid = out._jdf.queryExecution().analyzed().rdd().id()
    except Exception:  # pragma: no cover — py4j unavailable shapes
        return out
    _register(rid, lambda blocking: jsc.sc().unpersistRDD(rid, blocking),
              pinned=True, owner=owner)
    return out


def broadcast_tracked(spark, value):
    """``sparkContext.broadcast(value)``, registered as recompute-safe
    (unpersist drops the executor copies; a later use re-ships them)."""
    bc = spark.sparkContext.broadcast(value)
    _register(bc, bc.unpersist, pinned=False)
    return bc


def track_temp_view(spark, name: str) -> None:
    """Register the session temp view ``name`` (a streaming memory sink,
    whose rows live in driver memory until the view is dropped) as
    pinned; release drops the view. Dropping a view that was never
    created is a no-op, so callers may register before creating it."""
    _register(name, lambda blocking: spark.catalog.dropTempView(name),
              pinned=True)


def release_one(df: DataFrame) -> None:
    """Unpersist one tracked persist and drop it from the registry — for
    operators that own a persist with a bounded lifetime (a training loop,
    a recursive-CTE block) while the caller may hold OTHER tracked
    resources that must survive (release_cached would drop those too)."""
    for i, entry in enumerate(_TRACKED):
        if entry[0] is df:
            del _TRACKED[i]
            break
    try:
        df.unpersist(False)
    except Exception:  # pragma: no cover — session already stopped
        pass


def _release(keep: Callable[[tuple], bool], blocking: bool) -> int:
    """Release every entry ``keep`` rejects; returns the number released."""
    released = 0
    kept = []
    while _TRACKED:
        entry = _TRACKED.pop()
        if keep(entry):
            kept.append(entry)
            continue
        try:
            entry[1](blocking)
            released += 1
        except Exception:  # session already stopped — nothing to release
            pass
    _TRACKED.extend(reversed(kept))
    return released


def release_cached(blocking: bool = False,
                   checkpoints: bool = True) -> int:
    """Release every ownerless tracked resource; returns the number
    released. Idempotent; safe while results are still lazy as far as the
    recompute-safe class goes. Default is non-blocking (fire-and-forget
    block removal); pass ``blocking=True`` when the next measurement must
    not overlap the async removal — back-to-back bench reps with
    non-blocking release can accumulate cached blocks faster than the
    async cleaner drops them, which reads as monotonically rising rep
    times.

    ``checkpoints=False`` keeps the pinned class (checkpoints, sink views)
    registered and releases only the recompute-safe one, preserving the
    every-result-stays-readable invariant for auto-release hooks."""
    return _release(
        lambda e: e[3] is not None or (e[2] and not checkpoints), blocking)


def release_owned(owner, blocking: bool = False) -> int:
    """Release every resource registered with ``owner``; returns the
    number released."""
    return _release(lambda e: e[3] is not owner, blocking)


def forget_owned(owner) -> None:
    """Drop ``owner``'s entries without releasing them."""
    _TRACKED[:] = [e for e in _TRACKED if e[3] is not owner]
