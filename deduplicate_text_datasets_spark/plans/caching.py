"""Scoped cache lifecycle for operator-persisted intermediates.

Operators persist() frames that feed two consumers (shingles, LSH buckets,
window fingerprints, ...). Those frames must stay cached until the CALLER
has consumed the returned lazy DataFrames — eager unpersist inside an
operator would invalidate them first — so operators alone cannot bound
cache growth. In a long-lived session (a service invoking pipelines
repeatedly on changing inputs) the cached frames would otherwise
accumulate until someone calls spark.catalog.clearCache().

``cache_scope()`` closes that gap: every frame persisted through
``scoped_persist`` (which all operator modules use) while a scope is
active on the current thread is registered with the innermost scope and
unpersisted when the scope exits; every broadcast made through
``scoped_broadcast`` is destroyed. Consume inside the scope:

    with cache_scope():
        ranges, deduped = exactsubstr_dedup(docs, cfg)
        deduped.write.parquet(out)          # actions happen in-scope
    # <- all operator-persisted intermediates are now unpersisted

Without an active scope the behaviour is unchanged (frames stay persisted
for the session; callers may clearCache() between invocations — bench.py's
scaling legs do exactly that).

Storage memory at scale: unpersist(blocking=False) only unlinks the
blocks; executors evict lazily under their normal LRU pressure, so scope
exit is O(#frames) driver work, never a cluster barrier.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame

_local = threading.local()


def _stack() -> list[list[DataFrame | Broadcast]]:
    st = getattr(_local, "stack", None)
    if st is None:
        st = []
        _local.stack = st
    return st


def scoped_persist(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """persist(df, level); if a cache_scope is active on this thread, the
    frame is unpersisted automatically at scope exit."""
    return _register(df.persist(level))


def scoped_broadcast(sc, value) -> Broadcast:
    """sc.broadcast(value); if a cache_scope is active on this thread, the
    broadcast is destroyed automatically at scope exit."""
    return _register(sc.broadcast(value))


def _register(obj):
    st = _stack()
    if st:
        st[-1].append(obj)
    return obj


def probe_rows(df: DataFrame, guard: int):
    """Size-probe a frame the caller will consume ENTIRELY when small:
    pull it as ONE pandas frame and return it if it holds at most
    ``guard`` rows, else None (caller runs its distributed plan).

    Replaces the limit(guard+1).toPandas() probe pattern (round-6): under
    AQE, CollectLimit's incremental execution turned each probe into a
    3-4 job escalation ladder (scan 1 partition, then 4x more per retry —
    measured as a chain of ~0.4 s jobs per probe at bench scale). A plain
    toPandas is ONE job; ``spark.driver.maxResultSize`` (default 1 GiB)
    is the hard backstop for the over-guard case — a frame too big to
    ship aborts the collect with the documented error, which is caught
    and treated as "over guard" (the caller's distributed plan runs; one
    materialization was spent learning that, the same job a count-based
    probe would have spent). Frames between the row guard and the result
    cap are pulled once and discarded — bounded waste, driver-safe by
    construction. Call on a persisted frame (or one whose lineage is
    cheap): the probe materializes it for the fallback plan."""
    try:
        pdf = df.toPandas()
    except Exception as exc:  # over the driver result cap => over guard
        if "maxResultSize" not in str(exc):
            raise
        return None
    if len(pdf) > guard:
        return None
    return pdf


@contextmanager
def cache_scope():
    """Bound the lifetime of operator-persisted intermediates to a block.

    Scopes nest: each frame or broadcast belongs to the innermost scope
    active when it was registered. Yields the (mutable) list of registered
    frames and broadcasts, mostly useful for tests/observability.
    """
    held: list[DataFrame | Broadcast] = []
    _stack().append(held)
    try:
        yield held
    finally:
        _stack().pop()
        for obj in held:
            try:
                if isinstance(obj, Broadcast):
                    obj.destroy(blocking=False)
                else:
                    obj.unpersist(blocking=False)
            except Exception:
                pass  # session already stopped — nothing to release
