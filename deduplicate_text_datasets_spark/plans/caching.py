"""Scoped cache lifecycle for operator-persisted intermediates, and the
one placement mechanism for size-adaptive stages.

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

Placement: a size-adaptive stage runs a numpy twin on the driver when its
input is small and its distributed plan otherwise. Every such decision
goes through ``probe(stage, df, driver_guard(name))``: a bounded
count-then-pull that logs one record per decision. A driver-computed
result comes back as ``local_frame(...)``, whose pandas copy a later stage
reads with ``resident(df)`` instead of pulling the frame again.
"""

from __future__ import annotations

import logging
import os
import threading
import weakref
from contextlib import contextmanager

import pandas as pd
from pyspark import StorageLevel
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame

PLACEMENT_LOG = "deduplicate_text_datasets_spark.placement"

_local = threading.local()
_log = logging.getLogger(PLACEMENT_LOG)
# DataFrame -> its driver-resident pandas copy; entries die with the frame
_resident: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


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
    """Pull a frame that :func:`probe` has counted at ``guard`` rows or
    fewer to the driver as ONE pandas frame (one Arrow collect job).

    Only :func:`probe` calls this, through the module global, and only
    after the count: no frame over the guard is ever pulled. The guard is
    checked once more on the pulled frame, so a frame whose row count
    changed between the two jobs still falls back to the distributed
    plan (None)."""
    pdf = df.toPandas()
    return pdf if len(pdf) <= guard else None


def driver_guard(name: str) -> int:
    """Row limit under which stage ``name`` runs on the driver (0 = always
    the distributed plan). Read from the environment at every decision, so
    a caller may flip a guard between two runs in one session."""
    env = {
        "offsets": os.environ.get("SPARK_GRAFT_OFFSETS_DRIVER_MAX", str(1 << 20)),
        "intervals": os.environ.get("SPARK_GRAFT_INTERVALS_DRIVER_MAX", str(1 << 20)),
        "lsh": os.environ.get("SPARK_GRAFT_LSH_DRIVER_MAX", str(1 << 22)),
        "lsh_pairs": os.environ.get("SPARK_GRAFT_LSH_DRIVER_PAIR_MAX", str(1 << 22)),
        "verify": os.environ.get("SPARK_GRAFT_VERIFY_DRIVER_MAX", str(1 << 16)),
        "cc": os.environ.get("SPARK_GRAFT_CC_DRIVER_MAX", str(1 << 22)),
    }
    return int(env[name])


def probe(
    stage: str, df: DataFrame, guard: int, persist: bool = True
) -> pd.DataFrame | None:
    """The placement decision of a size-adaptive stage: ``df`` as one
    pandas frame when it holds at most ``guard`` rows (the caller runs its
    numpy twin), else None (the caller runs its distributed plan).

    A guard <= 0 runs no job. Otherwise ``df`` is persisted in place
    (persist returns the same object, so the caller's distributed plan
    reuses the materialized frame), counted, and pulled only when the
    count is within the guard. A count rather than ``limit(guard + 1)``:
    the limit shuffles every probed row, and under AQE its incremental
    collect escalates into a ladder of jobs. Pass ``persist=False`` when
    ``df`` is, or cheaply projects, an already-cached frame: its count is
    then a cache scan and nothing is cached twice.

    Every decision logs one record on ``PLACEMENT_LOG``: stage,
    placement, probed rows (None when no probe ran) and guard; a later
    veto of a driver placement logs one more (:func:`veto`)."""
    pdf = rows = None
    if guard > 0:
        if persist:
            scoped_persist(df)
        rows = df.count()
        if rows <= guard:
            pdf = probe_rows(df, guard)
    _record(stage, "distributed" if pdf is None else "driver", rows, guard)
    return pdf


def veto(stage: str, rows: int, guard: int, reason: str) -> None:
    """Log that ``stage``, whose input is on the driver, runs its
    distributed plan after all because its driver twin would exceed
    ``guard``: one more ``distributed`` record carrying the input rows
    and a ``reason``, so the stage's last record is its placement."""
    _record(stage, "distributed", rows, guard, reason)


def _record(
    stage: str, placement: str, rows: int | None, guard: int, reason: str | None = None
) -> None:
    _log.info(
        "%s: %s (rows=%s, guard=%d%s)",
        stage,
        placement,
        rows,
        guard,
        f", {reason}" if reason else "",
        extra={
            "stage": stage,
            "placement": placement,
            "rows": rows,
            "guard": guard,
            "reason": reason,
        },
    )


def local_frame(spark, pdf: pd.DataFrame, schema: str) -> DataFrame:
    """``spark.createDataFrame(pdf, schema)`` with ``pdf`` registered as
    its driver-resident copy (see :func:`resident`)."""
    return keep_resident(spark.createDataFrame(pdf, schema), pdf)


def keep_resident(df: DataFrame, pdf: pd.DataFrame) -> DataFrame:
    """Register ``pdf`` as the driver-resident copy of ``df``: all of
    ``df``'s rows, a subset of its columns. Keyed by object identity, so
    it survives ``persist()`` (which returns the same object) but not a
    derived frame such as ``df.select(...)``."""
    _resident[df] = pdf
    return df


def resident(df: DataFrame) -> pd.DataFrame | None:
    """The driver-resident pandas copy of ``df``, or None."""
    return _resident.get(df)


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
