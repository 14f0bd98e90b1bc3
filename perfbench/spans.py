"""Layer spans recorded from the benchmark's own code.

A span wraps the benchmark's call into one layer. While it is open, every
Spark job the driver starts carries the span's name as its job group
(``spark.jobGroup.id``), so the event-log roll-up (``eventlog.rollup``)
can charge task time, shuffle and Python-boundary bytes to the layer.
The span itself records the driver-side wall time, and the caller may
attach counts (``rows``) to it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


class Spans:
    """Spans of one benchmark run. ``prefix`` is prepended to every job
    group (the runner sets it to ``t<round>/`` per traced round)."""

    def __init__(self, sc, prefix: str = ""):
        self.sc = sc
        self.prefix = prefix
        self.records: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        rec = {
            "name": name,
            "group": self.prefix + name,
            "parent": parent["group"] if parent else None,
            "child_s": 0.0,
        }
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, rec["group"])
        self._open.append(rec)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - start
            rec["self_s"] = rec["wall_s"] - rec["child_s"]
            self._open.pop()
            if parent is not None:
                parent["child_s"] += rec["wall_s"]
            self.sc.setLocalProperty(GROUP_KEY, prev)
            self.records.append(rec)


@contextmanager
def job_group(sc, name: str):
    """Tag the jobs started inside the block with job group ``name``."""
    prev = sc.getLocalProperty(GROUP_KEY)
    sc.setLocalProperty(GROUP_KEY, name)
    try:
        yield
    finally:
        sc.setLocalProperty(GROUP_KEY, prev)
