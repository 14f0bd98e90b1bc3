"""coalesce_positions: the remove-list fold at each placement.

The distributed plan folds each range partition of the positions and
merges only each partition's first and last range (its edges) in one
single-partition step, or merges every folded range on the driver when
they fit the guard. These tests pin it to the reference fold
(``pyref.collect_ranges``) at 1, 8 and 64 range partitions, on inputs
whose seams cut clusters of touching windows.
"""

from __future__ import annotations

import numpy as np
import pytest

from deduplicate_text_datasets_spark.operators.intervals import (
    coalesce_positions,
)
from deduplicate_text_datasets_spark.oracle import pyref

L = 25


def _chain(n: int = 2000) -> list[int]:
    # one run of exactly touching windows (p == prev + L) through every
    # partition: each partition folds to one range, chained at every seam
    return [i * L for i in range(n)]


def _clusters(n_clusters: int = 200, per: int = 20) -> list[int]:
    # clusters of overlapping windows whose last step touches exactly
    # (p == prev + L, merges), separated by p == prev + L + 1 (does not):
    # a partition holds a few clusters and its seams cut through them
    rng = np.random.RandomState(3)
    out, p = [], 0
    for _ in range(n_clusters):
        for _ in range(per - 1):
            out.append(p)
            p += int(rng.randint(1, L + 1))
        out.append(p)
        p += L
        out.append(p)
        p += L + 1
    return out


def _duplicates() -> list[int]:
    rng = np.random.RandomState(5)
    return [int(p) for p in rng.randint(0, 20000, size=1500)] * 3


CASES = {
    "chain": _chain,
    "clusters": _clusters,
    "duplicates": _duplicates,
    "empty": lambda: [],
    "single": lambda: [12345],
    # an unsorted input with repeats and mixed gaps
    "strided": lambda: [(i * 37) % 5000 for i in range(800)],
}


def _ranges(df) -> list[tuple[int, int]]:
    return sorted((r["start"], r["end"]) for r in df.collect())


@pytest.fixture
def partitions(spark):
    """Set the shuffle partition count for one test, with AQE partition
    coalescing off so the range exchange keeps every partition."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    prev = {k: spark.conf.get(k) for k in keys}

    def set_(n: int) -> None:
        spark.conf.set(keys[0], str(n))
        spark.conf.set(keys[1], "false")

    yield set_
    for k, v in prev.items():
        spark.conf.set(k, v)


@pytest.mark.parametrize("n_parts", [1, 8, 64])
@pytest.mark.parametrize("case", sorted(CASES))
def test_coalesce_positions_matches_collect_ranges(
    spark, monkeypatch, partitions, case, n_parts
):
    positions = CASES[case]()
    want = pyref.collect_ranges(positions, L)
    pos = spark.createDataFrame([(p,) for p in positions], "pos long")
    partitions(n_parts)
    assert _ranges(coalesce_positions(pos, L)) == want
    # positions over the guard: the fold is distributed, and the folded
    # ranges are merged on the driver whenever they fit the guard
    guard = len(positions) - 1
    monkeypatch.setenv("SPARK_GRAFT_INTERVALS_DRIVER_MAX", str(guard))
    assert _ranges(coalesce_positions(pos, L)) == want
    monkeypatch.setenv("SPARK_GRAFT_INTERVALS_DRIVER_MAX", "0")
    assert _ranges(coalesce_positions(pos, L)) == want


def test_coalesce_positions_plan_shape(spark, monkeypatch):
    """The guards-off plan merges partition seams without a Window (no
    global-order funnel, VERDICT #5) and sends only the edge ranges
    through exactly one single-partition exchange."""
    monkeypatch.setenv("SPARK_GRAFT_INTERVALS_DRIVER_MAX", "0")
    pos = spark.range(0, 100000).selectExpr("id * 70 AS pos")
    out = coalesce_positions(pos, 50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert plan.count("SinglePartition") == 1, plan
    assert out.count() == 100000  # gaps of 20 -> nothing merges

