"""Connected components over duplicate-pair edges.

Alternating large-star / small-star (Kiveris et al. 2014, "Connected
Components in MapReduce and Beyond") expressed as DataFrame groupBy+join
rounds — O(log n) rounds, each a hash-partitioned aggregation, no driver
state. Cluster id = min member id (deterministic; the reference's cluster
numbering is order-dependent, so parity tests compare *partitions*, not
labels — SURVEY.md §7).

Per-round lineage is truncated with localCheckpoint (required for iterative
plans; on a cluster use checkpoint() to a reliable store — see
plans/pipeline.py for the checkpointed variant with lineage counters).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(edges: DataFrame) -> DataFrame:
    """(u > v) edges without self-loops; duplicates kept."""
    return (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    bidir = e.select(F.col("u").alias("n"), F.col("v").alias("m")).unionByName(
        e.select(F.col("v").alias("n"), F.col("u").alias("m"))
    )
    mins = bidir.groupBy("n").agg(F.min("m").alias("mn"))
    mins = mins.withColumn("mn", F.least("mn", F.col("n")))
    return (
        bidir.join(mins, "n")
        .filter(F.col("m") > F.col("n"))
        .select(F.col("m").alias("u"), F.col("mn").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each u (neighbors all <= u after canon): connect u and its
    neighbors to the minimum of the neighborhood."""
    mins = e.groupBy("u").agg(F.min("v").alias("mn"))
    moved = (
        e.join(mins, "u")
        .filter(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
    )
    self_edges = mins.select("u", F.col("mn").alias("v"))
    return moved.unionByName(self_edges).filter(F.col("u") != F.col("v")).distinct()


def _signature(e: DataFrame) -> tuple[int, int]:
    # decimal(38,0) accumulator: exact and overflow-free under ANSI mode
    row = e.agg(
        F.count(F.lit(1)).alias("c"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["c"]), int(row["h"])


def _driver_components(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact CC of a small canonical edge frame on the driver: vectorized
    min-label propagation (hook with np.minimum.at + full pointer jumping)
    — O(log n) numpy passes, no Python loop over edges. Same result
    contract as the distributed star rounds: component = min member id."""
    ids = np.unique(
        np.concatenate([pdf["u"].to_numpy(np.int64), pdf["v"].to_numpy(np.int64)])
    )
    u = np.searchsorted(ids, pdf["u"].to_numpy(np.int64))
    v = np.searchsorted(ids, pdf["v"].to_numpy(np.int64))
    p = np.arange(len(ids), dtype=np.int64)
    for _ in range(64):
        prev = p.copy()
        np.minimum.at(p, u, p[v])
        np.minimum.at(p, v, p[u])
        while True:  # full path compression (label = current tree min)
            pp = p[p]
            if np.array_equal(pp, p):
                break
            p = pp
        if np.array_equal(p, prev):
            break
    else:  # pragma: no cover - min-propagation converges in <= log2(n) hooks
        raise RuntimeError("driver connected_components did not converge")
    return pd.DataFrame({"node": ids, "component": ids[p]})


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 50,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """edges(src, dst) [+ nodes(node)] -> assignments(node, component).

    component = min node id of the component. Nodes absent from any edge
    (singletons) are included iff ``nodes`` is given.

    Size-adaptive plan: at or below ``driver_max_edges`` (default: the CC
    guard, ``plans.caching.driver_guard("cc")``) the components are solved
    on the driver in a few vectorized numpy passes instead of O(log n)
    star rounds of ~6 shuffles each — dup-cluster graphs are usually tiny
    next to the corpus, and the star rounds' per-round fixed cost
    dominates exactly there. Above it the Kiveris star rounds run (the
    100-TB path). Both paths produce the identical min-member assignment;
    parity is pytest-pinned.
    """
    from ..plans.caching import driver_guard, local_frame, probe

    if driver_max_edges is None:
        driver_max_edges = driver_guard("cc")
    # Probe on the NARROW canonical projection without the distinct —
    # greatest/least/filter are map-side, so the fast path costs zero
    # exchanges. The guard counts raw (pre-distinct) edges, which both
    # bounds the pull and upper-bounds the distinct count the star rounds
    # would see; numpy min-propagation is indifferent to duplicate edges.
    raw = _canon(edges)
    pdf = probe("connected_components", raw, driver_max_edges)
    if pdf is not None:
        raw.unpersist(blocking=False)
        assign = local_frame(
            edges.sparkSession, _driver_components(pdf), "node long, component long"
        )
        return _with_singletons(assign, nodes)
    e = raw.distinct().localCheckpoint()
    if raw.is_cached:  # the probe's copy: the checkpoint replaces it
        raw.unpersist(blocking=False)
    prev_sig = None
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        sig = _signature(e)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    # converged: every edge points a node at its component root
    assign = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    assign = assign.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )
    return _with_singletons(assign, nodes)


def _with_singletons(assign: DataFrame, nodes: DataFrame | None) -> DataFrame:
    if nodes is not None:
        all_nodes = nodes.select(F.col("node").cast("long")).distinct()
        assign = (
            all_nodes.join(assign, "node", "left")
            .select("node", F.coalesce("component", "node").alias("component"))
        )
    return assign
