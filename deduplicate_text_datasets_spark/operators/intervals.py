"""Interval operators: collect-style coalescing and scalable range joins.

``collect`` in the reference (cmd_collect, src/main.rs:1408-1526) sorts all
duplicate positions (parallel sort + k-way heap merge) then folds them into
maximal byte ranges (main.rs:1505-1521). Spark-native: a range exchange on
``pos`` replaces the heap merge, and the fold is a per-partition vectorized
kernel. Only each partition's first and last folded range can still merge
across a partition seam (the edge rule, see :func:`coalesce_positions`), so
the seam pass moves at most two ranges per partition through one task;
when the folded ranges fit the driver guard they are merged on the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

RANGE_SCHEMA = T.StructType(
    [
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
    ]
)
EDGE_SCHEMA = T.StructType(
    RANGE_SCHEMA.fields + [T.StructField("edge", T.BooleanType(), False)]
)


def _fold_positions(pos: np.ndarray, length: int) -> np.ndarray:
    """Vectorized reference fold (main.rs:1505-1521): sorted positions ->
    [start, end) ranges, merging while p <= prev_p + L. Returns (k, 2)."""
    if len(pos) == 0:
        return np.empty((0, 2), dtype=np.int64)
    gap = np.empty(len(pos), dtype=bool)
    gap[0] = True
    gap[1:] = pos[1:] > pos[:-1] + length  # new range iff gap > L
    starts = pos[gap]
    ends = np.append(pos[np.nonzero(gap)[0][1:] - 1], pos[-1]) + length
    return np.stack([starts, ends], axis=1)


def _ranges_frame(spark, arr: np.ndarray) -> DataFrame:
    """A (k, 2) range array as a local (start, end) frame that keeps the
    ranges driver-resident."""
    from ..plans.caching import local_frame

    return local_frame(
        spark,
        pd.DataFrame(
            {"start": arr[:, 0].astype(np.int64), "end": arr[:, 1].astype(np.int64)}
        ),
        "start long, end long",
    )


def coalesce_positions(positions: DataFrame, length: int) -> DataFrame:
    """duplicate positions (col ``pos``) -> remove_ranges(start, end).

    Range-repartition on ``pos`` + in-partition sort (Catalyst SortExec —
    the distributed analogue of the reference's parallel sort + heap
    merge), then a vectorized per-partition fold that flags each
    partition's first and last range as an ``edge``.

    The edge rule rests on two invariants: every window has the same
    length L, so each folded range is ``[first pos, last pos + L)``; and
    the range partitioning keeps equal positions in one partition and puts
    every position of partition k+1 above every position of partition k.
    A range that is neither first nor last in its partition therefore
    starts after every earlier range ends and ends before every later
    range starts: it is final. Only the edge ranges (at most two per
    partition) go through one single-partition ``_local_merge``, which
    also joins chains through partitions that hold a single range.

    Size-adaptive, at two sites under the one intervals guard: at most
    that many positions are folded in one numpy pass on the driver; above
    it, at most that many folded ranges are merged on the driver instead
    of through the seam step. The narrow input is persisted first, so the
    (possibly expensive) lineage runs exactly once at either placement:
    for the probe's count and pull, or for the range partitioner's
    sampling job and the exchange. A driver result keeps its ranges
    resident for the strike fast path (strike.apply_removals).
    """
    from ..plans.caching import driver_guard, probe, scoped_persist

    pos_narrow = scoped_persist(positions.select(F.col("pos").cast("long")))
    pdf = probe(
        "intervals.coalesce", pos_narrow, driver_guard("intervals"), persist=False
    )
    if pdf is not None:
        folded = _fold_positions(np.sort(pdf["pos"].to_numpy(np.int64)), length)
        return _ranges_frame(positions.sparkSession, folded)
    parts = pos_narrow.repartitionByRange("pos").sortWithinPartitions("pos")

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [pdf["pos"].to_numpy() for pdf in batches if len(pdf)]
        if not chunks:
            return
        ranges = _fold_positions(np.concatenate(chunks), length)
        edge = np.zeros(len(ranges), dtype=bool)
        edge[[0, -1]] = True
        yield pd.DataFrame({"start": ranges[:, 0], "end": ranges[:, 1], "edge": edge})

    # read by the merge probe, the final ranges and the edge ranges
    folded = scoped_persist(parts.mapInPandas(fold, EDGE_SCHEMA))
    # A remove list is far shorter than its positions: under the guard,
    # merge every folded range on the driver so the result stays resident
    # for the strike fast path. Non-edge ranges are final, so this is the
    # same merge as the seam step below.
    pdf = probe(
        "intervals.merge",
        folded.select("start", "end"),
        driver_guard("intervals"),
        persist=False,
    )
    if pdf is not None:
        arr = pdf.to_numpy(dtype=np.int64)
        merged = _local_merge(arr[np.argsort(arr[:, 0])])
        return _ranges_frame(positions.sparkSession, merged)

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [pdf.to_numpy(dtype=np.int64) for pdf in batches if len(pdf)]
        if not chunks:
            return
        merged = _local_merge(np.concatenate(chunks))
        yield pd.DataFrame({"start": merged[:, 0], "end": merged[:, 1]})

    seams = (
        folded.filter("edge")
        .select("start", "end")
        .repartition(1)
        .sortWithinPartitions("start")
        .mapInPandas(merge, RANGE_SCHEMA)
    )
    return folded.filter(~F.col("edge")).select("start", "end").unionByName(seams)


def _local_merge(arr: np.ndarray) -> np.ndarray:
    """Vectorized union of a (k, 2) range array sorted by start: a new
    range starts where start > the running max end (touching ranges
    merge, as in the reference fold)."""
    if len(arr) == 0:
        return arr
    prev_max = np.maximum.accumulate(arr[:, 1])
    flag = np.empty(len(arr), dtype=bool)
    flag[0] = True
    flag[1:] = arr[1:, 0] > prev_max[:-1]
    ends = np.maximum.reduceat(arr[:, 1], np.nonzero(flag)[0])
    return np.stack([arr[flag, 0], ends], axis=1)


def interval_join(
    ranges: DataFrame,
    docs_with_offsets: DataFrame,
    chunk_bytes: int = 1 << 20,
    dedup: bool = True,
) -> DataFrame:
    """Range join: remove_ranges x doc byte extents -> (doc row, start, end)
    for every overlapping pair (the two-pointer walk of
    finish_dedup_wiki40b.py:150-161, distributed).

    A naive theta-join is O(|ranges| * |docs|); instead both sides are
    exploded onto fixed-width byte chunks and equi-joined on chunk_id, then
    exact-overlap filtered — shuffle ~ data size, and Catalyst can still
    broadcast the (usually small) ranges side.
    """
    # long `div` (not floor(double /)): chunk ids stay exact past 2^53
    r = ranges.withColumn(
        "chunk",
        F.explode(
            F.sequence(
                F.expr(f"start div {chunk_bytes}"),
                F.expr(f"(`end` - 1) div {chunk_bytes}"),
            )
        ),
    )
    d = docs_with_offsets.withColumn(
        "chunk",
        F.explode(
            F.sequence(
                F.expr(f"byte_start div {chunk_bytes}"),
                F.expr(f"(byte_end - 1) div {chunk_bytes}"),
            )
        ),
    )
    joined = d.join(r, "chunk").filter(
        (F.col("start") < F.col("byte_end")) & (F.col("end") > F.col("byte_start"))
    )
    # a (doc, range) pair may meet in several chunks — keep one. Callers
    # that fold the result through their own set-semantics aggregation
    # (strike.apply_removals) pass dedup=False and skip this exchange.
    if not dedup:
        return joined.drop("chunk")
    return joined.drop("chunk").dropDuplicates(["doc_id", "start", "end"])
