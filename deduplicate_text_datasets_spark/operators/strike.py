"""Removal application ("strike-out"): rewrite documents with duplicate
byte ranges deleted.

Reference: scripts/finish_dedup_wiki40b.py — parse global [start,end)
ranges (:141-147), map each onto documents via the `.size` offsets with the
6-byte separator-prefix clamp (:150-161), delete spans right-to-left
(:66-69), rebuild the dataset (:74-124). finish_single_file.py:20-37 is the
single-file splice variant.

Distributed plan: interval join (chunked equi-join) -> per-doc clamped
local spans -> groupBy(doc).collect spans -> splice kernel. Documents with
no spans bypass Python entirely (anti-join + union), so the kernel only
ever sees the (small) affected subset. Under the driver size guards the
spans are computed on the driver instead and every document goes through
one splice pass (see apply_removals).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import SEP_BYTES, ExactSubstrConfig
from .intervals import interval_join

STRIKE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("deduped", T.BinaryType(), False),
    ]
)


def doc_spans(
    docs_with_offsets: DataFrame,
    remove_ranges: DataFrame,
    cfg: ExactSubstrConfig,
) -> DataFrame:
    """Map global remove_ranges(start, end) to per-doc text-local spans
    (a, b), clamped into the doc's text region — skipping the 6-byte
    separator prefix (finish_dedup_wiki40b.py:157-158)."""
    sep = SEP_BYTES if cfg.with_separators else 0
    # dedup=False: the multi-chunk duplicate artifact is removed by
    # apply_removals' collect_set aggregation on the same exchange the
    # span grouping needs anyway (round-6: one exchange instead of two)
    hit = interval_join(remove_ranges, docs_with_offsets, dedup=False)
    return (
        hit.withColumn("text_base", F.col("byte_start") + F.lit(sep))
        .select(
            "doc_id",
            F.greatest(F.col("start"), F.col("text_base")).alias("ga"),
            F.least(F.col("end"), F.col("byte_end")).alias("gb"),
            "text_base",
        )
        .select(
            "doc_id",
            (F.col("ga") - F.col("text_base")).alias("a"),
            (F.col("gb") - F.col("text_base")).alias("b"),
        )
        .filter(F.col("b") > F.col("a"))
    )


def _driver_spans(
    docs_with_offsets: DataFrame,
    remove_ranges: DataFrame,
    cfg: ExactSubstrConfig,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray] | None:
    """Per-doc text-local spans for affected docs, computed on the driver
    from the driver-resident ranges and offsets — or None when either is
    not resident (caller runs the distributed join plan). Exact twin of
    doc_spans + groupBy(collect_set): ranges are disjoint and each (doc,
    range) overlap meets in exactly one place here, so no dedup is needed.

    Returns (touched_doc_ids sorted, a, b, group_offsets): doc i's spans
    are a[group_offsets[i]:group_offsets[i+1]] (ascending — splicing them
    right-to-left preserves earlier offsets, as the reference does)."""
    from ..plans.caching import resident

    ranges = resident(remove_ranges)
    offs = resident(docs_with_offsets)
    if ranges is None or offs is None:
        return None
    doc_ids, d_start, d_end = (
        offs[c].to_numpy(np.int64) for c in ("doc_id", "byte_start", "byte_end")
    )
    sep = SEP_BYTES if cfg.with_separators else 0
    empty = (
        np.empty(0, np.int64),
        np.empty(0, np.int64),
        np.empty(0, np.int64),
        np.zeros(1, np.int64),
    )
    if len(ranges) == 0 or len(doc_ids) == 0:
        return empty
    starts = ranges["start"].to_numpy(np.int64)
    ends = ranges["end"].to_numpy(np.int64)
    # docs overlapping range i: byte_start < end_i AND byte_end > start_i
    # (the interval_join filter) — offsets are cumulative, so both bounds
    # come from one searchsorted each
    lo = np.searchsorted(d_end, starts, side="right")
    hi = np.searchsorted(d_start, ends, side="left")
    counts = np.maximum(hi - lo, 0)
    total = int(counts.sum())
    ridx = np.repeat(np.arange(len(starts)), counts)
    base = np.repeat(np.cumsum(counts) - counts, counts)
    didx = (np.arange(total) - base) + np.repeat(lo, counts)
    tb = d_start[didx] + sep  # text_base: skip the separator prefix
    a = np.maximum(starts[ridx], tb) - tb
    b = np.minimum(ends[ridx], d_end[didx]) - tb
    keep = b > a
    didx, a, b = didx[keep], a[keep], b[keep]
    if len(didx) == 0:
        return empty
    order = np.lexsort((b, a, didx))
    didx, a, b = didx[order], a[order], b[order]
    change = np.nonzero(didx[1:] != didx[:-1])[0] + 1
    g_starts = np.concatenate(([0], change))
    goff = np.concatenate((g_starts, [len(didx)])).astype(np.int64)
    return (
        doc_ids[didx[g_starts]].astype(np.int64),
        a.astype(np.int64),
        b.astype(np.int64),
        goff,
    )


def _splice(text: str | bytes, starts, ends) -> bytes:
    """One doc's bytes with the [starts[i], ends[i]) spans deleted. Spans
    come sorted ascending and are cut right-to-left so earlier offsets stay
    valid (finish_dedup_wiki40b.py:66-69)."""
    raw = (
        bytes(text)
        if isinstance(text, (bytes, bytearray))
        else text.encode("utf-8")
    )
    for a, b in zip(starts[::-1], ends[::-1]):
        raw = raw[: int(a)] + raw[int(b) :]
    return raw


def apply_removals(
    docs_with_offsets: DataFrame,
    remove_ranges: DataFrame,
    cfg: ExactSubstrConfig,
) -> DataFrame:
    """documents (+offsets) x remove_ranges -> (doc_id, url, deduped bytes).

    The per-row invariant (BASELINE.json input_hint) is byte-identical
    deduped output per url vs the reference splice semantics; ``deduped``
    is therefore BinaryType (a byte deletion may split a multi-byte UTF-8
    sequence, exactly as the reference's byte-level strike does).

    ``text`` may be a string column (byte-level corpus) or a binary column
    (tokenized mode: the packed-u16 corpus from
    functions.text.tokenized_documents). The reference's splice operates on
    the packed byte file regardless of encoding (finish_single_file.py:
    20-37), so in token mode the spans are byte spans over the packed
    layout (token offsets x2, README.md:125) and a span may legally cut a
    token in half — exactly as the reference's byte-level strike can.
    """
    text_is_binary = isinstance(
        docs_with_offsets.schema["text"].dataType, T.BinaryType
    )
    docs = docs_with_offsets.select(
        "doc_id",
        (
            F.col("url")
            if "url" in docs_with_offsets.columns
            else F.lit(None).cast("string")
        ).alias("url"),
        "text",
    )
    # Driver fast path: when BOTH the remove ranges and the doc offsets
    # are driver-resident (the coalesce / with_offsets driver placements
    # keep them, plans.caching.resident), the whole span
    # assignment — chunk explode, range join, clamp, span groupBy — is two
    # numpy searchsorted calls on the driver. The span arrays ride an
    # executor broadcast into ONE splice pass over every doc (untouched
    # rows pass through byte-unchanged): zero joins, zero exchanges. Work
    # and memory stay bounded by the upstream guards (ranges <= 2^20,
    # docs <= 2^20; ranges are disjoint so overlap pairs <= ranges +
    # docs). Every doc's text crosses the Python boundary once here; the
    # offsets guard bounds how many docs that is. Above either guard one
    # side is not resident and the distributed join plan below runs.
    # Identical output (pytest-pinned).
    fast = _driver_spans(docs_with_offsets, remove_ranges, cfg)
    if fast is not None:
        from ..plans.caching import scoped_broadcast

        # scope-registered: destroyed at cache_scope exit (plans.caching)
        bc = scoped_broadcast(docs_with_offsets.sparkSession.sparkContext, fast)

        def splice_all(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids_, a_, b_, off_ = bc.value
            for pdf in batches:
                out = []
                for doc_id, url, text in zip(
                    pdf["doc_id"], pdf["url"], pdf["text"]
                ):
                    k = int(np.searchsorted(ids_, doc_id))
                    lo = hi = 0
                    if k < len(ids_) and ids_[k] == doc_id:
                        lo, hi = off_[k], off_[k + 1]
                    raw = _splice(text, a_[lo:hi], b_[lo:hi])
                    out.append((int(doc_id), url, raw))
                yield pd.DataFrame(out, columns=["doc_id", "url", "deduped"])

        return docs.mapInPandas(splice_all, STRIKE_SCHEMA)

    # Persist: the spans frame is small (affected docs only) but feeds TWO
    # consumers — the splice join and the untouched anti-join. Beyond the
    # obvious recompute cost (each consumer re-runs the interval join and
    # the whole remove-ranges lineage above it), materializing it once
    # makes the struck/untouched split consistent BY CONSTRUCTION: both
    # branches read the same rows, so the output row count always equals
    # the input doc count.
    from ..plans.caching import scoped_persist

    spans = scoped_persist(
        doc_spans(docs_with_offsets, remove_ranges, cfg)
        .groupBy("doc_id")
        # collect_set: doc_spans runs the interval join without its
        # dropDuplicates exchange; set semantics dedup the multi-chunk
        # artifact here, on the groupBy exchange we pay anyway
        .agg(F.array_sort(F.collect_set(F.struct("a", "b"))).alias("spans"))
    )
    touched = docs.join(spans, "doc_id")

    def splice(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, url, text, spans_ in zip(
                pdf["doc_id"], pdf["url"], pdf["text"], pdf["spans"]
            ):
                starts = [sp["a"] for sp in spans_]
                ends = [sp["b"] for sp in spans_]
                out.append((int(doc_id), url, _splice(text, starts, ends)))
            yield pd.DataFrame(out, columns=["doc_id", "url", "deduped"])

    struck = touched.mapInPandas(splice, STRIKE_SCHEMA)
    untouched = docs.join(spans.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id",
        "url",
        (
            F.col("text") if text_is_binary else F.encode("text", "UTF-8")
        ).alias("deduped"),
    )
    return struck.unionByName(untouched)
