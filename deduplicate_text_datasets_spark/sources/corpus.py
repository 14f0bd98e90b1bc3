"""Virtualized corpus layout: global byte offsets + overlap sharding.

The reference materializes one flat byte file per dataset
(scripts/load_dataset.py:75-92) whose text must fit in RAM
(src/main.rs:31-35). Here the corpus stays a DataFrame; the flat layout is
*derived*: every document knows its global byte range
``[byte_start, byte_end)`` in the (virtual) concatenation

    b"\\xff\\xff" + struct.pack("<I", uid) + text_utf8      per doc

in ``doc_id`` order (separator layout: load_dataset.py:57-61; the 6-byte
prefix rule reappears at finish_dedup_wiki40b.py:157-158).

Sharding reproduces the reference's partitioned suffix-array design
(make_suffix_array.py:44-57): fixed byte-width shards with a trailing
overlap so every owned position's length-L window (and any point query up
to overlap+1 bytes) is resident in exactly one owning shard — the HACKSIZE
idea (make_suffix_array.py:23; main.rs:1208-1216 "As long as HACKSIZE is
longer than the longest potential match, everything will work out").
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import SEP_BYTES

# Docs per offset block. The global running sum is computed hierarchically:
# a per-block window cumsum (parallel across blocks) + a per-block totals
# frame (N / BLOCK_DOCS rows) whose own cumsum runs on one partition — at
# 2^16 docs/block and 16 bytes/row that stays small deep into the trillions
# (10^12 docs => 15M block rows ≈ 240 MB; add another level beyond that).
BLOCK_DOCS = 1 << 16


def with_offsets(docs: DataFrame, with_separators: bool = True) -> DataFrame:
    """Add (doc_len, byte_start, byte_end) global-offset columns.

    Replaces the reference's `.size` cumulative-offset sidecar
    (load_dataset.py:79-92). Scale shape: the cumulative windows run over a
    projected (doc_id, doc_len) frame only — the wide text column never
    rides a window exchange — and the result is joined back on doc_id
    (plain co-partitioned shuffle join, AQE-managed).
    """
    from ..plans.caching import driver_guard, keep_resident, local_frame, probe

    sep = SEP_BYTES if with_separators else 0
    lens = docs.select(
        "doc_id",
        (F.octet_length("text") + F.lit(sep)).cast("long").alias("doc_len"),
    )
    # Size-adaptive: the offsets are one exact integer prefix sum over
    # (doc_id, doc_len). Under the offsets guard it runs on the driver and
    # is broadcast-joined back — the per-block window, block-totals window
    # and broadcast-totals join all collapse into one probe. Above it the
    # hierarchical window path runs (the 10^12-doc design). Identical
    # offsets either way (pytest + gate). The result keeps the offsets
    # frame resident: corpus_total_bytes and the strike fast path read it
    # instead of re-running an agg / join over the cluster.
    pdf = probe("corpus.offsets", lens, driver_guard("offsets"))
    if pdf is not None:
        pdf = pdf.sort_values("doc_id", ignore_index=True)
        dl = pdf["doc_len"].to_numpy(np.int64)
        ends = np.cumsum(dl)
        pdf["byte_start"] = ends - dl
        pdf["byte_end"] = ends
        offs = local_frame(
            docs.sparkSession,
            pdf,
            "doc_id long, doc_len long, byte_start long, byte_end long",
        )
        return keep_resident(docs.join(F.broadcast(offs), "doc_id"), pdf)
    # integer `div`, not floor(double /): double division loses exactness
    # past 2^53 and doc counts are designed for 10^12
    lens = lens.withColumn("_block", F.expr(f"doc_id div {BLOCK_DOCS}"))
    w_in = (
        Window.partitionBy("_block")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lens = lens.withColumn(
        "_local", F.coalesce(F.sum("doc_len").over(w_in), F.lit(0))
    )
    block_totals = lens.groupBy("_block").agg(F.sum("doc_len").alias("_blen"))
    w_b = Window.orderBy("_block").rowsBetween(Window.unboundedPreceding, -1)
    block_totals = block_totals.withColumn(
        "_bstart", F.coalesce(F.sum("_blen").over(w_b), F.lit(0))
    ).select("_block", "_bstart")
    offs = (
        lens.join(F.broadcast(block_totals), "_block")
        .withColumn("byte_start", (F.col("_bstart") + F.col("_local")).cast("long"))
        .withColumn("byte_end", F.col("byte_start") + F.col("doc_len"))
        .select("doc_id", "doc_len", "byte_start", "byte_end")
    )
    return docs.join(offs, "doc_id")


def auto_shard_bytes(
    total_bytes: int,
    parallelism: int,
    waves: int = 3,
    min_bytes: int = 64 * 1024,
    max_bytes: int = 64 * 1024 * 1024,
) -> int:
    """Pick a shard width giving ~``waves`` tasks per core, clamped to
    [64 KiB, 64 MiB]. At petabyte scale the 64 MiB cap dominates (shard
    text + fingerprints ~25 bytes/byte must fit one executor core); at
    test scale the floor bounds overlap overhead (1 KiB overlap / 64 KiB
    = 1.6%) — the round-6 A/B at sf0.1 measured the old 128 KiB floor
    running the fingerprint/SA kernels 12-wide on 32 cores (warm 2.66 s)
    vs 24-wide at 64 KiB (2.29-2.37 s); 32 KiB bought nothing further."""
    ideal = max(1, total_bytes // max(1, parallelism * waves))
    return max(min_bytes, min(max_bytes, ideal))


def corpus_total_bytes(docs_with_offsets: DataFrame) -> int:
    from ..plans.caching import resident

    offs = resident(docs_with_offsets)
    if offs is not None:
        return int(offs["byte_end"].iloc[-1]) if len(offs) else 0
    row = docs_with_offsets.agg(F.max("byte_end").alias("t")).collect()[0]
    return int(row["t"] or 0)


def assign_shards(
    docs_with_offsets: DataFrame, shard_bytes: int, overlap_bytes: int
) -> DataFrame:
    """Explode docs to every shard whose byte window needs them.

    Shard s owns positions [s*S, (s+1)*S) and additionally *reads* the next
    ``overlap_bytes`` (never emits for them) — so a doc with bytes
    [bs, be) must be shipped to shards floor((bs-O)/S) .. floor((be-1)/S).
    Replication overhead ~ overlap/shard_bytes (~0.002% at 64 MiB/1 KiB).
    """
    S, O = shard_bytes, overlap_bytes
    # long `div` keeps shard math exact at petabyte offsets (double-based
    # floor(col/S) loses integer exactness past 2^53 ≈ 9 PB). The possibly
    # negative (byte_start - O) truncates toward zero under div, but the
    # greatest(0, ·) clamp makes floor- and zero-truncation agree here.
    return docs_with_offsets.withColumn(
        "shard_id",
        F.explode(
            F.sequence(
                F.greatest(
                    F.lit(0).cast("long"),
                    F.expr(f"(byte_start - {O}) div {S}"),
                ),
                F.expr(f"(byte_end - 1) div {S}"),
            )
        ),
    )


def doc_payload(uid: int, text: str | bytes, with_separators: bool) -> bytes:
    """One document's bytes in the virtual flat corpus. ``text`` may be a
    string (byte-level corpus, UTF-8) or bytes (tokenized mode: the packed
    little-endian u16 layout from functions.text.tokenize_corpus — the
    reference's --tokenize path, load_dataset.py:63-69). The 6-byte
    separator prefix is byte-identical in both modes (= 3 u16 tokens), so
    offsets stay exact under the token-mode x2 rule (README.md:125)."""
    raw = text if isinstance(text, (bytes, bytearray)) else text.encode("utf-8")
    if not with_separators:
        return bytes(raw)
    return b"\xff\xff" + struct.pack("<I", uid & 0xFFFFFFFF) + bytes(raw)


def assemble_shard_buffer(
    pdf: pd.DataFrame,
    shard_bytes: int,
    overlap_bytes: int,
    total: int,
    with_separators: bool,
) -> tuple[int, np.ndarray]:
    """Build one shard's contiguous byte buffer [lo, hi) from its doc rows.

    Returns (lo, uint8 buffer). hi = min((s+1)*S + O, total). The kernel
    checks full coverage (per-partition invariant counter — the analogue of
    the reference's output-size verification, make_suffix_array.py:59-86).
    """
    s = int(pdf["shard_id"].iloc[0])
    lo = s * shard_bytes
    hi = min((s + 1) * shard_bytes + overlap_bytes, total)
    buf = np.zeros(hi - lo, dtype=np.uint8)
    covered = 0
    for doc_id, byte_start, text in zip(
        pdf["doc_id"].to_numpy(), pdf["byte_start"].to_numpy(), pdf["text"]
    ):
        payload = doc_payload(int(doc_id), text, with_separators)
        ds, de = int(byte_start), int(byte_start) + len(payload)
        a, b = max(ds, lo), min(de, hi)
        if b <= a:
            continue
        buf[a - lo : b - lo] = np.frombuffer(payload, dtype=np.uint8)[a - ds : b - ds]
        covered += b - a
    if covered != hi - lo:
        raise RuntimeError(
            f"shard {s}: buffer coverage {covered} != {hi - lo} "
            "(missing docs — offsets/sharding invariant violated)"
        )
    return lo, buf
