"""ExactSubstr operators: self-similar, across-similar, count-occurrences,
find-training-data.

Reference (src/main.rs) builds one global suffix array and scans it in
sorted order so equal length-L windows become *adjacent runs*
(cmd_self_similar main.rs:807-960). The global SA is an artifact of
single-machine design — at 10^12 docs it is petabytes streamed through one
node (main.rs:817-826). The Spark-native equivalent of "group positions
whose length-L windows are identical" is a **clustering on a 128-bit window
fingerprint**:

  per shard (Arrow kernel, no per-row Python):
      rolling polynomial hash of every length-L window     O(n) vectorized
      and of every k-gram, sliding argmin = minimizers     O(n) vectorized
  global:
      pass 1: count minimizer keys                         ~4% of positions
      pass 2: repartition(h1, h2) of the windows whose     24 B/candidate
      minimizer key repeats + sorted run-length pass       position

Equality of fingerprints == equality of windows up to hash collisions;
with two independent 64-bit rolling hashes the collision probability over
P positions is ~P^2/2^128 (< 1e-10 even at P = 10^14). The reference
accepts an analogous approximation class via HACKSIZE (main.rs:1208-1216).

Point queries (count-occurrences, find-training-data) keep a real per-shard
suffix array — the distributed "global SA" is the union of shard SAs plus
the overlap ownership rule (SURVEY.md §4.3). One per-shard lookup per query
kind (_shard_counts, _shard_positions, _shard_match_lens) serves both the
live operators here, which build each shard's SA in the same task
(_shard_sa, the only SA builder), and the prebuilt index in sa_index.py.
Each lookup answers a whole query batch with one lockstep descent of the
shard's SA (_prefix_ranges for counts and positions, _descend_match_lens
for match lengths): every probe of every query narrows its SA range in the
same vectorized bisection steps, so a call pays no per-query Python
search.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import ROLLHASH_X1, ROLLHASH_X2, ExactSubstrConfig
from ..sources.corpus import (
    assemble_shard_buffer,
    assign_shards,
    corpus_total_bytes,
    with_offsets,
)

_U64 = np.uint64
_MIX = np.uint64(0xFF51AFD7ED558CCD)


def _mix64(h: np.ndarray) -> np.ndarray:
    """Bijective finalizer (splitmix64-style): preserves equality classes,
    spreads low bits so the shuffle hash-partitions evenly."""
    h = h ^ (h >> np.uint64(33))
    h = h * _MIX
    h = h ^ (h >> np.uint64(29))
    return h


# Per-worker cache of x^k / x^-k power tables (wraps mod 2^64). The
# fingerprint kernel is memory-bandwidth-bound at high core counts
# (measured: the limiting resource of the 8->32 scaling leg), so every
# avoided array pass is throughput: powers depend only on (x, n) and a
# worker processes many shards of the same size — compute once, slice.
_POW_CACHE: dict[tuple[int, bool], np.ndarray] = {}


def _powers(x: int, n: int, inverse: bool) -> np.ndarray:
    key = (x, inverse)
    cur = _POW_CACHE.get(key)
    if cur is None or len(cur) < n:
        size = max(n, 2 * len(cur) if cur is not None else n)
        base = pow(x, -1, 1 << 64) if inverse else x
        arr = np.full(size, _U64(base), dtype=_U64)
        arr[0] = 1
        np.cumprod(arr, out=arr)
        _POW_CACHE[key] = arr
        cur = arr
    return cur[:n]


#: cache block for window_hashes: per-iteration working set is ~3 arrays
#: of block u64 (0.75 MB at 32K) — sized to sit in per-core L2 so the
#: post-cumsum passes re-read cache, not DRAM. Paired A/B on this host
#: (each worker interleaving both variants, drift-immune): 1.30x at 8
#: workers, 1.32-1.34x at 32 — largest exactly in the wide memory-bound
#: regime the 8->32 scaling leg measures.
_FP_BLOCK = 1 << 15

_M64 = (1 << 64) - 1


def window_hashes(
    buf: np.ndarray, length: int, x: int, block: int | None = None
) -> np.ndarray:
    """Polynomial rolling hash mod 2^64 of every length-L window, O(n).

    h[i] = sum_{j=0..L-1} buf[i+j] * x^(L-1-j)  (mod 2^64)

    Computed via the prefix-sum identity with x invertible (x odd):
      c[k]   = buf[k] * x^(-k)
      h[i]   = (sum_{k=i}^{i+L-1} c[k]) * x^(i+L-1)
    numpy uint64 arithmetic wraps mod 2^64 exactly (C semantics).

    Cache-blocked: power tables are one BLOCK long — position k's factor
    x^(-k) = x^(-s) * x^(-(k-s)) splits into a per-block python-int scalar
    (exact mod 2^64) times the small cached table, so the big n-length
    power tables never stream from DRAM, and every pass after the (carry-
    chained) cumsum runs block-wise over L2-resident scratch. The result
    is bit-identical to the unblocked formulation for any block size
    (multiplication mod 2^64 is associative; tested at block=37/n/default
    in test_suffix).
    """
    n = len(buf)
    m = n - length + 1
    if m <= 0:
        return np.empty(0, dtype=_U64)
    B = block or _FP_BLOCK
    xpow_b = _powers(x, min(B, n), inverse=False)
    xipow_b = _powers(x, min(B, n), inverse=True)
    xinv = pow(x, -1, 1 << 64)
    xinv_step = pow(xinv, B, 1 << 64)
    x_step = pow(x, B, 1 << 64)
    p = np.empty(n + 1, dtype=_U64)
    p[0] = 0
    scale = 1  # x^(-s) as a python int (exact, warning-free)
    carry = _U64(0)
    for s in range(0, n, B):
        e = min(s + B, n)
        seg = p[s + 1 : e + 1]
        np.multiply(buf[s:e], xipow_b[: e - s], out=seg, casting="unsafe")
        if scale != 1:
            np.multiply(seg, _U64(scale), out=seg)
        np.cumsum(seg, out=seg)
        seg += carry
        carry = seg[-1]
        scale = (scale * xinv_step) & _M64
    out = np.empty(m, dtype=_U64)
    t = np.empty(min(B, m), dtype=_U64)
    scale = pow(x, length - 1, 1 << 64)  # x^(s+L-1)
    for s in range(0, m, B):
        e = min(s + B, m)
        o = out[s:e]
        tt = t[: e - s]
        np.subtract(p[s + length : e + length], p[s:e], out=o)
        np.multiply(o, xpow_b[: e - s], out=o)
        np.multiply(o, _U64(scale), out=o)
        scale = (scale * x_step) & _M64
        # _mix64 in place (same bijective finalizer)
        np.right_shift(o, np.uint64(33), out=tt)
        np.bitwise_xor(o, tt, out=o)
        np.multiply(o, _MIX, out=o)
        np.right_shift(o, np.uint64(29), out=tt)
        np.bitwise_xor(o, tt, out=o)
    return out


#: windows per sliding_argmin chunk: about ten scratch arrays of this many
#: elements, a few MB, whatever the shard width
_ARGMIN_CHUNK = 1 << 16


def sliding_argmin(a: np.ndarray, w: int) -> np.ndarray:
    """Index of the leftmost minimum of every length-``w`` window of the
    integer array ``a`` (``len(a) - w + 1`` windows), in O(n).

    van Herk / Gil-Werman: cut ``a`` into blocks of w. A window starting
    inside a block is the block's suffix from the window start plus the
    next block's prefix up to the window end, so its minimum is the
    smaller of one suffix minimum and one prefix minimum. Each minimum
    carries its leftmost argmin; on a tie the suffix side, which lies to
    the left, wins. Runs in chunks of windows so the scratch arrays stay
    cache-sized whatever the length of ``a``.
    """
    n = len(a)
    m = n - w + 1
    if m <= 0:
        return np.empty(0, dtype=np.int64)
    out = np.empty(m, dtype=np.int64)
    top = np.iinfo(a.dtype).max
    col = np.arange(w, dtype=np.int64)
    chunk = max(_ARGMIN_CHUNK, w)
    for s in range(0, m, chunk):
        c = min(chunk, m - s)  # windows s .. s+c-1 read a[s : s+c+w-1]
        nb = -(-(c + w - 1) // w)
        blk = np.full(nb * w, top, dtype=a.dtype)
        blk[: c + w - 1] = a[s : s + c + w - 1]
        blk = blk.reshape(nb, w)
        base = (np.arange(nb, dtype=np.int64) * w)[:, None]
        # prefix minima: the leftmost argmin moves only on a strict drop
        pre = np.minimum.accumulate(blk, axis=1)
        drop = np.ones(blk.shape, dtype=bool)
        drop[:, 1:] = blk[:, 1:] < pre[:, :-1]
        pre_i = np.maximum.accumulate(np.where(drop, col, 0), axis=1) + base
        # suffix minima: ties go left, so the argmin moves on <=
        suf = np.minimum.accumulate(blk[:, ::-1], axis=1)[:, ::-1]
        take = np.ones(blk.shape, dtype=bool)
        take[:, :-1] = blk[:, :-1] <= suf[:, 1:]
        suf_i = np.minimum.accumulate(
            np.where(take, col, w)[:, ::-1], axis=1
        )[:, ::-1] + base
        left = suf.ravel()[:c] <= pre.ravel()[w - 1 : w - 1 + c]
        out[s : s + c] = s + np.where(
            left, suf_i.ravel()[:c], pre_i.ravel()[w - 1 : w - 1 + c]
        )
    return out


def minimizer_width(length: int) -> int:
    """k-grams per window minimizer, w = L // 2, so k = L - w + 1: the
    density 2/(w+1) of selected positions against a k long enough that
    unrelated k-grams rarely share a key."""
    return max(1, length // 2)


def _window_minimizers(
    buf: np.ndarray, length: int, a: int, b: int
) -> tuple[np.ndarray, np.ndarray]:
    """Minimizers of the length-L windows starting at buf[a:b].

    A window's minimizer is the leftmost lowest hash among its w
    overlapping k-grams, so identical windows choose the same k-gram at
    the same offset. Returns (keys, run): the k-gram hash at each distinct
    minimizer position in order (one key per run of windows that share a
    position, since argmins never move left), and for each window the
    index of its run in ``keys``. Both ExactSubstr passes call this, so
    they key every window alike.
    """
    w = minimizer_width(length)
    kh = window_hashes(buf[a : b + length - 1], length - w + 1, ROLLHASH_X1)
    idx = sliding_argmin(kh, w)
    new = np.empty(len(idx), dtype=bool)
    new[:1] = True
    np.not_equal(idx[1:], idx[:-1], out=new[1:])
    return kh[idx[new]].view(np.int64), np.cumsum(new) - 1


def _owned_windows(shard_pdf: pd.DataFrame, cfg: ExactSubstrConfig, total: int):
    """One shard -> (own_lo, buf, a, b): the shard buffer and the slice
    buf[a:b] of window starts it owns. Owned = [s*S, min((s+1)*S,
    total - L + 1)); the trailing overlap is read, never emitted
    (ownership rule, the analogue of the merge-time overlap skip,
    main.rs:1262-1278)."""
    s = int(shard_pdf["shard_id"].iloc[0])
    lo, buf = assemble_shard_buffer(
        shard_pdf, cfg.shard_bytes, cfg.overlap_bytes, total, cfg.with_separators
    )
    own_lo = s * cfg.shard_bytes
    own_hi = min((s + 1) * cfg.shard_bytes, total - cfg.length_threshold + 1)
    return own_lo, buf, own_lo - lo, max(own_hi, own_lo) - lo


def _fingerprint_kernel(
    shard_pdf: pd.DataFrame,
    cfg: ExactSubstrConfig,
    total: int,
    dup_keys_bc=None,
) -> pd.DataFrame:
    """One shard -> (h1, h2, pos) for every owned position whose length-L
    window is fully inside the corpus.

    ``dup_keys_bc`` (optional broadcast membership sketch of minimizer
    keys: a SORTED int64 array or a sketch.BloomSketch) is pass 2's
    map-side filter: only windows whose minimizer key hits the sketch are
    emitted, so the exchange ships candidate positions instead of every
    position."""
    L = cfg.length_threshold
    own_lo, buf, a, b = _owned_windows(shard_pdf, cfg, total)
    keep = slice(None)
    if dup_keys_bc is not None:
        from .sketch import sketch_contains

        keys, run = _window_minimizers(buf, L, a, b)
        keep = sketch_contains(dup_keys_bc.value, keys)[run]
    return pd.DataFrame(
        {
            "h1": window_hashes(buf, L, ROLLHASH_X1)[a:b].view(np.int64)[keep],
            "h2": window_hashes(buf, L, ROLLHASH_X2)[a:b].view(np.int64)[keep],
            "pos": np.arange(own_lo, own_lo + b - a, dtype=np.int64)[keep],
        }
    )


def _key_kernel(
    shard_pdf: pd.DataFrame, cfg: ExactSubstrConfig, total: int
) -> pd.DataFrame:
    """Pass 1: one shard -> the minimizer key of every distinct minimizer
    position its owned windows select, about 2/(w+1) of positions."""
    _, buf, a, b = _owned_windows(shard_pdf, cfg, total)
    return pd.DataFrame({"k": _window_minimizers(buf, cfg.length_threshold, a, b)[0]})


FINGERPRINT_SCHEMA = T.StructType(
    [
        T.StructField("h1", T.LongType(), False),
        T.StructField("h2", T.LongType(), False),
        T.StructField("pos", T.LongType(), False),
    ]
)
WINDOW_KEY_SCHEMA = T.StructType([T.StructField("k", T.LongType(), False)])

# Kernel RETURN batching: classic applyInPandas serializes one Arrow batch
# per group, so a production 64 MiB shard's fingerprint frame (~64Mi
# positions x 24 B) forces a ~1.5 GiB direct-memory allocation in the JVM
# receiver — measured OOM at the stress scale (netty cap ~6 GiB, 32
# concurrent tasks). The position-emitting kernels therefore use the
# Spark 4.1 ITERATOR form of applyInPandas and yield bounded slices:
# 2^21 rows x 24 B ≈ 48 MiB per batch, constant in shard width.
_EMIT_ROWS = 1 << 21


def _emit_chunks(out: pd.DataFrame, rows: int | None = None):
    rows = rows or _EMIT_ROWS
    if len(out) <= rows:
        yield out
        return
    for lo in range(0, len(out), rows):
        yield out.iloc[lo : lo + rows]


def _offsets_and_total(
    docs: DataFrame, cfg: ExactSubstrConfig, total: int | None
) -> tuple[DataFrame, int]:
    """``docs`` with offsets, and the corpus size. Offsets are added (and
    scope-persisted: they feed both the total-bytes action and the shard
    layout) only when ``docs`` does not already carry them."""
    if "byte_start" not in docs.columns:
        from ..plans.caching import scoped_persist

        docs = scoped_persist(with_offsets(docs, cfg.with_separators))
    if total is None:
        total = corpus_total_bytes(docs)
    return docs, total


def _map_shards(layout: DataFrame, fn, schema: T.StructType, emit_rows=None):
    """``fn(shard_pdf) -> pdf`` over every shard of a :func:`shard_layout`
    frame. Shards stream IN one complete group at a time (the kernels need
    the whole shard buffer) and results stream OUT in bounded slices (see
    _EMIT_ROWS)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for g in _iter_shard_groups(batches):
            yield from _emit_chunks(fn(g), emit_rows)

    return layout.mapInPandas(kernel, schema)


def window_fingerprints(
    docs: DataFrame,
    cfg: ExactSubstrConfig,
    total: int | None = None,
    dup_keys_bc=None,
    emit_rows: int | None = None,
) -> DataFrame:
    """documents -> (h1, h2, pos) fingerprint frame (one row per corpus
    position — or per candidate position when ``dup_keys_bc`` is set).
    ``docs`` may already carry offsets; if not they are added."""
    docs, total = _offsets_and_total(docs, cfg, total)
    return shard_fingerprints(
        shard_layout(docs, cfg, total), cfg, total, dup_keys_bc, emit_rows
    )


def shard_fingerprints(
    layout: DataFrame,
    cfg: ExactSubstrConfig,
    total: int,
    dup_keys_bc=None,
    emit_rows: int | None = None,
) -> DataFrame:
    """:func:`window_fingerprints` over an existing :func:`shard_layout`
    frame, so a caller that also runs pass 1 on it lays the shards out
    once."""
    return _map_shards(
        layout,
        lambda g: _fingerprint_kernel(g, cfg, total, dup_keys_bc),
        FINGERPRINT_SCHEMA,
        emit_rows,
    )


def window_keys(
    docs: DataFrame,
    cfg: ExactSubstrConfig,
    total: int | None = None,
    emit_rows: int | None = None,
) -> DataFrame:
    """documents -> (k) minimizer-key frame (pass 1): one row per distinct
    minimizer position per shard."""
    docs, total = _offsets_and_total(docs, cfg, total)
    return _map_shards(
        shard_layout(docs, cfg, total),
        lambda g: _key_kernel(g, cfg, total),
        WINDOW_KEY_SCHEMA,
        emit_rows,
    )


def shard_layout(
    docs_with_offsets: DataFrame, cfg: ExactSubstrConfig, total: int
) -> DataFrame:
    """Lay the exploded shard frame (shard_id, doc_id, byte_start, text)
    out ~one shard per task, for per-shard iterator kernels.

    groupBy("shard_id").applyInPandas hash-partitions the shard keys, and
    with FEW shards — a mid-size corpus at the production 64 MiB width,
    e.g. the stress runs — distinct ids collide into one reducer
    (measured at the 30k-doc profile: ONE task computed both 64 MiB
    kernels serially and wrote the whole 2.36 GB fingerprint exchange).
    Range-partitioning the dense integer shard_id into min(#shards,
    shuffle.partitions) partitions gives ~one shard per task instead; at
    web scale (#shards >> #partitions) both layouts pack many shards per
    task and the exchanged bytes are identical, so this is never worse.
    Its cost is the range partitioner's sampling job plus the text
    exchange; a caller running two kernels persists the layout once.
    Rows are sorted by (shard_id, byte_start) within each partition so a
    mapInPandas kernel can stream one complete shard at a time (see
    _iter_shard_groups) holding one shard's rows in memory, exactly like
    the groupBy form did.
    """
    shards = assign_shards(
        docs_with_offsets, cfg.shard_bytes, cfg.overlap_bytes
    ).select("shard_id", "doc_id", "byte_start", "text")
    n_shards = max(1, -(-total // cfg.shard_bytes))
    try:
        default_parts = int(
            shards.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):
        default_parts = 200
    n_parts = max(1, min(n_shards, default_parts))
    return shards.repartitionByRange(n_parts, "shard_id").sortWithinPartitions(
        "shard_id", "byte_start"
    )


def _iter_shard_groups(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """One pdf per shard_id from a stream of Arrow batches that is sorted
    by shard_id within the partition. Holds at most one shard's rows —
    the same peak memory as the applyInPandas group form."""
    pend: list[pd.DataFrame] = []
    cur: int | None = None
    for pdf in batches:
        if not len(pdf):
            continue
        sids = pdf["shard_id"].to_numpy()
        cut = np.nonzero(sids[1:] != sids[:-1])[0] + 1
        edges = [0, *cut.tolist(), len(pdf)]
        for i in range(len(edges) - 1):
            seg = pdf.iloc[edges[i] : edges[i + 1]]
            sid = int(sids[edges[i]])
            if cur is None:
                cur = sid
            if sid != cur:
                yield pd.concat(pend, ignore_index=True)
                pend, cur = [], sid
            pend.append(seg)
    if pend:
        yield pd.concat(pend, ignore_index=True)


DUPLICATES_SCHEMA = T.StructType(
    [
        T.StructField("pos", T.LongType(), False),
        T.StructField("cluster_id", T.LongType(), False),
        T.StructField("cluster_size", T.LongType(), False),
    ]
)


def _dup_group_rows(pdf: pd.DataFrame, min_count: int) -> pd.DataFrame:
    """Vectorized cluster pass over a frame of COMPLETE (h1, h2) groups
    sorted by (h1, h2, pos): change-point detection + repeat, no hashing.
    pos is ascending within each group, so pos[group_start] IS the min
    member = cluster_id."""
    h1 = pdf["h1"].to_numpy()
    h2 = pdf["h2"].to_numpy()
    pos = pdf["pos"].to_numpy()
    change = np.nonzero((h1[1:] != h1[:-1]) | (h2[1:] != h2[:-1]))[0] + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [len(pos)]))
    sizes = ends - starts
    keep = np.repeat(sizes >= min_count, sizes)
    return pd.DataFrame(
        {
            "pos": pos[keep],
            "cluster_id": np.repeat(pos[starts], sizes)[keep],
            "cluster_size": np.repeat(sizes, sizes)[keep].astype(np.int64),
        }
    )


def _one_group_rows(segments: list[np.ndarray], min_count: int):
    """Duplicate rows of ONE complete (h1, h2) group from its ascending pos
    segments (the ``_dup_group_rows`` result for a single run)."""
    pos = np.concatenate(segments)
    n = len(pos)
    if n >= min_count:
        yield from _emit_chunks(
            pd.DataFrame(
                {
                    "pos": pos,
                    "cluster_id": np.full(n, pos[0], np.int64),
                    "cluster_size": np.full(n, n, np.int64),
                }
            )
        )


def find_duplicates_mappass(
    fingerprints: DataFrame, cfg: ExactSubstrConfig
) -> DataFrame:
    """Self-similar (cmd_self_similar, main.rs:807-960): group positions by
    window fingerprint; clusters of size >= 2 (and > frequency_threshold,
    main.rs:914) are duplicates.

    repartition(h1, h2) -> sortWithinPartitions(h1, h2, pos) -> ONE
    vectorized Arrow pass per partition. Every (h1, h2) group is
    contiguous in its sorted partition, so cluster_size is a run length
    and cluster_id is the run head — no hash aggregation, no join-back,
    and the fingerprint frame has exactly ONE consumer (no persist, no
    second kernel run). Exchange: 24 B per input row — every position
    for a plain window_fingerprints frame, only the candidate positions
    when self_similar feeds it its pass-2 frame.

    Returns duplicates(pos, cluster_id, cluster_size), cluster_id = min
    member position (deterministic; reference numbering is order-dependent
    so we fix min-member, SURVEY.md §7).

    Memory: the kernel buffers at most one straddling group between Arrow
    batches, as its int64 positions only (60k-dup C4 boilerplate window
    ~= 0.5 MB; a pathological 10^8-member group ~= 0.8 GB, bounded by the
    hottest single window's dup count).
    """
    min_count = max(2, cfg.frequency_threshold + 1)
    clustered = fingerprints.repartition("h1", "h2").sortWithinPartitions(
        "h1", "h2", "pos"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the trailing group straddling Arrow batches: its rows share
        # ``key``, so only their pos segments are carried
        pend: list[np.ndarray] = []
        key: tuple[int, int] | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            h1 = pdf["h1"].to_numpy()
            h2 = pdf["h2"].to_numpy()
            pos = pdf["pos"].to_numpy()
            start = 0
            if pend:
                if (int(h1[0]), int(h2[0])) == key:
                    brk = np.nonzero((h1 != key[0]) | (h2 != key[1]))[0]
                    start = int(brk[0]) if len(brk) else len(pdf)
                    pend.append(pos[:start].copy())
                if start == len(pdf):
                    continue  # the whole batch extends the pending group
                yield from _one_group_rows(pend, min_count)
                pend = []
            brk = np.nonzero((h1 != h1[-1]) | (h2 != h2[-1]))[0]
            cut = int(brk[-1]) + 1 if len(brk) else 0
            cut = max(cut, start)  # rows [cut:) are the batch's last group
            if cut > start:
                out = _dup_group_rows(pdf.iloc[start:cut], min_count)
                if len(out):
                    yield from _emit_chunks(out)
            pend = [pos[cut:].copy()]
            key = (int(h1[-1]), int(h2[-1]))
        if pend:
            yield from _one_group_rows(pend, min_count)

    return clustered.mapInPandas(kernel, DUPLICATES_SCHEMA)


#: largest minimizer-key set broadcast as an exact sorted array (128 MB);
#: above it the set becomes a Bloom sketch
SKETCH_MAX_KEYS = 1 << 24
#: size bound of the Bloom sketch's broadcast bitmap: about 53M keys at
#: 10 bits per key and under 1% false positives
BLOOM_MAX_BYTES = 64 << 20


def _key_sketch_bc(dup_keys: DataFrame, max_keys: int):
    """Key frame -> broadcast membership sketch.

    An exact sorted-int64 set while it fits ``max_keys``, a Bloom filter
    above it: Bloom false positives only ADD candidate positions
    (discarded by the exact post-shuffle (h1, h2) grouping), false
    negatives are impossible, so recall is exact at ANY key count with a
    bounded broadcast (BLOOM_MAX_BYTES).
    """
    from ..plans.caching import probe, scoped_broadcast, scoped_persist
    from .sketch import build_bloom_sketch

    sc = dup_keys.sparkSession.sparkContext
    # the key frame feeds up to three jobs on the Bloom path (guard probe,
    # count, slice build) — persist it once, scope-reclaimed
    dup_keys = scoped_persist(dup_keys)
    key_pdf = probe("suffix.key_sketch", dup_keys, max_keys, persist=False)
    if key_pdf is not None:
        return scoped_broadcast(sc, np.sort(key_pdf["k"].to_numpy(np.int64)))
    n = dup_keys.count()
    return scoped_broadcast(
        sc, build_bloom_sketch(dup_keys, n, max_bytes=BLOOM_MAX_BYTES)
    )


def shard_key_sketch(
    layout: DataFrame,
    cfg: ExactSubstrConfig,
    total: int,
    min_count: int,
    max_keys: int,
):
    """Pass 1 over a scope-persisted :func:`shard_layout` frame: the
    minimizer keys its shards select at least ``min_count`` times, as a
    broadcast membership sketch (:func:`_key_sketch_bc`, exact set up to
    ``max_keys``, Bloom above). Each distinct minimizer position of a
    shard counts once, so ``min_count=1`` keeps every key of the corpus."""
    dup_keys = (
        _map_shards(layout, lambda g: _key_kernel(g, cfg, total), WINDOW_KEY_SCHEMA)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("k")
    )
    return _key_sketch_bc(dup_keys, max_keys)


def self_similar(
    docs: DataFrame,
    cfg: ExactSubstrConfig,
    total: int | None = None,
    prefilter_max_keys: int = SKETCH_MAX_KEYS,
) -> DataFrame:
    """documents -> duplicates(pos, cluster_id, cluster_size).

    Two passes keyed by window minimizers (Schleimer, Wilkerson and
    Aiken, *Winnowing*, SIGMOD 2003) over one scope-persisted
    shard_layout, so the range sampling and the text exchange run once:

      pass 1  shard_key_sketch: one minimizer key per distinct
              minimizer position per shard (about 2/(w+1) of positions,
              w = L // 2) -> groupBy(k), keep count >=
              max(2, frequency_threshold+1) -> broadcast the keys (an
              exact sorted set up to ``prefilter_max_keys``, Bloom above).
      pass 2  the fingerprint kernel emits (h1, h2, pos) only for windows
              whose minimizer key is in the set; find_duplicates_mappass
              then clusters them exactly as it would the full frame.

    Recall is exact: identical windows choose the same minimizer k-gram
    at the same offset, so a window occurring n times selects its
    minimizer at n distinct positions and its key reaches the count.
    Hash collisions, and positions counted twice at a shard seam, only
    add candidates, which the exact (h1, h2) clustering drops. Measured
    on the dedup-distributed benchmark corpora (L = 100): pass 2 keeps
    about a third of positions where 0.31-0.34 are true duplicates, and
    pass 1 selects 4%, so the exchange is about 9 B per position instead
    of 24.
    """
    from ..plans.caching import scoped_persist

    docs, total = _offsets_and_total(docs, cfg, total)
    layout = scoped_persist(shard_layout(docs, cfg, total))
    min_count = max(2, cfg.frequency_threshold + 1)
    dup_keys_bc = shard_key_sketch(layout, cfg, total, min_count, prefilter_max_keys)
    fp = shard_fingerprints(layout, cfg, total, dup_keys_bc)
    return find_duplicates_mappass(fp, cfg)


CLUSTER_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("cluster_id", T.LongType(), False),
        T.StructField("cluster_size", T.LongType(), False),
        T.StructField("sample", T.BinaryType(), False),
    ]
)


def cluster_samples(
    docs_with_offsets: DataFrame,
    duplicates: DataFrame,
    cfg: ExactSubstrConfig,
) -> DataFrame:
    """``--only_save_one`` parity (main.rs:130, 915-919): instead of every
    duplicate position, emit the matched length-L byte sequence once per
    cluster — (cluster_id, cluster_size, sample).

    The sample is read at the cluster head (min member position; the
    reference dumps the run's shared prefix, which is identical at every
    member). Extraction is an interval join of the head windows against
    the doc offsets, then one byte-assembly kernel per partition over the
    join rows sorted by cluster, not one pandas call per cluster (about
    2.5 ms each, and AQE may coalesce every cluster into one task) — the
    window may straddle documents (or contain separator bytes), exactly
    like the reference's raw corpus reads.
    """
    from .intervals import interval_join

    L = cfg.length_threshold
    heads = duplicates.groupBy("cluster_id").agg(
        F.max("cluster_size").alias("cluster_size")
    )
    ranges = heads.select(
        F.col("cluster_id").alias("start"),
        (F.col("cluster_id") + L).alias("end"),
        "cluster_size",
    )
    hit = interval_join(ranges, docs_with_offsets)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # batches are sorted by start within the partition; the last
        # cluster of a batch may continue in the next, so it is carried
        pend: list[pd.DataFrame] = []
        for pdf in batches:
            if not len(pdf):
                continue
            s = pdf["start"].to_numpy()
            tail = int(np.flatnonzero(s != s[-1])[-1]) + 1 if s[0] != s[-1] else 0
            if tail:
                yield _assemble_samples(
                    pd.concat([*pend, pdf.iloc[:tail]]), cfg.with_separators
                )
                pend = []
            pend.append(pdf.iloc[tail:])
        if pend:
            yield _assemble_samples(pd.concat(pend), cfg.with_separators)

    return (
        hit.select(
            "start", "end", "cluster_size", "doc_id", "byte_start", "text"
        )
        .repartition("start")
        .sortWithinPartitions("start")
        .mapInPandas(kernel, CLUSTER_SAMPLE_SCHEMA)
    )


def _assemble_samples(pdf: pd.DataFrame, with_separators: bool) -> pd.DataFrame:
    """Rows of whole clusters, sorted by start -> one (cluster_id,
    cluster_size, sample) row per cluster: each doc row copies its overlap
    with [start, end) into the cluster's slice of one flat buffer."""
    from ..sources.corpus import doc_payload

    start = pdf["start"].to_numpy(np.int64)
    end = pdf["end"].to_numpy(np.int64)
    head = np.flatnonzero(np.r_[True, start[1:] != start[:-1]])
    width = end[head] - start[head]
    base = np.cumsum(width) - width
    row_base = np.repeat(base, np.diff(np.r_[head, len(start)])) - start
    out = bytearray(int(width.sum()))
    for i, (doc_id, byte_start, text) in enumerate(
        zip(pdf["doc_id"], pdf["byte_start"], pdf["text"])
    ):
        payload = doc_payload(int(doc_id), text, with_separators)
        ds = int(byte_start)
        a, b = max(ds, int(start[i])), min(ds + len(payload), int(end[i]))
        if b > a:
            out[row_base[i] + a : row_base[i] + b] = payload[a - ds : b - ds]
    return pd.DataFrame(
        {
            "cluster_id": start[head],
            "cluster_size": pdf["cluster_size"].to_numpy(np.int64)[head],
            "sample": [bytes(out[o : o + w]) for o, w in zip(base, width)],
        }
    )


def duplicate_window_census(
    docs: DataFrame, cfg: ExactSubstrConfig, k: int = 20
) -> DataFrame:
    """Most-duplicated-substrings census: the paper's headline analysis
    table (Lee et al. 2022 §6; the reference produces it by post-processing
    cmd_self_similar + cmd_collect dumps) — the k length-L windows repeated
    most often across the corpus, with their text.

    documents -> (snippet string, cnt, first_pos), ordered top-k by
    (cnt DESC, first_pos ASC) — a total order (first_pos = the cluster's
    min position, unique per cluster), so the selected set is deterministic
    and oracle-comparable.

    Plan (100-TB read): self_similar's cluster frame -> per-cluster size
    (groupBy on the already dup-density-sized frame) -> global top-k via
    TakeOrderedAndProject (k rows cross the final exchange, never the
    cluster frame) -> snippet extraction ONLY for those k heads through
    cluster_samples' interval join (windows may straddle documents, exactly
    like the reference's raw corpus reads). Corpus text never rides a
    shuffle; the census adds one tiny top-k reduction on top of
    self_similar's single fingerprint exchange.

    Note: `cnt` counts window OCCURRENCES (overlapping matches included),
    matching the oracle's COUNT(*) per distinct window, not distinct docs.
    """
    from ..plans.caching import scoped_persist

    if "byte_start" not in docs.columns:
        docs = scoped_persist(with_offsets(docs, cfg.with_separators))
    dups = self_similar(docs, cfg)
    heads = dups.groupBy("cluster_id").agg(
        F.max("cluster_size").alias("cluster_size")
    )
    top = heads.orderBy(
        F.desc("cluster_size"), F.asc("cluster_id")
    ).limit(k)
    # cluster_samples only reads (cluster_id, cluster_size): handing it the
    # k-row top frame extracts exactly k snippets — no semi-join back into
    # the position frame needed.
    samples = cluster_samples(docs, top, cfg)
    return samples.select(
        # byte-window decode; for multi-byte UTF-8 corpora a window can cut
        # a code point (reference byte semantics, finish_dedup's splice
        # does the same) — the SQL-oracle comparison assumes 1-byte chars
        F.decode(F.col("sample"), "UTF-8").alias("snippet"),
        F.col("cluster_size").alias("cnt"),
        F.col("cluster_id").alias("first_pos"),
    )


def across_similar(
    fingerprints_a: DataFrame, fingerprints_b: DataFrame, cfg: ExactSubstrConfig
) -> tuple[DataFrame, DataFrame]:
    """cmd_across_similar (main.rs:962-1158): emit positions of A whose
    window also occurs in B, and vice versa — i.e. two left-semi joins on
    the window key. The reference's merge-interleave drain of equal runs on
    both sides *is* a sort-merge semi-join; Catalyst picks SMJ/BHJ and AQE
    handles skewed keys."""
    keys_a = fingerprints_a.select("h1", "h2").distinct()
    keys_b = fingerprints_b.select("h1", "h2").distinct()
    dups_a = fingerprints_a.join(keys_b, ["h1", "h2"], "left_semi").select("pos")
    dups_b = fingerprints_b.join(keys_a, ["h1", "h2"], "left_semi").select("pos")
    return dups_a, dups_b


# ---------------------------------------------------------------------------
# Per-shard suffix arrays: count-occurrences / find-training-data
# ---------------------------------------------------------------------------


try:  # linear-time SA-IS when the (public, pip) binding is present
    from pydivsufsort import divsufsort as _divsufsort
except ImportError:  # pragma: no cover - env without pydivsufsort
    _divsufsort = None


def suffix_array(buf: np.ndarray) -> np.ndarray:
    """Per-shard suffix sort. Oracle semantics:
    sorted(S[i:] for i in range(len(S))) (src/main.rs:23-24).

    Replaces the reference's SA-IS kernel (src/table.rs:400-586) — per
    shard, inside an Arrow kernel, never materialized globally. Uses
    libdivsufsort (linear-ish time) when ``pydivsufsort`` is importable;
    the fallback is a bucket-refined prefix-doubling sort:

    * round 0 ranks every suffix by its first 4 bytes in one radix argsort
      (16-bit sentinel lanes: byte+1 with 0-pad, so a short suffix sorts
      before any extension — no zero-byte/padding ambiguity);
    * each doubling round re-sorts ONLY the still-tied rank groups
      (Larsson–Sadakane refinement): on real text the tied fraction
      collapses after a couple of rounds and later rounds touch just the
      duplicated regions, so the k-th round costs O(dup_k log dup_k), not
      O(n log n) — the dominant-compute fix flagged in VERDICT r02.

    Ranks are "group start slot" integers (< n <= 2^27 at the 64 MiB
    production shard cap), so a (rank, next_rank) pair packs into one
    uint64 key and each round is a single stable radix argsort.
    """
    n = len(buf)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if _divsufsort is not None:
        return np.asarray(_divsufsort(buf), dtype=np.int64)
    if n >= (1 << 32) - 1:
        # the doubling rounds pack rank+1 (< n+1) into the low 32 bits of a
        # uint64 key; at n >= 2^32-1 that lane overflows and the sort would
        # silently corrupt. Unreachable under the 64 MiB production shard
        # cap (config.ExactSubstrConfig.shard_bytes) — fail loudly if a
        # future config change lifts it.
        raise ValueError(
            f"suffix_array fallback supports shard buffers < 2^32-1 bytes "
            f"(got {n}); shrink shard_bytes or install pydivsufsort"
        )
    # round 0: rank by first 4 bytes via sentinel lanes (b+1, 0-padded)
    ext = np.concatenate(
        [buf.astype(np.uint64) + np.uint64(1), np.zeros(4, dtype=np.uint64)]
    )
    key0 = (
        (ext[0:n] << np.uint64(48))
        | (ext[1 : n + 1] << np.uint64(32))
        | (ext[2 : n + 2] << np.uint64(16))
        | ext[3 : n + 3]
    )
    order = np.argsort(key0, kind="stable").astype(np.int64)
    k0 = key0[order]
    start = np.empty(n, dtype=bool)
    start[0] = True
    start[1:] = k0[1:] != k0[:-1]
    slots = np.arange(n, dtype=np.int64)
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.maximum.accumulate(np.where(start, slots, 0))
    # initial unresolved subset: slots whose rank group has size > 1. The
    # subset only ever shrinks, so later rounds never rescan all n slots —
    # per-round cost is O(current tied count), which on real text collapses
    # to just the duplicated regions after a couple of rounds.
    eq_next = np.zeros(n, dtype=bool)
    eq_next[:-1] = ~start[1:]
    unres = eq_next.copy()
    unres[1:] |= eq_next[:-1]
    s = np.nonzero(unres)[0]
    k = 4
    while len(s):
        if k > 2 * n:  # sentinel base case makes this unreachable
            raise RuntimeError("suffix_array failed to converge")
        suf = order[s]
        nxt = suf + k
        key2 = np.where(
            nxt < n, rank[np.minimum(nxt, n - 1)] + 1, 0
        ).astype(np.uint64)
        # group id (= start slot) rides the high half so one stable radix
        # argsort refines every group at once; groups are slot-contiguous
        comb = (rank[suf].astype(np.uint64) << np.uint64(32)) | key2
        sub = np.argsort(comb, kind="stable")
        order[s] = suf[sub]
        cs = comb[sub]
        m = len(s)
        nstart = np.empty(m, dtype=bool)
        nstart[0] = True
        nstart[1:] = cs[1:] != cs[:-1]
        rank[order[s]] = np.maximum.accumulate(np.where(nstart, s, 0))
        # still-tied slots within the subset (equal comb <=> same old group
        # and same doubled key; distinct old groups never share comb since
        # the group id is the high half)
        eq = np.zeros(m, dtype=bool)
        eq[:-1] = cs[1:] == cs[:-1]
        un2 = eq.copy()
        un2[1:] |= eq[:-1]
        s = s[un2]
        k <<= 1
    return order


QUERY_HITS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("cnt", T.LongType(), False),
        T.StructField("first_pos", T.LongType(), True),
    ]
)


def _check_query_lengths(queries: list[tuple[int, bytes]], overlap) -> None:
    """A match is counted by the shard owning its start position, and the
    shard buffer extends ``overlap`` bytes past the owned range: a query
    longer than overlap+1 bytes can straddle an ownership boundary without
    being resident in the owning shard, so the count/position operators
    refuse it. ``overlap`` is the width, or a callable returning it (None
    skips the check) so an index is only scanned when a non-empty query
    needs it."""
    max_q = max((len(q) for _, q in queries), default=0)
    if max_q == 0:
        return
    if callable(overlap):
        overlap = overlap()
    if overlap is not None and max_q > int(overlap) + 1:
        raise ValueError(
            f"query of {max_q} bytes exceeds overlap_bytes+1="
            f"{int(overlap) + 1}; raise ExactSubstrConfig.overlap_bytes "
            "(and rebuild a prebuilt index)"
        )


class QueryBatch(NamedTuple):
    """One call's queries, packed once on the driver: ``raw`` holds every
    query's bytes followed by a _CHUNK zero pad, query i at ``start[i]``,
    so a lockstep descent addresses any probe of any query by one offset
    into one buffer."""

    qids: np.ndarray
    raw: np.ndarray
    start: np.ndarray
    qlen: np.ndarray

    def lanes(self) -> np.ndarray:
        """Sentinel lanes of ``raw`` with every pad lane at 0, so a read
        past a query's end resolves to the sentinel, as it does past the
        end of a suffix."""
        ext = _sentinel_ext(self.raw)
        pad = (self.start + self.qlen)[:, None] + np.arange(_CHUNK)
        ext[pad.ravel()] = 0
        return ext


def _query_arrays(queries: list[tuple[int, bytes]]) -> QueryBatch:
    pad = bytes(_CHUNK)
    qlen = np.array([len(q) for _, q in queries], dtype=np.int64)
    return QueryBatch(
        qids=np.array([int(qid) for qid, _ in queries], dtype=np.int64),
        raw=np.frombuffer(b"".join(bytes(q) + pad for _, q in queries), np.uint8),
        start=np.cumsum(qlen + _CHUNK) - (qlen + _CHUNK),
        qlen=qlen,
    )


# --- lockstep suffix-array descent ----------------------------------------
#
# The reference runs find-training-data over EVERY token offset of large
# query files with 176 threads (main.rs:778) and answers count-occurrences
# from a prebuilt index in ~ms (README.md:98); a per-query (let alone
# per-probe) Python binary search pays its fixed numpy cost per call at
# that shape. Here ALL probes of ALL queries in a call advance together
# through one lane-parallel binary search per shard: each step gathers
# one 4-byte suffix chunk per probe and narrows every probe's SA range at
# once. Chunks are 16-bit sentinel lanes (byte+1, 0 past the end) so a
# suffix end never falsely matches a probe byte — exact even for
# corpora/queries containing NUL bytes (packed-u16 token corpora have
# them in every high byte < 256). At most _PROBE_BATCH probes descend
# together, which bounds a descent's working set whatever the batch size.

_CHUNK = 4  # bytes compared per descent level
_PROBE_BATCH = 1 << 20  # probes (or SA rows, for owned starts) per pass
_LCP_BLOCK = 1 << 20  # byte pairs compared per finish round
_LCP_LOCKSTEP = 512  # bytes per pair matched in lockstep before a contiguous compare


def _sentinel_ext(arr: np.ndarray) -> np.ndarray:
    """uint16 lanes byte+1 with a trailing zero pad (reads past the end
    of any suffix resolve to the 0 sentinel)."""
    ext = np.zeros(len(arr) + _CHUNK, dtype=np.uint16)
    np.add(arr, 1, out=ext[: len(arr)], dtype=np.uint16)
    return ext


def _chunk_at(ext: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """Packed 4-lane chunk starting at each idx (clamped reads land in the
    zero pad, i.e. the sentinel)."""
    last = len(ext) - 1
    v = np.zeros(len(idx), dtype=np.uint64)
    for b in range(_CHUNK):
        v = (v << np.uint64(16)) | ext[np.minimum(idx + b, last)]
    return v


def _lane_lcp(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Leading equal 16-bit lanes between packed chunks (0..4)."""
    xor = x ^ y
    cnt = np.zeros(len(x), dtype=np.int64)
    alive = np.ones(len(x), dtype=bool)
    for b in range(_CHUNK):
        lane = (xor >> np.uint64(16 * (_CHUNK - 1 - b))) & np.uint64(0xFFFF)
        alive &= lane == 0
        cnt += alive
    return cnt


def _vbisect(
    ext: np.ndarray,
    sa: np.ndarray,
    off: int,
    lo: np.ndarray,
    hi: np.ndarray,
    pk: np.ndarray,
    side: str,
) -> np.ndarray:
    """searchsorted of each probe chunk pk[i] within its own SA range
    [lo[i], hi[i]) on the depth-``off`` suffix chunk — all probes bisect in
    lockstep (each iteration is one vectorized gather+compare)."""
    lo = lo.copy()
    hi = hi.copy()
    nsa = len(sa)
    while True:
        run = lo < hi
        if not run.any():
            return lo
        mid = (lo + hi) >> 1
        kv = _chunk_at(ext, sa[np.minimum(mid, nsa - 1)] + off)
        go = (kv < pk) if side == "left" else (kv <= pk)
        adv = run & go
        lo = np.where(adv, mid + 1, lo)
        hi = np.where(run & ~go, mid, hi)


def _prefix_ranges(
    ext: np.ndarray, sa: np.ndarray, qext: np.ndarray, start: np.ndarray,
    qlen: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """[first, last) SA rows whose suffix starts with each query (the
    count_occurances double binary search, src/main.rs:286-366), for every
    query at once. Counts overlapping occurrences by construction
    ("aaaa".count("aa") == 3, main.rs:629-632); an empty query gets an
    empty range.

    Per level every live query bisects left with its next chunk and right
    with the same chunk whose lanes past the query end read 0xFFFF (above
    any byte lane): the rows between are exactly the suffixes that extend
    the matched prefix by the query's next <= 4 bytes. A query ends at its
    last chunk or as soon as its range empties."""
    m = len(start)
    first = np.zeros(m, dtype=np.int64)
    last = np.where(qlen > 0, len(sa), 0).astype(np.int64)
    for s in range(0, m, _PROBE_BATCH):
        act = s + np.nonzero(qlen[s : s + _PROBE_BATCH] > 0)[0]
        off = 0
        while len(act):
            rem = qlen[act] - off
            pk = _chunk_at(qext, start[act] + off)
            fill = np.clip(_CHUNK - rem, 0, _CHUNK).astype(np.uint64) * np.uint64(16)
            pk_hi = pk | ((np.uint64(1) << fill) - np.uint64(1))
            l2 = _vbisect(ext, sa, off, first[act], last[act], pk, "left")
            r2 = _vbisect(ext, sa, off, l2, last[act], pk_hi, "right")
            first[act] = l2
            last[act] = r2
            act = act[(rem > _CHUNK) & (r2 > l2)]
            off += _CHUNK
    return first, last


def _lcp_many(
    buf: np.ndarray, a: np.ndarray, q: np.ndarray, b: np.ndarray, lim: np.ndarray
) -> np.ndarray:
    """Longest common prefix of buf[a[i]:] and q[b[i]:], capped at lim[i]
    (callers cap it at the bytes left on both sides). All pairs compare
    blocks in lockstep and a pair leaves at its first mismatch; the block
    doubles each round while all pairs together compare at most
    _LCP_BLOCK bytes. A pair still matching after _LCP_LOCKSTEP bytes
    finishes with one contiguous compare: a gathered byte costs tens of
    times a contiguous one, so past a few hundred bytes (a whole-document
    duplicate) the per-pair call is the cheaper side."""
    out = np.zeros(len(a), dtype=np.int64)
    act = np.nonzero(lim > 0)[0]
    seen, w = 0, 8  # every active pair has matched its first `seen` bytes
    while len(act) and seen < _LCP_LOCKSTEP:
        w = max(1, min(2 * w, _LCP_BLOCK // len(act)))
        cols = np.arange(w)
        k = np.minimum(lim[act] - seen, w)
        ia = np.minimum(a[act, None] + seen + cols, len(buf) - 1)
        ib = np.minimum(b[act, None] + seen + cols, len(q) - 1)
        stop = (buf[ia] != q[ib]) | (cols >= k[:, None])
        first = np.where(stop.any(axis=1), stop.argmax(axis=1), w)
        out[act] = seen + first
        seen += w
        act = act[(first == w) & (out[act] < lim[act])]
    for i in act:
        x, y, m = a[i] + seen, b[i] + seen, lim[i] - seen
        neq = np.flatnonzero(buf[x : x + m] != q[y : y + m])
        out[i] = seen + (neq[0] if len(neq) else m)
    return out


def _descend_match_lens(
    buf: np.ndarray, ext: np.ndarray, sa: np.ndarray, qraw: np.ndarray,
    qext: np.ndarray, gpos: np.ndarray, qlen: np.ndarray,
) -> np.ndarray:
    """For each probe (the qlen[i] bytes of qraw at gpos[i]), the longest
    common prefix with ANY suffix of buf: max_j lcp(buf[sa[j]:], probe).

    Per descent level d the surviving probes (those matching the first
    4*d bytes of some suffix) narrow their tie range with two lockstep
    bisections; a probe whose range empties takes its final partial-chunk
    LCP from the two suffixes adjacent to its insertion point (sorted
    order makes common-prefix length unimodal around it). Work per level
    is O(active * log n) gathers, and the active set shrinks to just the
    long-match probes.
    """
    n = len(sa)
    m = len(gpos)
    best = np.zeros(m, dtype=np.int64)
    lo = np.zeros(m, dtype=np.int64)
    hi = np.full(m, n, dtype=np.int64)
    resolved = np.zeros(m, dtype=bool)
    d = 0
    while not resolved.all():
        off = _CHUNK * d
        rem = qlen - off
        # probe exhausted with a live range => some suffix matched all of it
        done = (~resolved) & (rem <= 0)
        best[done] = qlen[done]
        resolved |= done
        act = np.nonzero(~resolved)[0]
        if len(act) == 0:
            break
        pk = _chunk_at(qext, gpos[act] + off)
        l2 = _vbisect(ext, sa, off, lo[act], hi[act], pk, "left")
        r2 = _vbisect(ext, sa, off, l2, hi[act], pk, "right")
        empty = l2 == r2
        if empty.any():
            ei = act[empty]
            le = l2[empty]
            pke = pk[empty]
            cand = np.zeros(len(ei), dtype=np.int64)
            for dj in (-1, 0):
                j = le + dj
                ok = (j >= lo[ei]) & (j < hi[ei])
                sv = _chunk_at(ext, sa[np.where(ok, j, 0)] + off)
                ll = np.minimum(_lane_lcp(pke, sv), rem[ei])
                cand = np.maximum(cand, np.where(ok, ll, 0))
            best[ei] = off + cand
            resolved[ei] = True
        ni = act[~empty]
        lo[ni] = l2[~empty]
        hi[ni] = r2[~empty]
        # Narrow-range early-out: <= 2 candidate suffixes left. Finish them
        # with one blockwise LCP scan instead of descending 4 bytes per
        # round — a whole-document duplicate (match_len ~ doc bytes) would
        # otherwise cost len/4 lockstep rounds. The max-LCP suffix is
        # inside [lo, hi): anything outside matches < base bytes.
        base = _CHUNK * (d + 1)
        fin = ni[((hi[ni] - lo[ni]) <= 2) & (qlen[ni] > base)]
        if len(fin):
            cand = np.zeros(len(fin), dtype=np.int64)
            for dj in (0, 1):
                j = lo[fin] + dj
                ok = j < hi[fin]
                a = sa[np.where(ok, j, 0)] + base
                lim = np.where(ok, np.minimum(qlen[fin] - base, len(buf) - a), 0)
                ll = _lcp_many(buf, a, qraw, gpos[fin] + base, lim)
                cand = np.maximum(cand, ll)
            best[fin] = base + cand
            resolved[fin] = True
        d += 1
    return best


def _match_lens(
    buf: np.ndarray, sa: np.ndarray, qraw: np.ndarray, qext: np.ndarray,
    gpos: np.ndarray, qlen: np.ndarray,
) -> np.ndarray:
    """_descend_match_lens over _PROBE_BATCH probes at a time."""
    best = np.zeros(len(gpos), dtype=np.int64)
    if len(sa) == 0:
        return best
    ext = _sentinel_ext(buf)
    for s in range(0, len(gpos), _PROBE_BATCH):
        t = slice(s, s + _PROBE_BATCH)
        best[t] = _descend_match_lens(buf, ext, sa, qraw, qext, gpos[t], qlen[t])
    return best


def _batched_match_lens(
    buf: np.ndarray, sa: np.ndarray, q: np.ndarray, qpos: np.ndarray,
    probe_cap: int,
) -> np.ndarray:
    """For each probe (suffix of q starting at qpos[i], capped), the
    longest common prefix with ANY suffix of buf. Exact: equals
    max_j lcp(buf[sa[j]:], q[qpos[i]:qpos[i]+cap]). The one-query case of
    the batched descent."""
    batch = _query_arrays([(0, q.tobytes())])
    qpos = qpos.astype(np.int64)
    qlen = np.maximum(np.minimum(len(q) - qpos, probe_cap), 0)
    return _match_lens(buf, sa, batch.raw, batch.lanes(), qpos, qlen)


# --- per-shard lookups -----------------------------------------------------
#
# One function per query kind, each over one shard's (lo, own_hi, buf, sa)
# and a whole QueryBatch: one lockstep descent per shard answers every
# query of the call. The live operators below feed them a suffix array
# built in the same task (_shard_sa), the sa_index operators one read from
# the prebuilt index.


def _owned_starts(
    lo: int, own_hi: int, sa: np.ndarray, first: np.ndarray, last: np.ndarray
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """(query index, global start) of every owned occurrence — the SA rows
    [first[i], last[i]) whose start this shard owns — in query order, in
    pieces of about _PROBE_BATCH rows (one query's rows stay in one
    piece)."""
    n = last - first
    ends = np.cumsum(n)
    i = 0
    while i < len(n):
        before = ends[i] - n[i]
        j = max(i + 1, int(np.searchsorted(ends, before + _PROBE_BATCH, "right")))
        cnt = n[i:j]
        qix = np.repeat(np.arange(i, j), cnt)
        rows = np.arange(ends[j - 1] - before) + np.repeat(
            first[i:j] - (ends[i:j] - cnt - before), cnt
        )
        starts = sa[rows] + lo
        keep = starts < own_hi
        yield qix[keep], starts[keep]
        i = j


def _shard_ranges(buf, sa, batch: QueryBatch) -> tuple[np.ndarray, np.ndarray]:
    return _prefix_ranges(
        _sentinel_ext(buf), sa, batch.lanes(), batch.start, batch.qlen
    )


def _shard_counts(lo, own_hi, buf, sa, batch: QueryBatch) -> pd.DataFrame:
    """(query_id, cnt, first_pos) per query with an owned occurrence."""
    cnt = np.zeros(len(batch.qids), dtype=np.int64)
    first_pos = np.zeros(len(batch.qids), dtype=np.int64)
    for qix, starts in _owned_starts(lo, own_hi, sa, *_shard_ranges(buf, sa, batch)):
        if len(qix):
            heads = np.flatnonzero(np.r_[True, qix[1:] != qix[:-1]])
            cnt[qix[heads]] = np.diff(np.r_[heads, len(qix)])
            first_pos[qix[heads]] = np.minimum.reduceat(starts, heads)
    hit = cnt > 0
    return pd.DataFrame(
        {"query_id": batch.qids[hit], "cnt": cnt[hit], "first_pos": first_pos[hit]}
    )


def _shard_positions(lo, own_hi, buf, sa, batch: QueryBatch) -> pd.DataFrame:
    """(query_id, pos) for every owned occurrence."""
    pieces = list(_owned_starts(lo, own_hi, sa, *_shard_ranges(buf, sa, batch)))
    qix = np.concatenate([p[0] for p in pieces]) if pieces else np.empty(0, np.int64)
    pos = np.concatenate([p[1] for p in pieces]) if pieces else np.empty(0, np.int64)
    return pd.DataFrame({"query_id": batch.qids[qix], "pos": pos})


def _shard_match_lens(
    lo, own_hi, buf, sa, batch: QueryBatch, probe_cap, step
) -> pd.DataFrame:
    """(query_id, qpos, match_len): per query offset (every ``step``-th),
    the longest prefix of that query suffix occurring anywhere in the
    shard buffer."""
    nprobe = -(-batch.qlen // step)
    qix = np.repeat(np.arange(len(nprobe)), nprobe)
    first = np.repeat(np.cumsum(nprobe) - nprobe, nprobe)
    qpos = (np.arange(len(qix)) - first) * step
    qlen = np.minimum(batch.qlen[qix] - qpos, probe_cap)
    lens = _match_lens(
        buf, sa, batch.raw, batch.lanes(), batch.start[qix] + qpos, qlen
    )
    return pd.DataFrame(
        {"query_id": batch.qids[qix], "qpos": qpos, "match_len": lens}
    )


def _per_shard(shards, fn, *args) -> Iterator[pd.DataFrame]:
    """mapInPandas body: ``fn(lo, own_hi, buf, sa, *args)`` for every
    (lo, own_hi, buf, sa) shard, one output frame per partition."""
    frames = [fn(*shard, *args) for shard in shards]
    if frames:
        yield pd.concat(frames, ignore_index=True)


def _shard_sa(
    pdf: pd.DataFrame, cfg: ExactSubstrConfig, total: int
) -> tuple[int, int, np.ndarray, np.ndarray]:
    """One shard's doc rows -> (lo, own_hi, buf, sa): the shard buffer
    with its trailing overlap, and its suffix array."""
    s = int(pdf["shard_id"].iloc[0])
    lo, buf = assemble_shard_buffer(
        pdf, cfg.shard_bytes, cfg.overlap_bytes, total, cfg.with_separators
    )
    own_hi = min((s + 1) * cfg.shard_bytes, total)
    return lo, own_hi, buf, suffix_array(buf)


def _live_sa_query(
    docs: DataFrame,
    cfg: ExactSubstrConfig,
    total: int | None,
    schema: T.StructType,
    fn,
    *args,
) -> DataFrame:
    """Run the per-shard lookup ``fn`` over shard suffix arrays built in
    the same Python task: buf and sa never cross the Arrow boundary (the
    indexed operators pay that crossing once, at index build)."""
    if "byte_start" not in docs.columns:
        docs = with_offsets(docs, cfg.with_separators)
    if total is None:
        total = corpus_total_bytes(docs)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shards = (_shard_sa(g, cfg, total) for g in _iter_shard_groups(batches))
        return _per_shard(shards, fn, *args)

    return shard_layout(docs, cfg, total).mapInPandas(kernel, schema)


def count_occurrences(
    docs: DataFrame,
    queries: list[tuple[int, bytes]],
    cfg: ExactSubstrConfig,
    total: int | None = None,
) -> DataFrame:
    """cmd_count_occurrences / -multi (main.rs:623-728): per-shard suffix
    arrays answer each query in O(|q| log n); per-shard partial counts are
    summed — a two-stage aggregation. Queries ride the task closure
    (broadcast side, like the reference's in-RAM query file main.rs:643).

    A match is counted by the shard owning its start position; the shard
    buffer extends ``overlap_bytes`` past the owned range, so any query up
    to overlap_bytes+1 bytes is counted exactly once.

    Returns (query_id, count, first_pos).
    """
    _check_query_lengths(queries, cfg.overlap_bytes)
    hits = _live_sa_query(
        docs, cfg, total, QUERY_HITS_SCHEMA, _shard_counts, _query_arrays(queries)
    )
    return _count_with_baseline(hits, [qid for qid, _ in queries])


def _count_with_baseline(hits: DataFrame, qids: list[int]) -> DataFrame:
    """(query_id, cnt, first_pos) hits -> (query_id, count, first_pos) with
    one row per query id; absent queries report count 0, first_pos null.

    Baseline (qid, 0, null) rows ride the same aggregation as a local
    relation, so no left join back against a query frame is needed (one
    broadcast join less per call). The pandas baseline holds only int64
    columns and the null first_pos is added in Spark: a nullable pandas
    Int64 column only converts on the Arrow path of createDataFrame."""
    baseline = hits.sparkSession.createDataFrame(
        pd.DataFrame(
            {
                "query_id": np.array(qids, np.int64),
                "cnt": np.zeros(len(qids), np.int64),
            }
        ),
        "query_id long, cnt long",
    ).withColumn("first_pos", F.lit(None).cast("long"))
    # pandas input -> local relation (a list parallelizes into RDD slices)
    return hits.unionByName(baseline).groupBy("query_id").agg(
        F.sum("cnt").alias("count"), F.min("first_pos").alias("first_pos")
    )


MATCH_LEN_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("qpos", T.LongType(), False),
        T.StructField("match_len", T.LongType(), False),
    ]
)


def find_training_data(
    docs: DataFrame,
    queries: list[tuple[int, bytes]],
    cfg: ExactSubstrConfig,
    probe_cap: int = 65536,
    step: int = 1,
    total: int | None = None,
) -> DataFrame:
    """find-training-data (cmd_find_training_data_2, main.rs:730-805):
    for every query offset (step=2 for u16-token corpora, main.rs:762-768),
    the longest prefix of that query suffix occurring anywhere in the
    corpus, probe-capped (main.rs:525-526 cap 65536).

    Per shard: every query suffix descends the shard SA in one lockstep
    batch, LCP against the neighbors of its insertion point; global answer = max over shards
    (groupBy(query_id, qpos).max — partial agg first).

    Cross-shard caveat (documented approximation, same class as the
    reference's HACKSIZE): a match longer than shard_bytes+overlap that
    straddles an ownership boundary reports the in-buffer prefix length.
    """
    per_shard = _live_sa_query(
        docs, cfg, total, MATCH_LEN_SCHEMA, _shard_match_lens,
        _query_arrays(queries), probe_cap, step,
    )
    return per_shard.groupBy("query_id", "qpos").agg(
        F.max("match_len").alias("match_len")
    )


POSITIONS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("pos", T.LongType(), False),
    ]
)


def find_positions(
    docs: DataFrame,
    queries: list[tuple[int, bytes]],
    cfg: ExactSubstrConfig,
    total: int | None = None,
) -> DataFrame:
    """All occurrence positions of each query (SuffixTable::positions,
    src/table.rs:250-307): the same per-shard prefix-range descent as
    count_occurrences, emitting every owned start offset."""
    _check_query_lengths(queries, cfg.overlap_bytes)
    return _live_sa_query(
        docs, cfg, total, POSITIONS_SCHEMA, _shard_positions, _query_arrays(queries)
    )


def contains(
    docs: DataFrame,
    queries: list[tuple[int, bytes]],
    cfg: ExactSubstrConfig,
    total: int | None = None,
) -> DataFrame:
    """Membership probe (is_present_memory, src/main.rs:442-485):
    (query_id, present) — a count > 0 test; the per-shard search
    short-circuits through the same SA range lookup."""
    out = count_occurrences(docs, queries, cfg, total)
    return out.select("query_id", (F.col("count") > 0).alias("present"))
