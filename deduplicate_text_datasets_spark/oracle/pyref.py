"""Pure-Python executable specification of the reference semantics.

TEST-ONLY code (never on the Spark hot path). Each function mirrors a
reference behaviour, cited by file:line in /root/reference, in the most
naive possible form — this is the ground truth the distributed operators
are judged against (SURVEY.md §5.2, Phase 0).
"""

from __future__ import annotations

import re
import struct
from collections import Counter, defaultdict

import numpy as np

PRE_SEP = b"\xff\xff"  # scripts/load_dataset.py:31-32


def doc_bytes(uid: int, text: bytes, with_separators: bool = True) -> bytes:
    """Reference on-disk layout of one document: b"\\xff\\xff" +
    struct.pack("<I", uid) + text (scripts/load_dataset.py:57-61)."""
    if not with_separators:
        return text
    return PRE_SEP + struct.pack("<I", uid & 0xFFFFFFFF) + text


def build_corpus(
    texts: list[bytes], with_separators: bool = True
) -> tuple[bytes, list[int]]:
    """Concatenate docs in dataset order; return (corpus, sizes) where sizes
    is the N+1 cumulative-offset array [0, end_0, ..., total]
    (scripts/load_dataset.py:75-92)."""
    out = bytearray()
    sizes = [0]
    for uid, t in enumerate(texts):
        out += doc_bytes(uid, t, with_separators)
        sizes.append(len(out))
    return bytes(out), sizes


def repetition_stats(text: str | None, n: int = 3) -> tuple[int, int, int]:
    """(dup_line_ppm, top_ngram_ppm, dup_ngram_ppm) of one document, as
    operators/textstats.repetition_stats defines them: tokens are the
    lowercased text split on ``[^a-z0-9]+`` runs (functions/text.py
    TOKEN_SPLIT_RE), grams are n consecutive tokens joined by ' ', and
    every ratio is the integer (1000000 * x) // y, 0 when y is 0."""
    if text is None:
        return 0, 0, 0
    lines = [ln for ln in text.split("\n") if ln]
    dup_line = (
        (1_000_000 * (len(lines) - len(set(lines)))) // len(lines) if lines else 0
    )
    toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
    counts = Counter(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))
    chars = {g: c * len(g) for g, c in counts.items()}
    tot = sum(chars.values())
    if tot == 0:
        return dup_line, 0, 0
    top = max(chars.values())
    dup = sum(v for g, v in chars.items() if counts[g] >= 2)
    return dup_line, (1_000_000 * top) // tot, (1_000_000 * dup) // tot


def naive_suffix_array(b: bytes) -> list[int]:
    """The reference's own declared oracle: `sorted(S[i:] for i in
    range(len(S)))` (src/main.rs:23-24). O(n^2 log n); tiny inputs only."""
    return sorted(range(len(b)), key=lambda i: b[i:])


def self_similar_clusters(
    corpus: bytes, length_threshold: int, frequency_threshold: int = 0
) -> dict[bytes, list[int]]:
    """cmd_self_similar semantics (src/main.rs:807-960): maximal runs of
    adjacent suffixes sharing an identical length-L prefix == the partition
    of positions by their length-L window (positions with suffix >= L only,
    main.rs:900). Keep clusters with size > frequency_threshold and >= 2
    (runs only form on a match)."""
    groups: dict[bytes, list[int]] = defaultdict(list)
    for p in range(len(corpus) - length_threshold + 1):
        groups[corpus[p : p + length_threshold]].append(p)
    return {
        w: ps
        for w, ps in groups.items()
        if len(ps) >= 2 and len(ps) > frequency_threshold
    }


def self_similar_positions(
    corpus: bytes, length_threshold: int, frequency_threshold: int = 0
) -> list[int]:
    """All duplicate positions ('dups' cache content, main.rs:872-877)."""
    out: list[int] = []
    for ps in self_similar_clusters(corpus, length_threshold, frequency_threshold).values():
        out.extend(ps)
    return sorted(out)


def across_similar_positions(
    corpus_a: bytes, corpus_b: bytes, length_threshold: int
) -> tuple[list[int], list[int]]:
    """cmd_across_similar semantics (src/main.rs:962-1158): a position in A
    is emitted iff its length-L window also occurs in B (drain on cross
    match only), and vice versa."""
    wins_a = defaultdict(list)
    for p in range(len(corpus_a) - length_threshold + 1):
        wins_a[corpus_a[p : p + length_threshold]].append(p)
    wins_b = defaultdict(list)
    for p in range(len(corpus_b) - length_threshold + 1):
        wins_b[corpus_b[p : p + length_threshold]].append(p)
    common = set(wins_a) & set(wins_b)
    dups_a = sorted(p for w in common for p in wins_a[w])
    dups_b = sorted(p for w in common for p in wins_b[w])
    return dups_a, dups_b


def collect_ranges(positions: list[int], length_threshold: int) -> list[tuple[int, int]]:
    """cmd_collect coalescing fold (src/main.rs:1505-1521): sorted dup
    positions -> maximal [start, end) ranges, merging while
    ptr <= prev_end where prev_end = prev_ptr + L."""
    ranges: list[tuple[int, int]] = []
    if not positions:
        return ranges
    positions = sorted(positions)
    start = positions[0]
    prev_end = positions[0] + length_threshold
    for p in positions[1:]:
        if p <= prev_end:
            prev_end = p + length_threshold
        else:
            ranges.append((start, prev_end))
            start, prev_end = p, p + length_threshold
    ranges.append((start, prev_end))
    return ranges


def strike_doc(
    text: bytes, spans: list[tuple[int, int]]
) -> bytes:
    """Remove byte spans (doc-local, clamped, non-overlapping) from text,
    right-to-left (scripts/finish_dedup_wiki40b.py:66-69;
    finish_single_file.py:30-37)."""
    out = text
    for a, b in sorted(spans, reverse=True):
        out = out[:a] + out[b:]
    return out


def apply_removals(
    texts: list[bytes],
    sizes: list[int],
    ranges: list[tuple[int, int]],
    with_separators: bool = True,
) -> list[bytes]:
    """Map global [start,end) ranges back to per-doc spans and strike them
    (finish_dedup_wiki40b.py:141-161): clamp into the doc's text region —
    skipping the 6-byte separator prefix (the 'magic 6' at :157-158) — and
    delete right-to-left."""
    sep = 6 if with_separators else 0
    spans: list[list[tuple[int, int]]] = [[] for _ in texts]
    for start, end in ranges:
        for i in range(len(texts)):
            d0, d1 = sizes[i], sizes[i + 1]
            if end <= d0 or start >= d1:
                continue
            a = max(start, d0 + sep) - (d0 + sep)
            b = min(end, d1) - (d0 + sep)
            if b > a:
                spans[i].append((a, b))
    return [strike_doc(t, s) for t, s in zip(texts, spans)]


def count_occurrences(corpus: bytes, query: bytes) -> int:
    """Overlapping occurrence count ("aaaa".count("aa") == 3 semantics,
    src/main.rs:629-632)."""
    n, i = 0, corpus.find(query)
    while i != -1:
        n += 1
        i = corpus.find(query, i + 1)
    return n


def longest_match_lengths(corpus: bytes, query: bytes, cap: int = 65536) -> list[int]:
    """find-training-data per-position longest common prefix between each
    query suffix and any corpus substring, capped (src/main.rs:487-535,
    761-774). Naive O(|q| * |corpus| * L)."""
    out = []
    for i in range(len(query)):
        q = query[i : i + cap]
        best = 0
        for j in range(len(corpus)):
            l = 0
            while (
                l < len(q)
                and j + l < len(corpus)
                and corpus[j + l] == q[l]
            ):
                l += 1
            best = max(best, l)
            if best == len(q):
                break
        out.append(best)
    return out


def _lcp(a: np.ndarray, b: np.ndarray) -> int:
    m = min(len(a), len(b))
    if m == 0:
        return 0
    neq = np.nonzero(a[:m] != b[:m])[0]
    return int(neq[0]) if len(neq) else m


def _sa_compare(buf: np.ndarray, start: int, q: np.ndarray) -> int:
    """Compare corpus suffix buf[start:] with query q lexicographically on
    the first len(q) bytes: -1 suffix < q, 0 prefix-match, 1 suffix > q."""
    seg = buf[start : start + len(q)]
    if len(seg) < len(q):
        qq = q[: len(seg)]
        neq = np.nonzero(seg != qq)[0]
        if len(neq) == 0:
            return -1  # shorter suffix with matching prefix sorts first
        i = neq[0]
        return -1 if seg[i] < qq[i] else 1
    neq = np.nonzero(seg != q)[0]
    if len(neq) == 0:
        return 0
    i = neq[0]
    return -1 if seg[i] < q[i] else 1


def _sa_range(buf: np.ndarray, sa: np.ndarray, q: np.ndarray) -> tuple[int, int]:
    """Double binary search -> [first, last) SA rows whose suffix starts
    with q (count_occurances kernel, src/main.rs:286-366), one query at a
    time: the test oracle for suffix._prefix_ranges. Counts overlapping
    occurrences by construction ("aaaa".count("aa") == 3,
    main.rs:629-632)."""
    lo, hi = 0, len(sa)
    while lo < hi:  # first suffix >= q (prefix-match counts as >=)
        mid = (lo + hi) // 2
        if _sa_compare(buf, sa[mid], q) < 0:
            lo = mid + 1
        else:
            hi = mid
    first = lo
    hi = len(sa)
    while lo < hi:  # first suffix that is > q and not prefixed by q
        mid = (lo + hi) // 2
        if _sa_compare(buf, sa[mid], q) <= 0:
            lo = mid + 1
        else:
            hi = mid
    return first, lo


def _match_lens_loop(
    buf: np.ndarray, sa: np.ndarray, q: np.ndarray, qpos: np.ndarray,
    probe_cap: int,
) -> np.ndarray:
    """Naive per-probe binary-search kernel over a suffix array (the
    pre-r03 implementation): the test oracle for suffix._batched_match_lens
    on inputs too large for ``longest_match_lengths``."""

    out = np.zeros(len(qpos), dtype=np.int64)
    for ix, i in enumerate(qpos):
        probe = q[i : i + probe_cap]
        loi, hii = 0, len(sa)
        while loi < hii:
            mid = (loi + hii) // 2
            if _sa_compare(buf, sa[mid], probe) < 0:
                loi = mid + 1
            else:
                hii = mid
        best = 0
        for j in (loi - 1, loi):
            if 0 <= j < len(sa):
                best = max(best, _lcp(buf[sa[j] :], probe))
        out[ix] = best
    return out
