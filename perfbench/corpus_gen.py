"""Seeded corpus generator with planted duplicate roles.

The same ``(seed, n_docs, words_lo, words_hi)`` always gives byte-identical
documents: every random choice comes from one ``random.Random(seed)``.

Text is English-like (stopwords mixed into a seeded lowercase vocabulary)
so that the engine's policy filter (``operators.textstats``: language,
quality, repetition) keeps most documents. Roles, as shares of ``n_docs``:

  exact        10%  byte copy of a plain source doc
  near         10%  copy of a plain source doc with a few word substitutions
  shared       10%  pairs of docs that share one >= 100-byte run
  chained       5%  chains of docs; doc j holds run j-1 right before run j,
                    so its two removed ranges abut and must coalesce
  boilerplate   5%  a fixed ~300-byte site footer is appended
  foreign       5%  German stopwords instead of English (policy drops it)
  plain       rest  nothing planted

Sources of ``exact``/``near`` copies are always ``plain`` docs, so the
expected NearDup clustering is known exactly: each copy joins its source's
cluster and every other doc is alone (``expected_clusters``).
"""

from __future__ import annotations

import random
import string
import struct
from dataclasses import dataclass, field

EN_STOPWORDS = ["the", "and", "of", "to", "in", "a", "is", "that", "for", "on",
                "with", "as", "was", "by", "it", "at", "from", "this"]
DE_STOPWORDS = ["der", "und", "die", "das", "nicht", "ist", "mit", "ein"]
BOILERPLATE = (
    "home about contact privacy terms sitemap navigation footer copyright "
    "all rights reserved follow us on social media subscribe to the newsletter "
    "for weekly updates cookie settings accessibility statement careers press "
    "room investor relations help center community guidelines report a problem"
)
VOCAB_SIZE = 8192
SHARED_RUN_WORDS = 24  # ~150 bytes: above the 100-byte ExactSubstr threshold
CHAIN_RUN_WORDS = 24
CHAIN_LEN = 4
ROLE_SHARES = (
    ("exact", 0.10),
    ("near", 0.10),
    ("shared", 0.10),
    ("chained", 0.05),
    ("boilerplate", 0.05),
    ("foreign", 0.05),
)


@dataclass
class Corpus:
    """Generated documents plus what was planted in them."""

    texts: list[str]
    roles: list[str]
    source: dict[int, int] = field(default_factory=dict)  # copy -> source id
    runs: list[str] = field(default_factory=list)  # planted shared/chain runs

    @property
    def n_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.texts)

    def role_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for r in self.roles:
            out[r] = out.get(r, 0) + 1
        return dict(sorted(out.items()))

    def corpus_bytes(self) -> bytes:
        """The engine's byte layout (``sources.corpus.with_offsets`` with
        separators): per doc, in doc_id order, b"\\xff\\xff" + uint32 LE
        doc id + UTF-8 text."""
        return b"".join(
            b"\xff\xff" + struct.pack("<I", i) + t.encode()
            for i, t in enumerate(self.texts)
        )

    def expected_clusters(self, doc_ids=None) -> dict[int, int]:
        """NearDup cluster id (min member doc id) for each doc in
        ``doc_ids`` (default: all), assuming only planted copies are near
        duplicates."""
        ids = range(len(self.texts)) if doc_ids is None else doc_ids
        groups: dict[int, list[int]] = {}
        for i in ids:
            groups.setdefault(self.source.get(i, i), []).append(i)
        return {i: min(members) for members in groups.values() for i in members}


def _vocab(rng: random.Random) -> list[str]:
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        n = rng.randint(4, 10)
        words.add("".join(rng.choice(string.ascii_lowercase) for _ in range(n)))
    return sorted(words)


def _words(rng: random.Random, vocab: list[str], stop: list[str], n: int) -> list[str]:
    return [
        rng.choice(stop) if rng.random() < 0.3 else vocab[rng.randrange(len(vocab))]
        for _ in range(n)
    ]


def generate(seed: int, n_docs: int, words_lo: int = 300, words_hi: int = 800) -> Corpus:
    """Generate ``n_docs`` documents from ``seed`` (see module docstring)."""
    rng = random.Random(seed)
    vocab = _vocab(rng)
    roles = ["plain"] * n_docs
    slots = list(range(n_docs))
    rng.shuffle(slots)
    at = 0
    for role, share in ROLE_SHARES:
        k = int(n_docs * share)
        if role == "shared":
            k -= k % 2
        if role == "chained":  # whole chains, at least one
            k = max(CHAIN_LEN, k - k % CHAIN_LEN)
        for i in slots[at : at + k]:
            roles[i] = role
        at += k

    # doc lengths spread evenly over [words_lo, words_hi] in seeded order,
    # so corpus size hardly depends on the seed
    lengths = [words_lo + (words_hi - words_lo) * k // max(1, n_docs - 1) for k in range(n_docs)]
    rng.shuffle(lengths)

    def body(stop=EN_STOPWORDS) -> list[str]:
        # the leading stopword gives the language ID at least one hit
        return [stop[0]] + _words(rng, vocab, stop, lengths.pop())

    def insert(words: list[str], run: list[str]) -> list[str]:
        pos = rng.randrange(len(words))
        return words[:pos] + run + words[pos:]

    def new_run(n: int) -> list[str]:
        # stopword-free, so a run never repeats elsewhere by chance
        return [vocab[rng.randrange(len(vocab))] for _ in range(n)]

    texts: list[str | None] = [None] * n_docs
    runs: list[str] = []
    shared = [i for i in range(n_docs) if roles[i] == "shared"]
    for a, b in zip(shared[0::2], shared[1::2]):
        run = new_run(SHARED_RUN_WORDS)
        runs.append(" ".join(run))
        texts[a] = " ".join(insert(body(), run))
        texts[b] = " ".join(insert(body(), run))
    chained = [i for i in range(n_docs) if roles[i] == "chained"]
    for c in range(0, len(chained), CHAIN_LEN):
        chain = chained[c : c + CHAIN_LEN]
        link = [new_run(CHAIN_RUN_WORDS) for _ in range(len(chain) - 1)]
        runs.extend(" ".join(r) for r in link)
        for j, i in enumerate(chain):
            run = (link[j - 1] if j > 0 else []) + (link[j] if j < len(link) else [])
            texts[i] = " ".join(insert(body(), run))
    for i in range(n_docs):
        if roles[i] == "boilerplate":
            texts[i] = " ".join(body() + BOILERPLATE.split(" "))
        elif roles[i] == "foreign":
            texts[i] = " ".join(body(DE_STOPWORDS))
        elif roles[i] in ("plain", "exact", "near"):
            texts[i] = " ".join(body())

    plain = [i for i in range(n_docs) if roles[i] == "plain"]
    source: dict[int, int] = {}
    for i in range(n_docs):
        if roles[i] not in ("exact", "near"):
            continue
        s = plain[rng.randrange(len(plain))]
        source[i] = s
        words = texts[s].split(" ")
        if roles[i] == "near":
            # one substitution per ~60 words keeps 5-word-shingle Jaccard
            # near 0.85, above the 0.8 NearDup threshold
            for _ in range(rng.randint(1, max(1, len(words) // 60))):
                words[rng.randrange(len(words))] = vocab[rng.randrange(len(vocab))]
        texts[i] = " ".join(words)
    return Corpus(texts=texts, roles=roles, source=source, runs=runs)
