"""Round-4 coverage: token-mode strike-out end to end (the last ExactSubstr
stage that assumed a string corpus), B-side strike in across_dedup, the
scan fan-out size parser, scoped cache lifecycle, and the SA-fallback
guards from round-3 ADVICE.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from deduplicate_text_datasets_spark.config import (
    EngineConfig,
    ExactSubstrConfig,
)
from deduplicate_text_datasets_spark.functions.text import (
    tokenize_corpus,
    tokenized_documents,
)
from deduplicate_text_datasets_spark.oracle import pyref
from deduplicate_text_datasets_spark.operators.strike import apply_removals
from deduplicate_text_datasets_spark.sources.corpus import with_offsets
from deduplicate_text_datasets_spark.sources.documents import (
    DOCUMENTS_SCHEMA,
    synth_documents_pandas,
)

TOK_CFG = ExactSubstrConfig(
    length_threshold=40,  # 20 tokens (README.md:125 x2 rule)
    shard_bytes=2048,
    overlap_bytes=512,
    with_separators=True,
)
N_DOCS = 60


@pytest.fixture(scope="module")
def fixture_pdf():
    return synth_documents_pandas(N_DOCS, size_lo=30, size_hi=120)


@pytest.fixture(scope="module")
def docs(spark, fixture_pdf):
    return spark.createDataFrame(fixture_pdf, schema=DOCUMENTS_SCHEMA)


@pytest.fixture(scope="module")
def tok_docs(spark, docs):
    t = tokenized_documents(docs)
    t.cache().count()
    return t


@pytest.fixture(scope="module")
def tok_oracle(spark, docs):
    rows = (
        tokenize_corpus(docs)
        .select("doc_id", "packed")
        .orderBy("doc_id")
        .collect()
    )
    packed = [bytes(r["packed"]) for r in rows]
    corpus, sizes = pyref.build_corpus(packed, with_separators=True)
    return packed, corpus, sizes


# --- token-mode strike-out ---------------------------------------------------


def test_tokenized_documents_carry_url(tok_docs):
    """url rides along so the full pipeline (incl. strike) runs token-mode."""
    assert set(tok_docs.columns) == {"doc_id", "url", "text"}


def test_tokenized_exactsubstr_dedup_e2e(spark, tok_docs, tok_oracle):
    """Full token-mode ExactSubstr pipeline (reference --tokenize: the
    splice works on the packed byte file regardless of encoding,
    finish_single_file.py:20-37): every deduped document must be
    byte-identical to the pyref token-mode splice over the identical
    packed layout."""
    from deduplicate_text_datasets_spark.plans.pipeline import (
        exactsubstr_dedup,
    )

    packed, corpus, sizes = tok_oracle
    positions = pyref.self_similar_positions(corpus, TOK_CFG.length_threshold)
    assert positions, "fixture must plant >=20-token shared runs"
    ranges = pyref.collect_ranges(positions, TOK_CFG.length_threshold)
    want = pyref.apply_removals(packed, sizes, ranges, with_separators=True)

    _, deduped = exactsubstr_dedup(tok_docs, EngineConfig(exact=TOK_CFG))
    got = {
        r["doc_id"]: bytes(r["deduped"]) for r in deduped.collect()
    }
    assert len(got) == N_DOCS
    changed = 0
    for k in range(N_DOCS):
        assert got[k] == want[k], f"doc {k} splice mismatch"
        if want[k] != packed[k]:
            changed += 1
    assert changed > 0, "no doc was actually struck — fixture too weak"


def test_binary_strike_cuts_tokens_mid_pair(spark):
    """A byte span with odd endpoints legally cuts a u16 token in half —
    exactly as the reference's byte-level strike can. Byte parity vs
    pyref.apply_removals on a hand-built packed corpus."""
    texts = [
        np.arange(0, 40, dtype="<u2").tobytes(),
        np.arange(100, 150, dtype="<u2").tobytes(),
    ]
    corpus, sizes = pyref.build_corpus(texts, with_separators=True)
    # spans with odd start/end offsets inside each doc's text region
    ranges = [
        (sizes[0] + 6 + 7, sizes[0] + 6 + 16),   # doc 0: odd start
        (sizes[1] + 6 + 10, sizes[1] + 6 + 23),  # doc 1: odd end
    ]
    want = pyref.apply_removals(texts, sizes, ranges, with_separators=True)
    assert any((b - a) % 2 == 1 for a, b in ranges)

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "url": ["u0", "u1"],
            "text": texts,
        }
    )
    d = with_offsets(
        spark.createDataFrame(pdf, "doc_id long, url string, text binary"),
        with_separators=True,
    )
    rdf = spark.createDataFrame(
        pd.DataFrame(ranges, columns=["start", "end"]), "start long, end long"
    )
    cfg = ExactSubstrConfig(
        length_threshold=9, shard_bytes=2048, overlap_bytes=512,
        with_separators=True,
    )
    got = {
        r["doc_id"]: bytes(r["deduped"])
        for r in apply_removals(d, rdf, cfg).collect()
    }
    assert got[0] == want[0]
    assert got[1] == want[1]
    # untouched-path parity too: a doc with no spans passes through binary
    rdf_none = spark.createDataFrame(
        pd.DataFrame({"start": [0], "end": [1]}), "start long, end long"
    )  # hits only the separator region of doc 0
    got2 = {
        r["doc_id"]: bytes(r["deduped"])
        for r in apply_removals(d, rdf_none, cfg).collect()
    }
    assert got2[1] == texts[1]


# --- across_dedup: B-side strike --------------------------------------------


def test_across_dedup_strikes_both_sides(spark, fixture_pdf):
    """README.md:336-340: collect/finish run on EITHER dataset. B contains
    the contamination; deduped_b must byte-match the pyref splice of the
    B corpus, and legacy 3-tuple unpacking still yields the A side."""
    from deduplicate_text_datasets_spark.plans.pipeline import across_dedup

    cfg = ExactSubstrConfig(
        length_threshold=100, shard_bytes=4096, overlap_bytes=512,
        with_separators=True,
    )
    docs = spark.createDataFrame(fixture_pdf, schema=DOCUMENTS_SCHEMA)
    docs_a = docs.filter(F.col("doc_id") % 2 == 0)
    docs_b = docs.filter(F.col("doc_id") % 2 == 1)
    texts_a = [
        t.encode("utf-8")
        for t in fixture_pdf[fixture_pdf["doc_id"] % 2 == 0]["text"]
    ]
    texts_b = [
        t.encode("utf-8")
        for t in fixture_pdf[fixture_pdf["doc_id"] % 2 == 1]["text"]
    ]
    # pyref corpora use per-side dense uids, exactly like the Spark side's
    # with_offsets over each filtered frame... but doc_ids differ from the
    # uid bytes in the separator prefix, so rebuild with the REAL doc_ids
    ids_a = list(fixture_pdf[fixture_pdf["doc_id"] % 2 == 0]["doc_id"])
    ids_b = list(fixture_pdf[fixture_pdf["doc_id"] % 2 == 1]["doc_id"])

    def build(ids, texts):
        out = bytearray()
        sizes = [0]
        for uid, t in zip(ids, texts):
            out += pyref.doc_bytes(int(uid), t, True)
            sizes.append(len(out))
        return bytes(out), sizes

    corpus_a, sizes_a = build(ids_a, texts_a)
    corpus_b, sizes_b = build(ids_b, texts_b)
    exp_a, exp_b = pyref.across_similar_positions(
        corpus_a, corpus_b, cfg.length_threshold
    )
    assert exp_b, "fixture must contaminate side B"
    ranges_b = pyref.collect_ranges(exp_b, cfg.length_threshold)
    want_b = pyref.apply_removals(texts_b, sizes_b, ranges_b, True)

    res = across_dedup(docs_a, docs_b, EngineConfig(exact=cfg))
    # legacy unpack still works
    dups_a, _ranges_a, _deduped_a = res
    got_a = sorted(r["pos"] for r in dups_a.collect())
    assert got_a == exp_a
    got_b_pos = sorted(r["pos"] for r in res.dups_b.collect())
    assert got_b_pos == exp_b
    got_b = {
        r["doc_id"]: bytes(r["deduped"]) for r in res.deduped_b.collect()
    }
    for uid, want in zip(ids_b, want_b):
        assert got_b[uid] == want, f"B-side doc {uid} splice mismatch"


# --- sources: byte-sized fan-out ------------------------------------------


def test_size_bytes_fractional():
    from deduplicate_text_datasets_spark.sources.documents import _size_bytes

    assert _size_bytes("1.5g") == int(1.5 * (1 << 30))
    assert _size_bytes("0.5m") == 512 << 10
    assert _size_bytes("128m") == 128 << 20
    assert _size_bytes("not-a-size") == 128 << 20  # Spark default fallback


# --- scoped cache lifecycle --------------------------------------------------


def test_cache_scope_reclaims_operator_persists(spark, docs):
    """Long-session contract (round-2/3 ADVICE): repeated pipeline
    invocations inside cache_scope() leave the session's cache manager
    empty afterwards — no unbounded cached-frame growth."""
    from deduplicate_text_datasets_spark.config import MinHashConfig
    from deduplicate_text_datasets_spark.operators.minhash import (
        near_duplicate_edges,
    )
    from deduplicate_text_datasets_spark.plans.caching import cache_scope

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    for _ in range(3):
        with cache_scope() as frames:
            edges = near_duplicate_edges(docs, MinHashConfig())
            edges.count()  # consume INSIDE the scope
            assert len(frames) >= 2  # shingles + LSH buckets registered
            assert not cm.isEmpty()
        assert cm.isEmpty(), "scope exit must unpersist operator caches"


def test_cache_scope_nesting_and_outside_behavior(spark):
    from deduplicate_text_datasets_spark.plans.caching import (
        cache_scope,
        scoped_persist,
    )

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    outside = scoped_persist(spark.range(10))
    outside.count()
    assert not cm.isEmpty()  # no scope active -> session-lifetime persist
    with cache_scope() as outer:
        a = scoped_persist(spark.range(20))
        a.count()
        with cache_scope() as inner:
            b = scoped_persist(spark.range(30))
            b.count()
            assert len(inner) == 1 and len(outer) == 1
        # inner scope released b; a and outside remain
        assert a.storageLevel.useMemory
    assert outside.storageLevel.useMemory
    assert not cm.isEmpty()
    outside.unpersist()
    assert cm.isEmpty()


def test_cache_scope_releases_strike_broadcast(spark, fixture_pdf):
    """The strike driver fast path broadcasts its span arrays; scope exit
    must destroy that broadcast and leave no cached block behind."""
    from pyspark.broadcast import Broadcast

    from deduplicate_text_datasets_spark.operators.intervals import (
        coalesce_positions,
    )
    from deduplicate_text_datasets_spark.operators.suffix import self_similar
    from deduplicate_text_datasets_spark.plans.caching import cache_scope

    cfg = ExactSubstrConfig(
        length_threshold=50, shard_bytes=4096, overlap_bytes=64,
        with_separators=True,
    )
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs()
    n_rdds = rdds.size()
    with cache_scope() as registered:
        d = with_offsets(
            spark.createDataFrame(fixture_pdf, schema=DOCUMENTS_SCHEMA), True
        )
        ranges = coalesce_positions(self_similar(d, cfg), 50)
        out = apply_removals(d, ranges, cfg)
        assert out.count() == len(fixture_pdf)
        bcs = [b for b in registered if isinstance(b, Broadcast)]
        assert bcs, "strike fast path did not run (no broadcast registered)"
        assert all(b._jbroadcast.isValid() for b in bcs)
    assert not any(b._jbroadcast.isValid() for b in bcs)
    assert cm.isEmpty(), "scope exit must unpersist every operator cache"
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == n_rdds


# --- SA fallback guards (round-3 ADVICE) ------------------------------------


def test_suffix_array_fallback_forced(monkeypatch):
    """The prefix-doubling fallback is covered regardless of whether
    pydivsufsort is importable in this environment."""
    import deduplicate_text_datasets_spark.operators.suffix as sfx

    monkeypatch.setattr(sfx, "_divsufsort", None)
    rng = np.random.RandomState(5)
    base = rng.randint(0, 4, 300).astype(np.uint8)
    buf = np.concatenate([base, base[:150], np.zeros(20, np.uint8)])
    got = sfx.suffix_array(buf)
    want = np.array(
        sorted(range(len(buf)), key=lambda i: bytes(buf[i:])), dtype=np.int64
    )
    assert np.array_equal(got, want)


@pytest.mark.skipif(
    __import__(
        "deduplicate_text_datasets_spark.operators.suffix",
        fromlist=["_divsufsort"],
    )._divsufsort is None,
    reason="pydivsufsort not installed — fallback is already the only path",
)
def test_suffix_array_divsufsort_matches_fallback(monkeypatch):
    """When the binding IS present, both kernels must agree on adversarial
    fixtures (round-3 ADVICE: the two paths diverge per-environment
    untested otherwise)."""
    import deduplicate_text_datasets_spark.operators.suffix as sfx

    rng = np.random.RandomState(9)
    for _ in range(5):
        base = rng.randint(0, 5, 400).astype(np.uint8)
        buf = np.concatenate([base, base[:200], np.zeros(30, np.uint8)])
        fast = sfx.suffix_array(buf)
        monkeypatch.setattr(sfx, "_divsufsort", None)
        slow = sfx.suffix_array(buf)
        monkeypatch.undo()
        assert np.array_equal(fast, slow)


def test_suffix_array_2e32_guard(monkeypatch):
    """n >= 2^32-1 would overflow the packed rank lane — must fail loudly
    (round-3 ADVICE). np.zeros is virtual (calloc), so the 4 GiB buffer
    never faults in: the guard raises before any work."""
    import deduplicate_text_datasets_spark.operators.suffix as sfx

    monkeypatch.setattr(sfx, "_divsufsort", None)
    buf = np.zeros(1 << 32, dtype=np.uint8)
    with pytest.raises(ValueError, match="pydivsufsort"):
        sfx.suffix_array(buf)
    del buf


# --- SA index: memoized overlap guard ---------------------------------------


def test_overlap_guard_memoized(spark, docs, tmp_path_factory):
    """The per-query-batch index scan is gone: the overlap aggregates once
    per index frame and later batches read the memo (round-3 ADVICE)."""
    from deduplicate_text_datasets_spark.operators.sa_index import (
        build_suffix_index,
        count_occurrences_indexed,
        read_suffix_index,
        write_suffix_index,
    )

    cfg = ExactSubstrConfig(
        length_threshold=50, shard_bytes=4096, overlap_bytes=64,
        with_separators=True,
    )
    path = str(tmp_path_factory.mktemp("idx4") / "sa")
    write_suffix_index(build_suffix_index(docs, cfg), path)
    index = read_suffix_index(spark, path)
    count_occurrences_indexed(index, [(0, b"abc")]).collect()
    assert getattr(index, "_sa_overlap_memo", None) == (64,)
    # poison the memo: if the guard re-aggregated instead of reading it,
    # this 2-byte query would pass; with the memo (overlap=0) it must raise
    index._sa_overlap_memo = (0,)
    with pytest.raises(ValueError, match="overlap"):
        count_occurrences_indexed(index, [(0, b"ab")]).collect()


def test_across_dedup_tokenized_e2e(spark, tok_docs, fixture_pdf):
    """Token-mode across_dedup (reference --tokenize applies to across
    runs identically — the packed corpus is just bytes): both sides'
    positions and splices must match pyref over the same packed layout."""
    from deduplicate_text_datasets_spark.functions.text import (
        tokenize_corpus,
    )
    from deduplicate_text_datasets_spark.plans.pipeline import across_dedup

    docs_a = tok_docs.filter(F.col("doc_id") % 2 == 0)
    docs_b = tok_docs.filter(F.col("doc_id") % 2 == 1)
    packed_by_id = {
        r["doc_id"]: bytes(r["packed"])
        for r in tokenize_corpus(
            spark.createDataFrame(fixture_pdf, schema=DOCUMENTS_SCHEMA)
        ).select("doc_id", "packed").collect()
    }
    ids_a = sorted(i for i in packed_by_id if i % 2 == 0)
    ids_b = sorted(i for i in packed_by_id if i % 2 == 1)

    def build(ids):
        out = bytearray()
        sizes = [0]
        for uid in ids:
            out += pyref.doc_bytes(int(uid), packed_by_id[uid], True)
            sizes.append(len(out))
        return bytes(out), sizes

    corpus_a, sizes_a = build(ids_a)
    corpus_b, sizes_b = build(ids_b)
    exp_a, exp_b = pyref.across_similar_positions(
        corpus_a, corpus_b, TOK_CFG.length_threshold
    )
    assert exp_a and exp_b, "fixture must contaminate both sides"

    res = across_dedup(docs_a, docs_b, EngineConfig(exact=TOK_CFG))
    assert sorted(r["pos"] for r in res.dups_a.collect()) == exp_a
    assert sorted(r["pos"] for r in res.dups_b.collect()) == exp_b

    for ids, sizes, exp, deduped in (
        (ids_a, sizes_a, exp_a, res.deduped_a),
        (ids_b, sizes_b, exp_b, res.deduped_b),
    ):
        ranges = pyref.collect_ranges(exp, TOK_CFG.length_threshold)
        want = pyref.apply_removals(
            [packed_by_id[i] for i in ids], sizes, ranges, True
        )
        got = {r["doc_id"]: bytes(r["deduped"]) for r in deduped.collect()}
        changed = 0
        for uid, w in zip(ids, want):
            assert got[uid] == w, f"doc {uid} token splice mismatch"
            if w != packed_by_id[uid]:
                changed += 1
        assert changed > 0, "no token-mode strike landed on this side"
