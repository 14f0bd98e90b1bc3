"""ExactSubstr core vs the pure-Python reference spec (oracle/pyref.py).

Covers SURVEY.md §5.2: kernel oracles (rolling hash, suffix array vs the
reference's own naive oracle main.rs:23-24), planted-duplicate fixtures,
collect/strike golden parity, count-occurrences overlap semantics.
"""

from __future__ import annotations

import numpy as np
import pytest

from deduplicate_text_datasets_spark.config import (
    ROLLHASH_X1,
    ExactSubstrConfig,
)
from deduplicate_text_datasets_spark.oracle import pyref
from deduplicate_text_datasets_spark.operators.intervals import (
    coalesce_positions,
    _fold_positions,
)
from deduplicate_text_datasets_spark.operators.strike import apply_removals
from deduplicate_text_datasets_spark.operators.suffix import (
    count_occurrences,
    find_training_data,
    self_similar,
    suffix_array,
    window_fingerprints,
    window_hashes,
    across_similar,
)
from deduplicate_text_datasets_spark.sources.corpus import (
    corpus_total_bytes,
    with_offsets,
)
from deduplicate_text_datasets_spark.sources.documents import (
    DOCUMENTS_SCHEMA,
    synth_documents_pandas,
)

# small shards force multi-shard paths + boundary ownership
CFG = ExactSubstrConfig(
    length_threshold=100,
    shard_bytes=4096,
    overlap_bytes=512,
    with_separators=True,
)
N_DOCS = 120


@pytest.fixture(scope="module")
def fixture_pdf():
    return synth_documents_pandas(N_DOCS, size_lo=30, size_hi=120)


@pytest.fixture(scope="module")
def docs(spark, fixture_pdf):
    df = spark.createDataFrame(fixture_pdf, schema=DOCUMENTS_SCHEMA)
    d = with_offsets(df, CFG.with_separators)
    d.cache().count()
    return d


@pytest.fixture(scope="module")
def oracle_corpus(fixture_pdf):
    texts = [t.encode("utf-8") for t in fixture_pdf["text"]]
    corpus, sizes = pyref.build_corpus(texts, with_separators=True)
    return texts, corpus, sizes


# --- kernel-level oracles ---------------------------------------------------


def test_window_hashes_match_direct():
    rng = np.random.RandomState(0)
    buf = rng.randint(0, 256, size=500).astype(np.uint8)
    L = 7
    h = window_hashes(buf, L, ROLLHASH_X1)
    assert len(h) == 500 - L + 1
    # equal windows <=> equal hashes on a buffer with planted repeats
    buf2 = np.concatenate([buf, buf[100:200]])
    h2 = window_hashes(buf2, L, ROLLHASH_X1)
    assert np.array_equal(h2[100 : 200 - L + 1], h2[500 : 600 - L + 1])
    # direct polynomial evaluation spot check
    x = ROLLHASH_X1
    for i in (0, 13, 400):
        direct = 0
        for j in range(L):
            direct = (direct * x + int(buf[i + j])) % (1 << 64)
        # apply the same bijective mix (intentional uint64 wrap — silence
        # only here so real overflow warnings elsewhere stay visible)
        with np.errstate(over="ignore"):
            m = np.uint64(direct)
            m = m ^ (m >> np.uint64(33))
            m = m * np.uint64(0xFF51AFD7ED558CCD)
            m = m ^ (m >> np.uint64(29))
        assert h[i] == m


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"a",
        b"aaaaaaaaaaaa",
        b"banana",
        b"the quick brown fox jumps over the lazy dog the quick brown fox",
        bytes([255, 254, 0, 1, 255, 255, 0, 0, 1]),
    ],
)
def test_suffix_array_vs_naive(data):
    # reference's declared oracle: sorted(S[i:] ...) (main.rs:23-24)
    got = suffix_array(np.frombuffer(data, dtype=np.uint8)).tolist()
    assert got == pyref.naive_suffix_array(data)


def test_fold_positions():
    L = 10
    pos = np.array([0, 5, 14, 40, 50, 61], dtype=np.int64)
    got = _fold_positions(pos, L).tolist()
    assert got == [list(r) for r in pyref.collect_ranges(pos.tolist(), L)]


# --- distributed operators vs oracle ----------------------------------------


def test_self_similar_matches_oracle(spark, docs, oracle_corpus):
    _, corpus, _ = oracle_corpus
    expected = sorted(pyref.self_similar_positions(corpus, CFG.length_threshold))
    got = sorted(
        r["pos"] for r in self_similar(docs, CFG).select("pos").collect()
    )
    assert expected, "fixture must contain planted duplicates"
    assert got == expected


def test_collect_ranges_match_oracle(spark, docs, oracle_corpus):
    _, corpus, _ = oracle_corpus
    dup_pos = pyref.self_similar_positions(corpus, CFG.length_threshold)
    expected = pyref.collect_ranges(dup_pos, CFG.length_threshold)
    dups = self_similar(docs, CFG)
    got = sorted(
        (r["start"], r["end"])
        for r in coalesce_positions(dups, CFG.length_threshold).collect()
    )
    assert got == expected


def test_strike_byte_identical(spark, docs, oracle_corpus):
    texts, corpus, sizes = oracle_corpus
    dup_pos = pyref.self_similar_positions(corpus, CFG.length_threshold)
    ranges = pyref.collect_ranges(dup_pos, CFG.length_threshold)
    expected = pyref.apply_removals(texts, sizes, ranges, with_separators=True)
    dups = self_similar(docs, CFG)
    remove = coalesce_positions(dups, CFG.length_threshold)
    out = apply_removals(docs, remove, CFG).collect()
    got = {r["doc_id"]: bytes(r["deduped"]) for r in out}
    assert len(got) == len(texts)
    for k, exp in enumerate(expected):
        assert got[k] == exp, f"doc {k} not byte-identical"
    # something must actually have been removed
    assert any(got[k] != texts[k] for k in range(len(texts)))


def test_metamorphic_rerun_collapses(spark, docs, oracle_corpus):
    """Reference README.md:229-246: re-running dedup on deduped output
    collapses the duplicate count (3,374,227 -> 374 pattern)."""
    texts, corpus, sizes = oracle_corpus
    before = len(pyref.self_similar_positions(corpus, CFG.length_threshold))
    dups = self_similar(docs, CFG)
    remove = coalesce_positions(dups, CFG.length_threshold)
    out = apply_removals(docs, remove, CFG).collect()
    new_texts = [bytes(r["deduped"]) for r in sorted(out, key=lambda r: r["doc_id"])]
    corpus2, _ = pyref.build_corpus(new_texts, with_separators=True)
    after = len(pyref.self_similar_positions(corpus2, CFG.length_threshold))
    assert before > 0
    assert after < before * 0.05


def test_count_occurrences(spark, docs, fixture_pdf, oracle_corpus):
    _, corpus, _ = oracle_corpus
    # queries: planted substrings, an absent string, an overlapping self-match
    t0 = fixture_pdf["text"][0]
    queries = [
        (0, t0[5:40].encode()),
        (1, b"zzzz-not-present-zzzz"),
        (2, t0.encode()[:120]),
        (3, b"aaaa"),  # absent; overlap semantics exercised below on corpus2
    ]
    got = {
        r["query_id"]: r["count"]
        for r in count_occurrences(docs, queries, CFG).collect()
    }
    for qid, q in queries:
        assert got[qid] == pyref.count_occurrences(corpus, q), f"query {qid}"


def test_count_family_arrow_off_parity(spark, docs, fixture_pdf):
    """contains / count_occurrences / count_occurrences_indexed return the
    same rows with Arrow conversion off as on — including absent queries
    (count 0, null first_pos)."""
    from deduplicate_text_datasets_spark.operators.sa_index import (
        build_suffix_index,
        count_occurrences_indexed,
    )
    from deduplicate_text_datasets_spark.operators.suffix import contains

    t0 = fixture_pdf["text"][0]
    queries = [(0, t0[5:40].encode()), (1, b"zzzz-not-present-zzzz")]
    index = build_suffix_index(docs, CFG).cache()

    def run():
        return (
            sorted(tuple(r) for r in contains(docs, queries, CFG).collect()),
            sorted(tuple(r) for r in count_occurrences(docs, queries, CFG).collect()),
            sorted(
                tuple(r)
                for r in count_occurrences_indexed(index, queries).collect()
            ),
        )

    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        on = run()
        spark.conf.set(key, "false")
        off = run()
    finally:
        spark.conf.set(key, old)
        index.unpersist()
    assert off == on
    present, counts, indexed = on
    assert present == [(0, True), (1, False)]
    assert counts == indexed
    assert counts[0][1] > 0 and counts[0][2] is not None
    assert counts[1] == (1, 0, None)


def test_count_occurrences_overlapping(spark):
    """"aaaa".count("aa") == 3 semantics (main.rs:629-632)."""
    from deduplicate_text_datasets_spark.sources.documents import EPOCH

    df = spark.createDataFrame(
        [(0, "u0", EPOCH, b"", "aaaa", "en")], schema=DOCUMENTS_SCHEMA
    )
    cfg = ExactSubstrConfig(
        length_threshold=2, shard_bytes=1024, overlap_bytes=8, with_separators=True
    )
    docs = with_offsets(df, cfg.with_separators)
    got = {
        r["query_id"]: r["count"]
        for r in count_occurrences(docs, [(0, b"aa")], cfg).collect()
    }
    assert got[0] == 3


def test_across_similar(spark, docs, fixture_pdf, oracle_corpus):
    from deduplicate_text_datasets_spark.sources.documents import (
        synth_documents_pandas as synth,
    )

    _, corpus_a, _ = oracle_corpus
    # corpus B: a few docs copied from A plus fresh ones (contamination)
    pdf_b = synth(30, size_lo=30, size_hi=120).copy()
    pdf_b.loc[3, "text"] = fixture_pdf["text"][7]
    pdf_b.loc[11, "text"] = fixture_pdf["text"][40]
    texts_b = [t.encode() for t in pdf_b["text"]]
    corpus_b, _ = pyref.build_corpus(texts_b, with_separators=True)
    exp_a, exp_b = pyref.across_similar_positions(
        corpus_a, corpus_b, CFG.length_threshold
    )

    df_b = with_offsets(
        spark.createDataFrame(pdf_b, schema=DOCUMENTS_SCHEMA), True
    )
    fp_a = window_fingerprints(docs, CFG)
    fp_b = window_fingerprints(df_b, CFG)
    dups_a, dups_b = across_similar(fp_a, fp_b, CFG)
    assert sorted(r["pos"] for r in dups_a.collect()) == exp_a
    assert sorted(r["pos"] for r in dups_b.collect()) == exp_b
    assert exp_a and exp_b


def test_find_training_data(spark, docs, fixture_pdf, oracle_corpus):
    _, corpus, _ = oracle_corpus
    q = (fixture_pdf["text"][3][:30] + "QXQXQX").encode()
    got = {
        (r["query_id"], r["qpos"]): r["match_len"]
        for r in find_training_data(docs, [(7, q)], CFG, probe_cap=64).collect()
    }
    exp = pyref.longest_match_lengths(corpus, q, cap=64)
    for i in range(len(q)):
        assert got[(7, i)] == exp[i], f"qpos {i}"


def test_window_hashes_block_invariant():
    """The cache-blocked formulation is bit-identical for ANY block size
    (mod-2^64 multiplication is associative): weird block, block > n
    (single-block = the unblocked math), block = 1, and the default."""
    rng = np.random.RandomState(3)
    buf = rng.randint(0, 256, size=1000).astype(np.uint8)
    L = 9
    ref = window_hashes(buf, L, ROLLHASH_X1, block=len(buf) + 10)
    for blk in (1, 7, 37, 256, 999, 1000):
        assert np.array_equal(window_hashes(buf, L, ROLLHASH_X1, block=blk), ref), blk
