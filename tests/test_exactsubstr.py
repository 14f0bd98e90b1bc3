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
    across_similar,
    count_occurrences,
    find_training_data,
    minimizer_width,
    self_similar,
    sliding_argmin,
    suffix_array,
    window_fingerprints,
    window_hashes,
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


# --- minimizer-keyed two-pass plan -----------------------------------------


def _brute_argmin(a, w):
    """Leftmost argmin of every length-w window, O(n*w)."""
    from numpy.lib.stride_tricks import sliding_window_view

    return np.argmin(sliding_window_view(a, w), axis=1) + np.arange(len(a) - w + 1)


@pytest.mark.parametrize(
    "case",
    ["random_bytes", "periodic_below_w", "all_identical", "w_is_one"],
)
def test_sliding_argmin_matches_bruteforce(case):
    rng = np.random.RandomState(11)
    a, w = {
        # longer than one argmin chunk, so chunk seams are crossed
        "random_bytes": (rng.randint(0, 256, size=70_000).astype(np.uint8), 50),
        "periodic_below_w": (np.tile(rng.randint(0, 2**62, size=7).astype(np.uint64), 3000), 50),
        "all_identical": (np.full(5000, 42, dtype=np.uint64), 13),
        "w_is_one": (rng.randint(0, 4, size=1000).astype(np.int64), 1),
    }[case]
    assert np.array_equal(sliding_argmin(a, w), _brute_argmin(a, w))


def _minimizer_keys(corpus: bytes, length: int) -> np.ndarray:
    """Brute-force minimizer key of every length-L window of ``corpus``:
    the lowest hash among its w k-grams."""
    from numpy.lib.stride_tricks import sliding_window_view

    w = minimizer_width(length)
    kh = window_hashes(
        np.frombuffer(corpus, dtype=np.uint8), length - w + 1, ROLLHASH_X1
    )
    return sliding_window_view(kh, w).min(axis=1).view(np.int64)


def _oracle_rows(pdf, cfg):
    """pyref.self_similar_clusters as sorted (pos, cluster_id, cluster_size)
    rows; cluster_id is the min member position."""
    corpus, _ = pyref.build_corpus(
        [t.encode("utf-8") for t in pdf["text"]], cfg.with_separators
    )
    clusters = pyref.self_similar_clusters(
        corpus, cfg.length_threshold, cfg.frequency_threshold
    )
    return sorted((p, min(ps), len(ps)) for ps in clusters.values() for p in ps)


def _docs_frame(spark, texts):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "url": [f"u{i}" for i in range(len(texts))],
            "text": texts,
        }
    )
    return pdf, spark.createDataFrame(pdf, "doc_id long, url string, text string")


@pytest.mark.parametrize("case", ["periodic", "shard_seams", "frequency_threshold"])
def test_self_similar_minimizer_plan_matches_oracle(spark, case):
    """The two-pass plan equals the pure-Python clusters where minimizers
    are hardest: periodic text (one window holds its minimum k-gram many
    times), duplicate windows straddling many shard seams, and
    frequency_threshold > 0 (pass 1 keeps keys counted > 2)."""
    rng = np.random.RandomState(5)
    words = ["alpha", "beta", "gamma", "delta", "omega", "kappa", "zeta"]

    def prose(n):
        return " ".join(rng.choice(words, size=n))

    L = 50
    if case == "periodic":
        cfg = ExactSubstrConfig(
            length_threshold=L, shard_bytes=1024, overlap_bytes=64
        )
        texts = ["abcde" * 60, "xyz" * 40 + prose(10), prose(15) + "abcde" * 20,
                 "q" * 120, prose(20)]
    elif case == "shard_seams":
        cfg = ExactSubstrConfig(
            length_threshold=L, shard_bytes=128, overlap_bytes=L - 1
        )
        shared = prose(30)
        texts = [prose(5) + shared + prose(4), shared, prose(12),
                 prose(3) + shared[40:] + prose(6), prose(8) + shared]
    else:
        cfg = ExactSubstrConfig(
            length_threshold=L, frequency_threshold=2, shard_bytes=512,
            overlap_bytes=64,
        )
        two, three = prose(20), prose(20)
        texts = [two, prose(6) + two, three, three + prose(3), prose(4) + three,
                 prose(25)]
    pdf, docs = _docs_frame(spark, texts)
    want = _oracle_rows(pdf, cfg)
    assert want, "fixture must contain duplicates"
    if case == "frequency_threshold":
        assert min(t[2] for t in want) == 3
    got = sorted(tuple(r) for r in self_similar(docs, cfg).collect())
    assert got == want
    spark.catalog.clearCache()


SS_CFG = ExactSubstrConfig(
    length_threshold=50, shard_bytes=4096, overlap_bytes=64,
    with_separators=True,
)


@pytest.fixture(scope="module")
def small_pdf():
    return synth_documents_pandas(40, size_lo=30, size_hi=120)


@pytest.fixture(scope="module")
def small_docs(spark, small_pdf):
    return spark.createDataFrame(small_pdf, schema=DOCUMENTS_SCHEMA)


def test_self_similar_prefilter_parity(spark, small_docs, small_pdf):
    """The two-pass plan is bit-identical to the pure-Python clusters."""
    got = sorted(tuple(r) for r in self_similar(small_docs, SS_CFG).collect())
    assert got and got == _oracle_rows(small_pdf, SS_CFG)
    spark.catalog.clearCache()


def test_prefilter_pass2_ships_only_candidates(spark, small_docs, small_pdf):
    """Pass 2 emits EXACTLY the windows whose minimizer key pass 1 kept:
    every true duplicate window, and fewer rows than positions, so the
    singleton majority never enters the exchange."""
    from pyspark.sql import functions as F

    from deduplicate_text_datasets_spark.operators.suffix import window_keys

    key_pdf = (
        window_keys(small_docs, SS_CFG)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter("c >= 2")
        .select("k")
        .toPandas()
    )
    keys = np.sort(key_pdf["k"].to_numpy(np.int64))
    bc = spark.sparkContext.broadcast(keys)
    got = sorted(
        r["pos"]
        for r in window_fingerprints(small_docs, SS_CFG, dup_keys_bc=bc)
        .select("pos")
        .collect()
    )
    corpus, _ = pyref.build_corpus(
        [t.encode("utf-8") for t in small_pdf["text"]], True
    )
    mk = _minimizer_keys(corpus, SS_CFG.length_threshold)
    assert got == np.nonzero(np.isin(mk, keys))[0].tolist()
    dups = pyref.self_similar_positions(corpus, SS_CFG.length_threshold)
    assert set(dups) <= set(got)
    assert len(got) < len(mk), "fixture has no singleton windows? test is vacuous"
    bc.destroy()
    spark.catalog.clearCache()


# --- batched suffix-array descent ------------------------------------------


def _descent_shard():
    """One shard: separator-framed docs with repeats, NUL and 0xff bytes,
    owned range cut short of the buffer end (the trailing overlap)."""
    rng = np.random.RandomState(17)
    texts = [b"the cat sat on the mat. " * 3, b"a\x00b\xff\xffc" * 5, b"aaaaaaaa"]
    texts += [rng.bytes(rng.randint(5, 90)) for _ in range(12)]
    texts += [texts[0][:70], b"zz\x00\x00zz"]
    corpus, _ = pyref.build_corpus(texts, with_separators=True)
    buf = np.frombuffer(corpus, np.uint8)
    return corpus, buf, suffix_array(buf), 5000, 5000 + len(buf) - 40


def _descent_queries(corpus):
    rng = np.random.RandomState(5)
    qs = [b"", b"\x00", b"\xff", b"\xff\xff", b"a\x00b\xff", b"aa", b"aaaa"]
    qs += [corpus[-k:] for k in (1, 3, 9, 70)]  # the shard's tail
    for n in list(range(1, 10)) + [63, 64, 65, 77, 100]:
        at = rng.randint(0, len(corpus) - n)
        qs.append(corpus[at : at + n])
        qs.append(corpus[at : at + n - 1] + b"Q")  # absent, mostly
    qs += [b"QQQQ", b"the cat sat on the mat. the cat", b"absent" * 12]
    return [(3 * i + 2, q) for i, q in enumerate(qs)]


def _check_counts_positions(corpus, buf, sa, lo, own_hi, queries):
    from deduplicate_text_datasets_spark.operators.suffix import (
        _query_arrays,
        _shard_counts,
        _shard_positions,
    )

    batch = _query_arrays(queries)
    counts = _shard_counts(lo, own_hi, buf, sa, batch)
    got_counts = {
        int(r.query_id): (int(r.cnt), int(r.first_pos))
        for r in counts.itertuples()
    }
    pos = _shard_positions(lo, own_hi, buf, sa, batch)
    got_pos = {}
    for qid, p in zip(pos["query_id"], pos["pos"]):
        got_pos.setdefault(int(qid), []).append(int(p))
    want_counts, want_pos = {}, {}
    for qid, q in queries:
        if not q:
            continue
        first, last = pyref._sa_range(buf, sa, np.frombuffer(q, np.uint8))
        owned = sorted(p + lo for p in sa[first:last] if p + lo < own_hi)
        scan, at = [], corpus.find(q)
        while at != -1:  # overlapping occurrences
            if at + lo < own_hi:
                scan.append(at + lo)
            at = corpus.find(q, at + 1)
        assert owned == scan, qid
        if owned:
            want_counts[qid] = (len(owned), owned[0])
            want_pos[qid] = owned
    assert got_counts == want_counts
    assert {q: sorted(p) for q, p in got_pos.items()} == want_pos
    assert len(want_counts) > 10 and len(want_counts) < len(queries) - 3


def test_batched_prefix_ranges_counts_and_positions():
    """One lockstep prefix-range descent answers a whole query batch
    exactly as the per-query double binary search and a brute-force
    overlapping scan do: partial chunks, absent and empty queries, NUL and
    0xff bytes, and queries ending at the shard's last byte."""
    corpus, buf, sa, lo, own_hi = _descent_shard()
    _check_counts_positions(corpus, buf, sa, lo, own_hi, _descent_queries(corpus))


def _check_match_lens(corpus, buf, sa, queries):
    from deduplicate_text_datasets_spark.oracle.pyref import _match_lens_loop
    from deduplicate_text_datasets_spark.operators.suffix import (
        _query_arrays,
        _shard_match_lens,
    )

    batch = _query_arrays(queries)
    for cap, step in ((65536, 1), (7, 3), (64, 2)):
        got = _shard_match_lens(0, len(buf), buf, sa, batch, cap, step)
        for qid, q in queries:
            qa = np.frombuffer(q, np.uint8)
            qpos = np.arange(0, len(qa), step, dtype=np.int64)
            rows = got[got["query_id"] == qid]
            assert rows["qpos"].tolist() == qpos.tolist()
            want = _match_lens_loop(buf, sa, qa, qpos, cap)
            assert np.array_equal(rows["match_len"].to_numpy(), want), (qid, cap)


def test_batched_match_lens_query_batch():
    """A 40-query batch in one descent equals the per-probe loop, at
    several (probe_cap, step), with queries that run past the buffer end
    and whole-document matches (the blockwise finish)."""
    corpus, buf, sa, _, _ = _descent_shard()
    rng = np.random.RandomState(9)
    queries = []
    for qid in range(40):
        kind = qid % 4
        if kind == 0:  # runs past the buffer end
            q = corpus[-rng.randint(1, 60) :] + rng.bytes(5)
        elif kind == 1:  # a long in-corpus match
            at = rng.randint(0, len(corpus) - 150)
            q = corpus[at : at + rng.randint(20, 150)] + b"Q"
        elif kind == 2:
            q = rng.bytes(rng.randint(0, 30))
        else:
            q = b"the cat sat on the mat. " * 4 + b"\x00\xff"
        queries.append((qid, q))
    _check_match_lens(corpus, buf, sa, queries)


def test_batched_descent_spans_probe_chunks(monkeypatch):
    """Batches larger than one descent's probe cap run as several chunks,
    finish rounds narrower than one long match, and matches longer than
    the lockstep finish (the contiguous compare) give the same answers."""
    from deduplicate_text_datasets_spark.operators import suffix

    monkeypatch.setattr(suffix, "_PROBE_BATCH", 7)
    monkeypatch.setattr(suffix, "_LCP_BLOCK", 40)
    monkeypatch.setattr(suffix, "_LCP_LOCKSTEP", 24)
    corpus, buf, sa, lo, own_hi = _descent_shard()
    queries = _descent_queries(corpus)
    _check_counts_positions(corpus, buf, sa, lo, own_hi, queries)
    long = [(998, corpus[10:120] + b"Q" + corpus[121:200]), (999, corpus[10:300])]
    _check_match_lens(corpus, buf, sa, queries[:12] + long)
