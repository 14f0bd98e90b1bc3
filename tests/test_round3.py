"""Round-3 coverage: tokenized-mode ExactSubstr (reference --tokenize,
README.md:74,125; main.rs:762-768), the batched match-length kernel, the
SA-index overlap guard + persisted build config, exact-frame checks for the
two rows-only gate queries (minhash signatures, simhash fingerprints), and
the byte-sized scan fan-out.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from deduplicate_text_datasets_spark.config import (
    MINHASH_SEED,
    ExactSubstrConfig,
    MinHashConfig,
    SimHashConfig,
)
from deduplicate_text_datasets_spark.functions.text import (
    tokenize_corpus,
    tokenized_documents,
)
from deduplicate_text_datasets_spark.oracle import pyref
from deduplicate_text_datasets_spark.oracle.pyref import _match_lens_loop
from deduplicate_text_datasets_spark.operators.suffix import (
    _batched_match_lens,
    count_occurrences,
    find_training_data,
    self_similar,
    suffix_array,
)
from deduplicate_text_datasets_spark.sources.corpus import with_offsets
from deduplicate_text_datasets_spark.sources.documents import (
    DOCUMENTS_SCHEMA,
    synth_documents_pandas,
)

# token-mode cfg: thresholds are BYTES = 2 x tokens (README.md:125)
TOK_CFG = ExactSubstrConfig(
    length_threshold=40,  # 20 tokens
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
    """Packed-u16 token corpus as the ExactSubstr input frame."""
    t = tokenized_documents(docs)
    t.cache().count()
    return t


@pytest.fixture(scope="module")
def tok_oracle(spark, docs):
    """pyref ground truth over the SAME packed byte payloads."""
    rows = (
        tokenize_corpus(docs)
        .select("doc_id", "packed")
        .orderBy("doc_id")
        .collect()
    )
    packed = [bytes(r["packed"]) for r in rows]
    corpus, sizes = pyref.build_corpus(packed, with_separators=True)
    return packed, corpus, sizes


# --- tokenized-mode ExactSubstr --------------------------------------------


def test_tokenized_self_similar_matches_pyref(spark, tok_docs, tok_oracle):
    """Token-mode self-similar: byte L=40 over the packed corpus == the
    20-token rule. Every duplicate position must be byte-exact vs pyref
    over the identical packed layout (x2-offset rule: positions are byte
    offsets = 2 x token offsets)."""
    _, corpus, _ = tok_oracle
    want = pyref.self_similar_positions(corpus, TOK_CFG.length_threshold)
    got = sorted(
        r["pos"]
        for r in self_similar(tok_docs, TOK_CFG).select("pos").collect()
    )
    assert got == want
    assert len(want) > 0  # fixture plants >=20-token shared runs


def test_tokenized_x2_offset_rule(spark, tok_docs, tok_oracle):
    """x2-offset rule (README.md:125): a run of T shared tokens is 2T
    shared bytes in the packed layout, so the byte-L=2*tokL duplicate set
    contains the token-aligned run head, and its byte offset halves to the
    token offset exactly (even, by the 6-byte separator parity)."""
    packed, corpus, sizes = tok_oracle
    dup_pos = set(
        r["pos"]
        for r in self_similar(tok_docs, TOK_CFG).select("pos").collect()
    )
    assert dup_pos
    # token-aligned duplicate heads: even in-doc offsets, present in pyref
    aligned = [
        p
        for p in dup_pos
        if (lambda d: p - sizes[d] - 6 >= 0 and (p - sizes[d] - 6) % 2 == 0)(
            max(i for i in range(len(sizes) - 1) if sizes[i] <= p)
        )
    ]
    assert aligned, "no token-aligned duplicate head found"
    for p in aligned[:5]:
        d = max(i for i in range(len(sizes) - 1) if sizes[i] <= p)
        tok_off = (p - sizes[d] - 6) // 2  # byte offset / 2 = token offset
        assert 0 <= tok_off * 2 <= len(packed[d])


def test_tokenized_count_occurrences(spark, tok_docs, tok_oracle):
    packed, corpus, _ = tok_oracle
    # a 15-token (30-byte) probe from doc 3's body + an absent probe
    probe = packed[3][10:40]
    absent = b"\x01\x02" * 15
    out = {
        r["query_id"]: r["count"]
        for r in count_occurrences(
            tok_docs, [(0, probe), (1, absent)], TOK_CFG
        ).collect()
    }
    assert out[0] == pyref.count_occurrences(corpus, probe)
    assert out[0] >= 1
    assert out[1] == pyref.count_occurrences(corpus, absent)


def test_tokenized_find_training_data_step2(spark, tok_docs, tok_oracle):
    """Token mode probes every OTHER byte (step=2, main.rs:762-768): qpos
    are even byte offsets = 2 x token offsets; match lengths equal the
    naive pyref LCP at those offsets."""
    packed, corpus, _ = tok_oracle
    q = packed[5][:40] + b"\x99\x98" * 4
    out = find_training_data(tok_docs, [(0, q)], TOK_CFG, step=2)
    got = {
        int(r["qpos"]): int(r["match_len"]) for r in out.collect()
    }
    want_all = pyref.longest_match_lengths(corpus, q)
    assert set(got) == set(range(0, len(q), 2))
    for i in range(0, len(q), 2):
        assert got[i] == want_all[i], f"qpos {i}"


# --- batched match-length kernel -------------------------------------------


def test_batched_match_lens_matches_loop_randomized():
    rng = np.random.RandomState(7)
    for trial in range(25):
        n = rng.randint(1, 500)
        alpha = rng.choice([2, 4, 256])
        buf = rng.randint(0, alpha, n).astype(np.uint8)
        sa = suffix_array(buf)
        qn = rng.randint(1, 120)
        q = rng.randint(0, alpha, qn).astype(np.uint8)
        qpos = np.arange(0, qn, dtype=np.int64)
        cap = int(rng.choice([8, 50, 65536]))
        got = _batched_match_lens(buf, sa, q, qpos, cap)
        want = _match_lens_loop(buf, sa, q, qpos, cap)
        assert np.array_equal(got, want), f"trial {trial}"


def test_batched_match_lens_zero_bytes_and_long_dup():
    """NUL-byte corpora (packed-u16 layouts) and whole-buffer duplicates
    (narrow-range early-out path)."""
    buf = np.frombuffer(b"ab\x00cd\x00\x00ef" * 40 + b"tail", np.uint8)
    sa = suffix_array(buf)
    q = np.frombuffer(b"ab\x00cd\x00\x00ef" * 10 + b"\x00\x00\x00zz", np.uint8)
    qpos = np.arange(0, len(q), dtype=np.int64)
    got = _batched_match_lens(buf, sa, q, qpos, 65536)
    want = _match_lens_loop(buf, sa, q, qpos, 65536)
    assert np.array_equal(got, want)


def test_window_hashes_power_cache_growth():
    """The per-worker power-table cache serves different buffer sizes by
    slicing; growth and shrink paths must agree with a fresh computation."""
    from deduplicate_text_datasets_spark.config import ROLLHASH_X1
    from deduplicate_text_datasets_spark.operators.suffix import (
        _POW_CACHE,
        window_hashes,
    )

    rng = np.random.RandomState(11)
    _POW_CACHE.clear()
    b200 = rng.randint(0, 256, 200).astype(np.uint8)
    h_cold = window_hashes(b200, 9, ROLLHASH_X1).copy()
    # shrink (cache larger than needed) then grow (cache must extend)
    h_small = window_hashes(b200[:80], 9, ROLLHASH_X1).copy()
    b400 = np.concatenate([b200, rng.randint(0, 256, 200).astype(np.uint8)])
    h_big = window_hashes(b400, 9, ROLLHASH_X1).copy()
    _POW_CACHE.clear()
    assert np.array_equal(window_hashes(b200, 9, ROLLHASH_X1), h_cold)
    _POW_CACHE.clear()
    assert np.array_equal(window_hashes(b200[:80], 9, ROLLHASH_X1), h_small)
    _POW_CACHE.clear()
    assert np.array_equal(window_hashes(b400, 9, ROLLHASH_X1), h_big)
    # prefix property: windows fully inside the shared prefix hash equal
    assert np.array_equal(h_big[: len(h_cold)], h_cold)


def test_suffix_array_adversarial_dup_heavy():
    rng = np.random.RandomState(3)
    base = rng.randint(0, 5, 700).astype(np.uint8)
    buf = np.concatenate([base, base[:300], np.zeros(40, np.uint8)])
    got = suffix_array(buf)
    want = np.array(
        sorted(range(len(buf)), key=lambda i: bytes(buf[i:])), dtype=np.int64
    )
    assert np.array_equal(got, want)


# --- SA index: build-config persistence + overlap guard --------------------


def test_sa_index_overlap_guard(spark, docs, tmp_path_factory):
    from deduplicate_text_datasets_spark.operators.sa_index import (
        build_suffix_index,
        count_occurrences_indexed,
        find_positions_indexed,
        read_suffix_index,
        write_suffix_index,
    )
    from deduplicate_text_datasets_spark.operators.suffix import (
        count_occurrences,
        find_positions,
    )

    cfg = ExactSubstrConfig(
        length_threshold=50, shard_bytes=4096, overlap_bytes=64,
        with_separators=True,
    )
    path = str(tmp_path_factory.mktemp("idx") / "sa")
    write_suffix_index(build_suffix_index(docs, cfg), path)
    index = read_suffix_index(spark, path)
    # build config persisted with the index
    assert {"shard_bytes", "overlap_bytes", "with_separators"} <= set(
        index.columns
    )
    row = index.select("shard_bytes", "overlap_bytes").first()
    assert (row["shard_bytes"], row["overlap_bytes"]) == (4096, 64)
    # a query longer than overlap+1 could miss boundary-straddling
    # occurrences -> the indexed and the live count/position operators
    # must all refuse it
    ops = {
        "count_occurrences_indexed": lambda q: count_occurrences_indexed(index, q),
        "find_positions_indexed": lambda q: find_positions_indexed(index, q),
        "count_occurrences": lambda q: count_occurrences(docs, q, cfg),
        "find_positions": lambda q: find_positions(docs, q, cfg),
    }
    long_q = b"x" * 66
    for name, op in ops.items():
        with pytest.raises(ValueError, match="overlap"):
            op([(0, long_q)]).collect()
    # at the limit they work
    at_limit = [(0, b"y" * 65)]
    for name in ("count_occurrences_indexed", "count_occurrences"):
        assert ops[name](at_limit).collect()[0]["count"] == 0, name
    for name in ("find_positions_indexed", "find_positions"):
        assert ops[name](at_limit).collect() == [], name


# --- exact-frame evidence for the two rows-only gate queries ---------------


def test_minhash_signatures_exact_frame(spark, docs):
    """The gate query `minhash_signatures` has no DuckDB oracle (no
    xxhash64 there); this is its exact oracle instead: the posexploded
    Spark frame must equal brute-force numpy permutations applied to the
    Spark-computed shingle sets, row for row."""
    from deduplicate_text_datasets_spark.operators.minhash import (
        MERSENNE31,
        doc_shingles,
        minhash_signatures,
        permutation_params,
    )

    cfg = MinHashConfig()
    shingled = doc_shingles(docs, cfg)
    sh_rows = shingled.collect()
    a, b = permutation_params(cfg)
    p = np.int64(MERSENNE31)
    want: dict[tuple[int, int], int] = {}
    for r in sh_rows:
        h32 = np.asarray(r["sh"], dtype=np.int64) & np.int64(0x7FFFFFFF)
        for j in range(cfg.num_perm):
            want[(r["doc_id"], j)] = int(((h32 * a[j] + b[j]) % p).min())
    got_rows = (
        minhash_signatures(shingled, cfg)
        .select("doc_id", F.posexplode("sig").alias("perm", "sig_value"))
        .collect()
    )
    got = {(r["doc_id"], r["perm"]): r["sig_value"] for r in got_rows}
    assert got == want
    assert len(got) == len(sh_rows) * cfg.num_perm


def test_simhash_fingerprints_exact(spark, docs):
    """Exact-frame oracle for the simhash side: fingerprints must equal
    the bit-vote definition applied to the Spark-computed token hashes."""
    from deduplicate_text_datasets_spark.functions.text import tokens
    from deduplicate_text_datasets_spark.operators.simhash import (
        simhash_fingerprints,
    )

    hashed = (
        docs.select(
            "doc_id",
            F.transform(tokens("text"), lambda t: F.xxhash64(t)).alias("th"),
        )
        .filter(F.size("th") > 0)
        .collect()
    )
    want = {}
    for r in hashed:
        th = np.asarray(r["th"], dtype=np.int64).view(np.uint64)
        fp = 0
        for j in range(64):
            ones = int(((th >> np.uint64(j)) & np.uint64(1)).sum())
            if 2 * ones >= len(th):
                fp |= 1 << j
        want[r["doc_id"]] = np.int64(np.uint64(fp))
    got = {
        r["doc_id"]: r["fingerprint"]
        for r in simhash_fingerprints(docs).collect()
    }
    assert got == want


def test_simhash_candidates_no_window(spark, docs):
    """The r02 count-over-window skew funnel is gone: candidate generation
    must plan groupBy + join-back, never a WindowExec over (block, value)."""
    from deduplicate_text_datasets_spark.operators.simhash import (
        simhash_candidates,
        simhash_fingerprints,
    )

    cand = simhash_candidates(simhash_fingerprints(docs), SimHashConfig())
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    cand.count()  # and it still executes


# --- sources: byte-sized fan-out ------------------------------------------


def test_size_bytes_parser():
    from deduplicate_text_datasets_spark.sources.documents import _size_bytes

    assert _size_bytes("134217728b") == 134217728
    assert _size_bytes("128m") == 128 << 20
    assert _size_bytes("128MB") == 128 << 20
    assert _size_bytes("1g") == 1 << 30
    assert _size_bytes("4096") == 4096


def test_pack_rejects_wide_ids(spark):
    from deduplicate_text_datasets_spark.functions.text import (
        make_tokenizer_udf,
    )

    wide = make_tokenizer_udf(lambda texts: texts.map(lambda t: [70000]))
    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(Exception, match="65535"):
        tokenize_corpus(df, tokenizer=wide).select("packed").collect()
