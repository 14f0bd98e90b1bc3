"""Round-5 coverage: path-keyed SA-index overlap memo, the small ADVICE
hygiene fixes (size-conf warning, AcrossDedupResult iteration
deprecation), the xxh64 and expected-result oracles, the across_dedup
prefilter, chunked kernel emit, the duplicate-window census and the
mappass dedup pass.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from deduplicate_text_datasets_spark.config import ExactSubstrConfig
from deduplicate_text_datasets_spark.oracle import pyref
from deduplicate_text_datasets_spark.sources.documents import (
    DOCUMENTS_SCHEMA,
    synth_documents_pandas,
)


@pytest.fixture(scope="module")
def fixture_pdf():
    return synth_documents_pandas(40, size_lo=30, size_hi=120)


@pytest.fixture(scope="module")
def docs(spark, fixture_pdf):
    return spark.createDataFrame(fixture_pdf, schema=DOCUMENTS_SCHEMA)


# --- SA index: overlap memo keyed by path (round-4 verdict item 5) ---------


def test_overlap_memo_survives_reread(spark, docs, tmp_path_factory):
    """A re-read of the same stored index must hit the module-level
    per-path memo instead of re-paying the one-column scan; a rewrite at
    the same path must invalidate it (the rebuild may change overlap)."""
    from deduplicate_text_datasets_spark.operators import sa_index as sx

    cfg = ExactSubstrConfig(
        length_threshold=50, shard_bytes=4096, overlap_bytes=64,
        with_separators=True,
    )
    path = str(tmp_path_factory.mktemp("idx5") / "sa")
    sx.write_suffix_index(sx.build_suffix_index(docs, cfg), path)

    first = sx.read_suffix_index(spark, path)
    sx.count_occurrences_indexed(first, [(0, b"abc")]).collect()
    assert sx._OVERLAP_BY_PATH.get(path) == 64

    # poison the PATH memo: a fresh frame from the same path must read it
    # (proof it never re-aggregates), so this 2-byte query must now raise
    sx._OVERLAP_BY_PATH[path] = 0
    reread = sx.read_suffix_index(spark, path)
    assert getattr(reread, "_sa_overlap_memo", None) is None  # fresh object
    with pytest.raises(ValueError, match="overlap"):
        sx.count_occurrences_indexed(reread, [(0, b"ab")]).collect()

    # a rewrite at the same path drops the stale entry; the next query
    # re-aggregates the true overlap and succeeds again
    sx.write_suffix_index(sx.build_suffix_index(docs, cfg), path)
    assert path not in sx._OVERLAP_BY_PATH
    again = sx.read_suffix_index(spark, path)
    sx.count_occurrences_indexed(again, [(0, b"ab")]).collect()
    assert sx._OVERLAP_BY_PATH.get(path) == 64


SS_CFG = ExactSubstrConfig(
    length_threshold=50, shard_bytes=4096, overlap_bytes=64,
    with_separators=True,
)


# --- sources hygiene (round-4 ADVICE) ---------------------------------------


def test_size_bytes_warns_on_garbage():
    from deduplicate_text_datasets_spark.sources.documents import _size_bytes

    assert _size_bytes("128m") == 128 << 20
    assert _size_bytes("134217728b") == 134217728
    with pytest.warns(UserWarning, match="maxPartitionBytes"):
        assert _size_bytes("12 parsecs") == 128 << 20


def test_across_result_iter_deprecated():
    from deduplicate_text_datasets_spark.plans.pipeline import (
        AcrossDedupResult,
    )

    res = AcrossDedupResult(1, 2, 3, 4, 5, 6)
    with pytest.warns(DeprecationWarning, match="A side"):
        assert tuple(res) == (1, 2, 3)
    # named fields carry the full symmetric result
    assert (res.dups_b, res.ranges_b, res.deduped_b) == (4, 5, 6)


# --- pure-Python xxh64 oracle (round-4 verdict item 4 groundwork) ------------


def test_xxh64_matches_spark(spark):
    """oracle.xxh64 must reproduce Spark's xxhash64 bit-for-bit for the
    shapes the gate queries hash: strings (token hashes) and array<long>
    (shingle hash-of-slice) — else the golden sidecars are garbage."""
    import random

    from deduplicate_text_datasets_spark.oracle.xxh64 import (
        xxhash64_long_array,
        xxhash64_str,
    )

    rng = random.Random(7)
    strs = [
        "", "a", "hello", "Hello World!", "x" * 7, "y" * 8, "z" * 31,
        "w" * 32, "long " * 20, "unicode é中文 mix",
    ] + ["".join(rng.choices("abcdef 0123", k=rng.randint(0, 90))) for _ in range(30)]
    arrs = [[], [0], [1, 2, 3], [-1, -(1 << 63), (1 << 63) - 1]] + [
        [rng.randint(-(1 << 63), (1 << 63) - 1) for _ in range(rng.randint(1, 12))]
        for _ in range(20)
    ]

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "i long, s string"
    ).select("i", F.xxhash64("s").alias("h"))
    got = {r["i"]: r["h"] for r in df.collect()}
    for i, s in enumerate(strs):
        assert got[i] == xxhash64_str(s), f"string mismatch: {s!r}"

    df2 = spark.createDataFrame(
        [(i, a) for i, a in enumerate(arrs)], "i long, a array<long>"
    ).select("i", F.xxhash64("a").alias("h"))
    got2 = {r["i"]: r["h"] for r in df2.collect()}
    for i, a in enumerate(arrs):
        assert got2[i] == xxhash64_long_array(a), f"array mismatch: {a!r}"


# --- expected-result generators vs the engine (verdict item 4) --------------


def test_expected_minhash_matches_engine(spark, docs):
    from deduplicate_text_datasets_spark.config import MinHashConfig
    from deduplicate_text_datasets_spark.operators.minhash import (
        doc_shingles,
        minhash_signatures,
    )
    from deduplicate_text_datasets_spark.oracle.expected import (
        minhash_signatures_expected,
    )

    cfg = MinHashConfig()
    got = sorted(
        (r["doc_id"], r["perm"], r["sig_value"])
        for r in minhash_signatures(doc_shingles(docs, cfg), cfg)
        .select("doc_id", F.posexplode("sig").alias("perm", "sig_value"))
        .collect()
    )
    pdf = docs.select("doc_id", "text").toPandas()
    want = sorted(
        map(tuple, minhash_signatures_expected(pdf, cfg).itertuples(index=False))
    )
    assert got == want


def test_expected_simhash_pairs_matches_engine(spark, docs):
    from deduplicate_text_datasets_spark.config import SimHashConfig
    from deduplicate_text_datasets_spark.operators.simhash import simhash_pairs
    from deduplicate_text_datasets_spark.oracle.expected import (
        simhash_pairs_expected,
    )

    cfg = SimHashConfig()
    got = sorted(
        (r["a"], r["b"], r["hamming"])
        for r in simhash_pairs(docs, cfg).collect()
    )
    pdf = docs.select("doc_id", "text").toPandas()
    want = sorted(
        map(tuple, simhash_pairs_expected(pdf, cfg).itertuples(index=False))
    )
    assert got == want


def test_expected_tokenized_matches_engine(spark, docs):
    from deduplicate_text_datasets_spark.config import (
        EngineConfig,
        ExactSubstrConfig,
    )
    from deduplicate_text_datasets_spark.functions.text import (
        tokenized_documents,
    )
    from deduplicate_text_datasets_spark.operators.suffix import self_similar
    from deduplicate_text_datasets_spark.plans.pipeline import (
        exactsubstr_dedup,
    )
    from deduplicate_text_datasets_spark.oracle.expected import (
        tokenized_deduped_expected,
        tokenized_self_similar_expected,
    )

    cfg = ExactSubstrConfig(
        length_threshold=40, shard_bytes=2048, overlap_bytes=512,
        with_separators=True,
    )
    pdf = docs.select("doc_id", "text").toPandas()
    tok = tokenized_documents(docs)

    got_ss = sorted(
        (r["pos"], r["cluster_id"], r["cluster_size"])
        for r in self_similar(tok, cfg).collect()
    )
    want_ss = sorted(
        map(
            tuple,
            tokenized_self_similar_expected(pdf, 40).itertuples(index=False),
        )
    )
    assert got_ss == want_ss
    spark.catalog.clearCache()

    _, deduped = exactsubstr_dedup(tok, EngineConfig(exact=cfg))
    got_dd = sorted(
        (r["doc_id"], r["sha"], r["n"])
        for r in deduped.select(
            "doc_id",
            F.sha2("deduped", 256).alias("sha"),
            F.octet_length("deduped").cast("long").alias("n"),
        ).collect()
    )
    want_dd = sorted(
        map(tuple, tokenized_deduped_expected(pdf, 40).itertuples(index=False))
    )
    assert got_dd == want_dd
    spark.catalog.clearCache()


# --- across_dedup small-side key prefilter (round-5) -------------------------


def _across_split():
    """Asymmetric split of a fresh fixture: even doc_ids and odd doc_ids
    (the bigger corpus). Exact-dup roles (k-1, k) with k odd give
    cross-side contamination at L=50 once docs are >= ~60 bytes."""
    pdf = synth_documents_pandas(40, size_lo=60, size_hi=200)
    return pdf[pdf["doc_id"] % 2 == 0], pdf[pdf["doc_id"] % 2 == 1]


def _across_sides(spark):
    """The even (A) and odd (B) sides of :func:`_across_split` as frames."""
    return tuple(
        spark.createDataFrame(p, schema=DOCUMENTS_SCHEMA) for p in _across_split()
    )


def _across_key(res):
    """Order-free signature of all six result frames."""
    return (
        sorted(r["pos"] for r in res.dups_a.collect()),
        sorted(tuple(r) for r in res.ranges_a.collect()),
        sorted((r["doc_id"], bytes(r["deduped"])) for r in res.deduped_a.collect()),
        sorted(r["pos"] for r in res.dups_b.collect()),
        sorted(tuple(r) for r in res.ranges_b.collect()),
        sorted((r["doc_id"], bytes(r["deduped"])) for r in res.deduped_b.collect()),
    )


def _corpus(pdf, with_separators):
    """(corpus bytes, doc boundaries, doc texts, doc ids) in doc_id order,
    the layout with_offsets gives the same documents."""
    pdf = pdf.sort_values("doc_id")
    ids = [int(i) for i in pdf["doc_id"]]
    texts = [t.encode("utf-8") for t in pdf["text"]]
    out, sizes = bytearray(), [0]
    for uid, t in zip(ids, texts):
        out += pyref.doc_bytes(uid, t, with_separators)
        sizes.append(len(out))
    return bytes(out), sizes, texts, ids


def _pyref_across_key(pdf_a, pdf_b, cfg):
    """:func:`_across_key` of across_dedup's answer, computed by
    oracle/pyref: across-similar positions, collect, strike."""
    L, sep = cfg.length_threshold, cfg.with_separators
    corpus_a, sizes_a, texts_a, ids_a = _corpus(pdf_a, sep)
    corpus_b, sizes_b, texts_b, ids_b = _corpus(pdf_b, sep)
    dups_a, dups_b = pyref.across_similar_positions(corpus_a, corpus_b, L)

    def side(dups, sizes, texts, ids):
        ranges = pyref.collect_ranges(dups, L)
        deduped = pyref.apply_removals(texts, sizes, ranges, sep)
        return sorted(dups), sorted(ranges), sorted(zip(ids, deduped))

    return (
        *side(dups_a, sizes_a, texts_a, ids_a),
        *side(dups_b, sizes_b, texts_b, ids_b),
    )


def test_across_dedup_prefilter_parity(spark):
    """across_dedup, which always prefilters the bigger corpus by the
    smaller one's minimizer keys, must give pyref's answer on all six
    output frames, with the bigger corpus as A and as B."""
    from deduplicate_text_datasets_spark.config import EngineConfig
    from deduplicate_text_datasets_spark.plans.pipeline import across_dedup

    cfg = EngineConfig(exact=SS_CFG)
    even, odd = _across_split()
    sep = SS_CFG.with_separators
    assert len(_corpus(even, sep)[0]) < len(_corpus(odd, sep)[0])
    for pdf_a, pdf_b in ((odd, even), (even, odd)):
        want = _pyref_across_key(pdf_a, pdf_b, SS_CFG)
        assert want[0] and want[3], "fixture must contaminate both sides"
        docs_a, docs_b = (
            spark.createDataFrame(p, schema=DOCUMENTS_SCHEMA) for p in (pdf_a, pdf_b)
        )
        assert _across_key(across_dedup(docs_a, docs_b, cfg)) == want
        spark.catalog.clearCache()


def test_across_dedup_key_sketch_follows_smaller_side(spark, caplog):
    """across_dedup always prefilters: one call logs exactly one
    suffix.key_sketch decision, and its probed rows are the distinct
    minimizer keys of the smaller corpus, whichever argument that is."""
    import logging

    from deduplicate_text_datasets_spark.config import EngineConfig
    from deduplicate_text_datasets_spark.operators.suffix import window_keys
    from deduplicate_text_datasets_spark.plans.caching import PLACEMENT_LOG
    from deduplicate_text_datasets_spark.plans.pipeline import across_dedup

    cfg = EngineConfig(exact=SS_CFG)
    small, big = _across_sides(spark)  # even doc_ids are the smaller corpus
    n_small = window_keys(small, SS_CFG).distinct().count()
    assert n_small != window_keys(big, SS_CFG).distinct().count()
    for docs_a, docs_b in ((big, small), (small, big)):
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=PLACEMENT_LOG):
            across_dedup(docs_a, docs_b, cfg)
        recs = [
            r
            for r in caplog.records
            if getattr(r, "stage", None) == "suffix.key_sketch"
        ]
        assert len(recs) == 1
        assert recs[0].rows == n_small
        spark.catalog.clearCache()


def test_across_prefilter_big_side_ships_only_candidates(spark):
    """Pass 2 on the big side must emit EXACTLY the positions whose
    minimizer key occurs in the small side's key set — the cross-corpus
    analogue of the self_similar prefilter invariant."""
    from numpy.lib.stride_tricks import sliding_window_view

    from deduplicate_text_datasets_spark.config import ROLLHASH_X1
    from deduplicate_text_datasets_spark.operators.suffix import (
        minimizer_width,
        window_fingerprints,
        window_hashes,
        window_keys,
    )
    from deduplicate_text_datasets_spark.sources.corpus import doc_payload

    docs_a, docs_b = _across_sides(spark)
    keys_b = np.sort(
        window_keys(docs_b, SS_CFG)
        .distinct()
        .toPandas()["k"]
        .to_numpy(np.int64)
    )
    # brute-force minimizer key of every A window: the lowest hash among
    # its w k-grams, over A's corpus in doc_id order
    rows = sorted((r["doc_id"], r["text"]) for r in docs_a.collect())
    corpus = b"".join(doc_payload(i, t, True) for i, t in rows)
    L = SS_CFG.length_threshold
    w = minimizer_width(L)
    kh = window_hashes(np.frombuffer(corpus, np.uint8), L - w + 1, ROLLHASH_X1)
    keys_a = sliding_window_view(kh, w).min(axis=1).view(np.int64)
    expected = int(np.isin(keys_a, keys_b).sum())
    bc = spark.sparkContext.broadcast(keys_b)
    n_pre = window_fingerprints(docs_a, SS_CFG, dup_keys_bc=bc).count()
    assert n_pre == expected
    assert 0 < n_pre < len(keys_a)
    spark.catalog.clearCache()


# --- chunked kernel emit (stress-scale OOM fix) ------------------------------


def test_fp_kernel_chunked_emit_parity(spark, docs):
    """The iterator-form kernels must produce the identical frame at any
    emit-batch size (the classic single-batch-per-group path allocated
    ~1.5 GiB of JVM direct memory per 64 MiB shard — measured OOM in the
    stress run). Forcing 64-row slices exercises many batches per shard."""
    from deduplicate_text_datasets_spark.operators.suffix import (
        _emit_chunks,
        window_fingerprints,
        window_keys,
    )

    base = sorted(
        tuple(r) for r in window_fingerprints(docs, SS_CFG).collect()
    )
    tiny = sorted(
        tuple(r)
        for r in window_fingerprints(docs, SS_CFG, emit_rows=64).collect()
    )
    assert tiny == base and len(base) > 64
    kb = sorted(r["k"] for r in window_keys(docs, SS_CFG).collect())
    kt = sorted(
        r["k"] for r in window_keys(docs, SS_CFG, emit_rows=64).collect()
    )
    assert kt == kb
    spark.catalog.clearCache()

    import pandas as pd

    pdf = pd.DataFrame({"x": range(10)})
    chunks = list(_emit_chunks(pdf, 3))
    assert [len(c) for c in chunks] == [3, 3, 3, 1]
    assert pd.concat(chunks).equals(pdf)


def test_scaling_adaptive_extra_rounds(monkeypatch):
    """run_scaling keeps adding fully-gated rounds (bounded) while the
    in-band min-wall efficiency sits below the 0.8 north-rule target, and
    stops the moment the target is met. Legs are mocked — this pins the
    protocol, not the host."""
    import importlib.util
    import json as _json
    import subprocess
    import sys as _sys

    spec = importlib.util.spec_from_file_location(
        "bench_for_test",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    monkeypatch.setattr(_sys, "argv", ["bench.py"])
    spec.loader.exec_module(bench)
    monkeypatch.setenv("SPARK_GRAFT_CONTROL_GATE", "")  # rounds all in-band
    monkeypatch.setenv("SPARK_GRAFT_SCALING_EXTRA_ROUNDS", "2")

    # planned rounds read (50,20) twice -> eff 0.625 < 0.8 -> one extra
    # round improves the local8 floor to 15 s -> eff 0.833 -> stop with
    # one extra budget unit unspent.
    walls = {2: [50.0, 50.0, 70.0, 66.0], 8: [20.0, 20.0, 15.0, 15.0]}
    idx = {2: 0, 8: 0}

    def fake_run(cmd, **kw):
        cores, n = int(cmd[-2]), int(cmd[-1])
        w = walls[cores][idx[cores]]
        idx[cores] += 1

        class R:
            returncode = 0
            stderr = ""
            stdout = _json.dumps(
                {"docs": n, "wall_sec": w, "docs_per_sec": n / w,
                 "shard_bytes": 1}
            )

        return R()

    monkeypatch.setattr(subprocess, "run", fake_run)
    out = bench.run_scaling("/root/testdata/sf0.1", n_docs=10, rounds=2)
    assert len(out["rounds"]) == 3
    assert out["efficiency"] == 0.833
    assert out["efficiency_from_in_band_rounds"] is True

    # already-at-target path: no extra rounds fire
    walls2 = {2: [80.0, 80.0], 8: [22.0, 22.0]}  # eff 0.909
    idx.update({2: 0, 8: 0})
    walls.update(walls2)
    out2 = bench.run_scaling("/root/testdata/sf0.1", n_docs=10, rounds=2)
    assert len(out2["rounds"]) == 2
    assert out2["efficiency"] >= 0.8


def test_scaling_per_leg_flank_gating(monkeypatch):
    """Per-leg width-matched flank controls (2026-08-19 protocol fix):
    a leg whose flanking spins read slow against the session's best spin
    at that width is excluded, while the OTHER level's healthy leg in the
    same round survives — the measured failure of round-coupled gating
    was discarding a healthy 57.8 s 8-core leg because the 2-core side's
    window was noisy, then keeping a poisoned 101.4 s one whose episode
    fit between the round's edge controls."""
    import importlib.util
    import json as _json
    import subprocess
    import sys as _sys

    spec = importlib.util.spec_from_file_location(
        "bench_for_test2",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    monkeypatch.setattr(_sys, "argv", ["bench.py"])
    spec.loader.exec_module(bench)
    monkeypatch.setenv("SPARK_GRAFT_CONTROL_GATE", "1")
    monkeypatch.setenv("SPARK_GRAFT_SCALING_EXTRA_ROUNDS", "0")

    # round 0: healthy 2-core leg, 8-core leg in a degraded window
    # (post-flank 6.0 s vs best 3.7); round 1: the mirror image.
    walls = {2: [100.0, 140.0], 8: [60.0, 31.0]}
    # flank calls arrive in strict order: pre2 post2 pre8 post8, per round
    spin_seq = [3.7, 3.7, 3.7, 6.0, 5.5, 5.5, 3.8, 3.7]
    idx = {2: 0, 8: 0}

    def fake_spin(procs):
        return spin_seq.pop(0)

    def fake_run(cmd, **kw):
        cores, n = int(cmd[-2]), int(cmd[-1])
        w = walls[cores][idx[cores]]
        idx[cores] += 1

        class R:
            returncode = 0
            stderr = ""
            stdout = _json.dumps(
                {"docs": n, "wall_sec": w, "docs_per_sec": n / w,
                 "shard_bytes": 1}
            )

        return R()

    monkeypatch.setattr(bench, "leg_spin_wall", fake_spin)
    # the informational session pre-gate spawns a real mp.Pool, which
    # cannot pickle _spin out of this exec'd test module — stub it
    monkeypatch.setattr(
        bench,
        "control_gate",
        lambda *a, **kw: {"levels": [2, 8], "band": [0.85, 1.15],
                         "attempts": [1.0], "in_band": True, "control": {}},
    )
    monkeypatch.setattr(subprocess, "run", fake_run)
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    out = bench.run_scaling("/root/testdata/sf0.1", n_docs=10, rounds=2)

    # best spin 3.7, band 1.15 -> threshold 4.255: in-band legs are
    # round-0 local2 (100 s) and round-1 local8 (31 s)
    assert out["rounds"][0]["legs"]["local2"]["in_band"] is True
    assert out["rounds"][0]["legs"]["local8"]["in_band"] is False
    assert out["rounds"][1]["legs"]["local2"]["in_band"] is False
    assert out["rounds"][1]["legs"]["local8"]["in_band"] is True
    assert out["rounds"][0]["in_band"] is False  # round = all its legs
    assert out["efficiency_from_in_band_rounds"] is True
    assert out["efficiency"] == round((100.0 / 31.0) / 4, 3)
    assert out["best_spin_sec"] == {"local2": 3.7, "local8": 3.75}
    assert 0 < out["efficiency_vs_control"] <= 1.5


# --- duplicate-window census (paper's most-duplicated-substrings table) -----


def test_duplicate_window_census_vs_bruteforce(spark):
    """Census vs a driver-side brute count over the flat concatenation,
    with a planted high-frequency snippet and a duplicate window that
    straddles a document boundary (byte semantics, like the reference's
    raw corpus reads)."""
    import pandas as pd

    from deduplicate_text_datasets_spark.operators.suffix import (
        duplicate_window_census,
    )

    L = 16
    boiler = "x" * 7 + "BOILERPLATE OK " + "y" * 10  # > L, repeated often
    texts = []
    for i in range(12):
        texts.append(f"doc {i:03d} unique words " + boiler + f" tail {i}")
    # straddle: the end of doc 12 + start of doc 13 repeats the end of
    # doc 14 + start of doc 15 (windows cross doc boundaries in the flat
    # corpus, so these must count as duplicates)
    texts += ["AAA straddle-head", "straddle-tail BBB"] * 2
    import datetime

    n = len(texts)
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            "url": [f"http://h/{i}" for i in range(n)],
            "warc_ts": [datetime.datetime(2024, 1, 1)] * n,
            "html": [b""] * n,
            "text": texts,
            "lang": ["en"] * n,
        }
    )
    docs = spark.createDataFrame(pdf, schema=DOCUMENTS_SCHEMA)
    cfg = ExactSubstrConfig(
        length_threshold=L, shard_bytes=256, overlap_bytes=64,
        with_separators=False,
    )
    k = 8
    got = {
        r["snippet"]: (r["cnt"], r["first_pos"])
        for r in duplicate_window_census(docs, cfg, k=k).collect()
    }

    corpus = "".join(texts)
    counts: dict[str, list] = {}
    for i in range(len(corpus) - L + 1):
        w = corpus[i : i + L]
        counts.setdefault(w, [0, i])[0] += 1
    dup = {w: (c, p) for w, (c, p) in counts.items() if c >= 2}
    want = dict(
        sorted(dup.items(), key=lambda kv: (-kv[1][0], kv[1][1]))[:k]
    )
    assert got == want
    # the straddling window is in the dup set (sanity that the fixture
    # exercises the cross-document case at all)
    assert any("headstraddle" in w.replace("-", "") or
               ("head" in w and "tail" in w) for w in dup), dup


# --- mappass dedup pass (round-5: drop the stats agg + join-back) ------------


def _oracle_clusters(fixture_pdf, cfg):
    """pyref.self_similar_clusters as sorted (pos, cluster_id, cluster_size)
    rows: cluster_id is the min member position."""
    from deduplicate_text_datasets_spark.oracle import pyref

    texts = [t.encode("utf-8") for t in fixture_pdf["text"]]
    corpus, _ = pyref.build_corpus(texts, cfg.with_separators)
    clusters = pyref.self_similar_clusters(
        corpus, cfg.length_threshold, cfg.frequency_threshold
    )
    return sorted((p, min(ps), len(ps)) for ps in clusters.values() for p in ps)


def test_mappass_parity_with_oracle(spark, docs, fixture_pdf):
    """self_similar (the mappass plan) must equal the pure-Python
    reference clusters, including frequency_threshold semantics (size >
    threshold, main.rs:914)."""
    from deduplicate_text_datasets_spark.operators.suffix import self_similar

    base = _oracle_clusters(fixture_pdf, SS_CFG)
    assert len(base) > 0
    spark.catalog.clearCache()
    got = sorted(tuple(r) for r in self_similar(docs, SS_CFG).collect())
    assert got == base
    spark.catalog.clearCache()

    # frequency threshold: keep only clusters strictly larger than it
    sizes = sorted({r[2] for r in base})
    thr = sizes[0]  # drops at least the smallest cluster size
    cfg_t = ExactSubstrConfig(
        length_threshold=SS_CFG.length_threshold,
        frequency_threshold=thr,
        shard_bytes=SS_CFG.shard_bytes,
        overlap_bytes=SS_CFG.overlap_bytes,
        with_separators=SS_CFG.with_separators,
    )
    want_t = _oracle_clusters(fixture_pdf, cfg_t)
    assert want_t == [t for t in base if t[2] > thr]
    got_t = sorted(tuple(r) for r in self_similar(docs, cfg_t).collect())
    assert got_t == want_t and len(got_t) < len(base)
    spark.catalog.clearCache()


def test_mappass_group_straddles_arrow_batches(spark, docs, fixture_pdf):
    """Force 3-row Arrow batches so every real cluster straddles batch
    boundaries inside the kernel — the pending-group reassembly must keep
    output exact."""
    from deduplicate_text_datasets_spark.operators.suffix import self_similar

    base = _oracle_clusters(fixture_pdf, SS_CFG)
    assert any(t[2] > 3 for t in base), "fixture needs a >3-member cluster"
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        spark.catalog.clearCache()
        got = sorted(tuple(r) for r in self_similar(docs, SS_CFG).collect())
        assert got == base
    finally:
        spark.conf.set(key, old)
        spark.catalog.clearCache()


def test_mappass_hot_window_spans_many_arrow_batches(spark):
    """One document of 10^6 identical bytes: every window is the same, so
    the single cluster's rows span ~100 Arrow batches at the default batch
    size and the kernel must carry one pending group across all of them.
    Checked with Spark aggregates (no 10^6-row collect)."""
    from deduplicate_text_datasets_spark.operators.suffix import self_similar

    n, L = 10**6, 50
    cfg = ExactSubstrConfig(length_threshold=L, with_separators=False)
    df = spark.createDataFrame(
        [(0, "u0", "a" * n)], "doc_id long, url string, text string"
    )
    spark.catalog.clearCache()
    row = self_similar(df, cfg).agg(
        F.count(F.lit(1)).alias("rows"),
        F.min("pos").alias("pos_lo"),
        F.max("pos").alias("pos_hi"),
        F.min("cluster_size").alias("size_lo"),
        F.max("cluster_size").alias("size_hi"),
        F.min("cluster_id").alias("id_lo"),
        F.max("cluster_id").alias("id_hi"),
    ).collect()[0]
    m = n - L + 1
    assert row["rows"] == m
    assert (row["pos_lo"], row["pos_hi"]) == (0, m - 1)
    assert (row["size_lo"], row["size_hi"]) == (m, m)
    assert (row["id_lo"], row["id_hi"]) == (0, 0)
    spark.catalog.clearCache()


def test_mappass_plan_has_no_join_or_agg(spark, docs):
    """The mappass physical plan over the fingerprint frame is exchange ->
    sort -> MapInPandas: no join, no hash aggregate, no second consumer."""
    from deduplicate_text_datasets_spark.operators.suffix import (
        find_duplicates_mappass,
        window_fingerprints,
    )
    from deduplicate_text_datasets_spark.sources.corpus import with_offsets

    d = with_offsets(docs, True).cache()
    d.count()
    fp = window_fingerprints(d, SS_CFG)
    out = find_duplicates_mappass(fp, SS_CFG)
    n = out.count()
    assert n > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the cached offsets frame dumps its own BUILD plan (joins, window)
    # under InMemoryRelation — the mappass plan ends at the cache scan
    plan = plan.split("InMemoryRelation")[0]
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                "HashAggregate", "ObjectHashAggregate", "SortAggregate"):
        assert bad not in plan, f"{bad} in mappass plan:\n{plan[:2000]}"
    assert "MapInPandas" in plan
    d.unpersist()
    spark.catalog.clearCache()
