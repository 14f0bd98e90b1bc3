"""Bloom-sketch prefilter fallback (operators/sketch.py): the round-5
answer to the prefilter's broadcast-guard cliff. Exactness rests on two
properties pinned here — NO false negatives ever (a missed dup key would
lose recall), and bit-identical pipeline outputs when the Bloom path is
forced, because false positives are discarded by the exact post-shuffle
(h1, h2) filters."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from deduplicate_text_datasets_spark.config import ExactSubstrConfig
from deduplicate_text_datasets_spark.operators.sketch import (
    BloomSketch,
    build_bloom_sketch,
    size_bloom,
    sketch_contains,
)
from deduplicate_text_datasets_spark.sources.documents import (
    DOCUMENTS_SCHEMA,
    synth_documents_pandas,
)

SS_CFG = ExactSubstrConfig(
    length_threshold=50, shard_bytes=4096, overlap_bytes=64,
    with_separators=True,
)


@pytest.fixture(scope="module")
def docs(spark):
    pdf = synth_documents_pandas(40, size_lo=30, size_hi=120)
    return spark.createDataFrame(pdf, schema=DOCUMENTS_SCHEMA)


def _rand_keys(n, seed):
    return np.random.default_rng(seed).integers(
        np.iinfo(np.int64).min, np.iinfo(np.int64).max, n, dtype=np.int64
    )


def test_bloom_no_false_negatives_and_sane_fp():
    keys = _rand_keys(50_000, 1)
    m, k = size_bloom(len(keys), 10, 64 << 20)
    sk = BloomSketch(m, k, np.zeros(m // 8, np.uint8))
    sk.add(keys)
    assert sk.contains(keys).all(), "false negative: correctness broken"
    probe = _rand_keys(100_000, 2)
    outside = probe[~np.isin(probe, keys)]
    fp = sk.contains(outside).mean()
    assert fp < 0.02, f"FP rate {fp} far above the 10-bits/key design point"


def test_bloom_cap_degrades_fp_not_recall():
    """Past the byte cap the filter saturates: FP rises, membership of
    true keys NEVER fails."""
    keys = _rand_keys(200_000, 3)
    m, k = size_bloom(len(keys), 10, 16 << 10)  # absurdly small 16 KiB cap
    assert m == 16 << 13
    sk = BloomSketch(m, k, np.zeros(m // 8, np.uint8))
    sk.add(keys)
    assert sk.contains(keys).all()


def test_distributed_build_matches_local(spark):
    """The sharded slice build (mapInPandas -> slice groupBy -> driver
    concat) must produce the EXACT bitmap a single-process add() builds —
    same probe function, same keys, so any difference is an assembly bug."""
    keys = _rand_keys(10_000, 4)
    df = spark.createDataFrame([(int(x),) for x in keys], ["k"])
    n = len(np.unique(keys))
    got = build_bloom_sketch(df, n, bits_per_key=10, max_bytes=64 << 20)
    want = BloomSketch(got.m_bits, got.k_probes, np.zeros(got.m_bits // 8, np.uint8))
    want.add(keys)
    assert got.m_bits == want.m_bits and got.k_probes == want.k_probes
    assert np.array_equal(got.bits, want.bits)


def test_sketch_contains_dispatch():
    keys = np.sort(_rand_keys(100, 5))
    probe = np.concatenate([keys[:10], _rand_keys(10, 6)])
    exact = sketch_contains(keys, probe)
    assert exact[:10].all()
    m, k = size_bloom(100, 10, 1 << 20)
    sk = BloomSketch(m, k, np.zeros(m // 8, np.uint8))
    sk.add(keys)
    bloom = sketch_contains(sk, probe)
    assert (bloom | ~exact).all(), "bloom must be a superset of the exact set"
    assert sketch_contains(np.empty(0, np.int64), probe).sum() == 0


def test_self_similar_bloom_parity(spark, docs):
    """Forcing the Bloom path (guard of 1 key) must be bit-identical to the
    exact-key-set plan — no warning, no fallback."""
    import warnings

    from deduplicate_text_datasets_spark.operators.suffix import self_similar

    base = sorted(tuple(r) for r in self_similar(docs, SS_CFG).collect())
    assert base
    spark.catalog.clearCache()
    with warnings.catch_warnings():
        # the Bloom path must NOT warn (ResourceWarnings from py4j
        # socket teardown are unrelated — only escalate UserWarning)
        warnings.simplefilter("error", UserWarning)
        bl = self_similar(docs, SS_CFG, prefilter_max_keys=1)
        got = sorted(tuple(r) for r in bl.collect())
    assert got == base
    spark.catalog.clearCache()


def test_across_dedup_bloom_parity(spark):
    """across_dedup's small-side key set forced onto the Bloom path (guard
    of 1 key) must give the same answer as the exact key set."""
    from deduplicate_text_datasets_spark.config import EngineConfig
    from deduplicate_text_datasets_spark.plans.pipeline import across_dedup

    pdf = synth_documents_pandas(40, size_lo=60, size_hi=200)
    all_docs = spark.createDataFrame(pdf, schema=DOCUMENTS_SCHEMA)
    docs_a = all_docs.filter(F.col("doc_id") % 2 == 0)
    docs_b = all_docs.filter(F.col("doc_id") % 2 == 1)
    cfg = EngineConfig(exact=SS_CFG)

    def key(res):
        return (
            sorted(r["pos"] for r in res.dups_a.collect()),
            sorted(r["pos"] for r in res.dups_b.collect()),
            sorted(
                (r["doc_id"], bytes(r["deduped"]))
                for r in res.deduped_a.collect()
            ),
        )

    base = key(across_dedup(docs_a, docs_b, cfg))
    assert base[0] and base[1]
    spark.catalog.clearCache()
    got = key(across_dedup(docs_a, docs_b, cfg, prefilter_max_keys=1))
    assert got == base
    spark.catalog.clearCache()


def test_bloom_prefilter_is_superset_of_exact(spark, docs):
    """Pass-2 with a Bloom sketch must emit a superset of the exact-set
    pass-2 positions (FPs add, never drop) and a subset of the full frame."""
    from deduplicate_text_datasets_spark.operators.suffix import (
        window_fingerprints,
        window_keys,
    )

    dup_keys = (
        window_keys(docs, SS_CFG)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter("c >= 2")
        .select("k")
    )
    key_arr = np.sort(dup_keys.toPandas()["k"].to_numpy(np.int64))
    sk = build_bloom_sketch(dup_keys, len(key_arr))
    exact_bc = spark.sparkContext.broadcast(key_arr)
    bloom_bc = spark.sparkContext.broadcast(sk)
    exact_pos = {
        r["pos"]
        for r in window_fingerprints(docs, SS_CFG, dup_keys_bc=exact_bc).collect()
    }
    bloom_pos = {
        r["pos"]
        for r in window_fingerprints(docs, SS_CFG, dup_keys_bc=bloom_bc).collect()
    }
    n_all = window_fingerprints(docs, SS_CFG).count()
    assert exact_pos <= bloom_pos
    assert len(bloom_pos) <= n_all
    spark.catalog.clearCache()
