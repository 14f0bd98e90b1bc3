"""Round-6 (second wave) parity tests: driver LSH candidate fast paths,
the strike fast path fed by resident ranges and offsets, and the
count+collect probe — every fast path must produce bit-identical output
to the distributed plan it bypasses.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from deduplicate_text_datasets_spark.config import (
    EngineConfig,
    ExactSubstrConfig,
    MinHashConfig,
    SimHashConfig,
)
from deduplicate_text_datasets_spark.plans.caching import local_frame, resident


def _docs(spark, n=60, planted=True):
    rows = []
    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a very long repeated boilerplate chorus again and again "
    )
    for i in range(n):
        t = base * 3 + f"unique tail {i} " + ("x" * (i % 17))
        if planted and i % 5 == 0:
            t = base * 4  # exact dup family
        rows.append((i, f"u{i}", t))
    return spark.createDataFrame(rows, "doc_id long, url string, text string")


def _driver_rows(df):
    """Sorted rows of the driver-resident pairs; fails when the driver
    path did not fire."""
    pdf = resident(df)
    assert pdf is not None, "driver fast path did not fire"
    return sorted(map(tuple, pdf.to_numpy().tolist()))


def _is_local_relation(df):
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def test_candidate_pairs_driver_vs_distributed(spark, monkeypatch):
    from deduplicate_text_datasets_spark.operators.minhash import (
        doc_shingles,
        lsh_buckets,
        minhash_signatures,
        candidate_pairs,
    )

    cfg = MinHashConfig()
    buckets = lsh_buckets(
        minhash_signatures(doc_shingles(_docs(spark), cfg), cfg), cfg
    )
    fast_df = candidate_pairs(buckets, cfg)
    fast = sorted((r["a"], r["b"]) for r in fast_df.collect())
    assert _driver_rows(fast_df) == fast  # the driver path really ran
    monkeypatch.setenv("SPARK_GRAFT_LSH_DRIVER_MAX", "0")
    slow_df = candidate_pairs(buckets, cfg)
    assert resident(slow_df) is None
    slow = sorted((r["a"], r["b"]) for r in slow_df.collect())
    assert fast == slow and fast


def test_candidate_pairs_pair_cap_falls_back(spark, monkeypatch):
    from deduplicate_text_datasets_spark.operators.minhash import (
        candidate_pairs,
    )

    rows = [(int(m), 0, 1) for m in range(20)]  # one bucket of 20 docs
    buckets = spark.createDataFrame(rows, "doc_id long, band int, bucket long")
    cfg = MinHashConfig()
    base = sorted(
        (r["a"], r["b"]) for r in candidate_pairs(buckets, cfg).collect()
    )
    # pair budget of 10 < C(20,2)=190 -> driver path must fall back to the
    # distributed plan with an identical pair set
    monkeypatch.setenv("SPARK_GRAFT_LSH_DRIVER_PAIR_MAX", "10")
    capped = sorted(
        (r["a"], r["b"]) for r in candidate_pairs(buckets, cfg).collect()
    )
    assert base == capped and len(base) == 190


def test_candidate_pairs_across_driver_vs_distributed(spark, monkeypatch):
    from deduplicate_text_datasets_spark.operators.minhash import (
        doc_shingles,
        lsh_buckets,
        minhash_signatures,
        candidate_pairs_across,
    )

    cfg = MinHashConfig()
    d = _docs(spark)
    ba = lsh_buckets(
        minhash_signatures(
            doc_shingles(d.filter(F.col("doc_id") % 2 == 0), cfg), cfg
        ),
        cfg,
    )
    bb = lsh_buckets(
        minhash_signatures(
            doc_shingles(d.filter(F.col("doc_id") % 2 == 1), cfg), cfg
        ),
        cfg,
    )
    fast = sorted(
        (r["a"], r["b"])
        for r in candidate_pairs_across(ba, bb, cfg).collect()
    )
    # every shared bucket over the cap: the distributed side runs the
    # bipartite salted grid
    hot_cfg = MinHashConfig(max_bucket_size=2, salted_bucket_max=10**6)
    hot_fast = _driver_rows(candidate_pairs_across(ba, bb, hot_cfg))
    monkeypatch.setenv("SPARK_GRAFT_LSH_DRIVER_MAX", "0")
    slow = sorted(
        (r["a"], r["b"])
        for r in candidate_pairs_across(ba, bb, cfg).collect()
    )
    assert fast == slow and fast
    hot_slow = sorted(
        (r["a"], r["b"])
        for r in candidate_pairs_across(ba, bb, hot_cfg).collect()
    )
    assert hot_fast == hot_slow == fast


def test_simhash_candidates_driver_vs_distributed(spark, monkeypatch):
    from deduplicate_text_datasets_spark.operators.simhash import (
        simhash_fingerprints,
        simhash_candidates,
        simhash_pairs,
    )

    cfg = SimHashConfig()
    docs = _docs(spark)
    fps = simhash_fingerprints(docs)
    fast_df = simhash_candidates(fps, cfg)
    fast = sorted(map(tuple, fast_df.collect()))
    # the driver path ran and its pairs are resident under the fa/fb
    # names, so simhash_pairs verifies Hamming distance on the driver: its
    # result is a bare local relation, with no distributed bit_count filter
    assert _driver_rows(fast_df) == fast
    fast_hd = simhash_pairs(docs, cfg)
    assert _is_local_relation(fast_hd)
    monkeypatch.setenv("SPARK_GRAFT_LSH_DRIVER_MAX", "0")
    slow_df = simhash_candidates(fps, cfg)
    assert resident(slow_df) is None
    slow = sorted(map(tuple, slow_df.collect()))
    assert fast == slow and fast
    slow_hd = simhash_pairs(docs, cfg)
    assert not _is_local_relation(slow_hd)
    assert sorted(map(tuple, fast_hd.collect())) == sorted(
        map(tuple, slow_hd.collect())
    )


def test_simhash_driver_path_salted_region_parity(spark, monkeypatch):
    """Blocks between max_bucket_size and salted_bucket_max must pair
    identically on the driver path and the distributed salted grid."""
    from deduplicate_text_datasets_spark.operators.simhash import (
        simhash_fingerprints,
        simhash_candidates,
    )

    cfg = SimHashConfig()
    fps = simhash_fingerprints(_docs(spark, n=40))
    fast_df = simhash_candidates(fps, cfg, max_bucket_size=4)
    fast = sorted(map(tuple, fast_df.collect()))
    assert _driver_rows(fast_df) == fast
    monkeypatch.setenv("SPARK_GRAFT_LSH_DRIVER_MAX", "0")
    slow = sorted(
        map(
            tuple,
            simhash_candidates(fps, cfg, max_bucket_size=4).collect(),
        )
    )
    assert fast == slow and fast


def test_driver_verify_and_cc_vs_distributed(spark, monkeypatch):
    """neardup_clusters end to end: the driver verify + md5-edge + CC fast
    path must produce the identical cluster assignment as the fully
    distributed graph (all fast paths disabled via the env guards)."""
    from deduplicate_text_datasets_spark.plans.pipeline import (
        neardup_clusters,
    )

    d = _docs(spark)
    fast = sorted(map(tuple, neardup_clusters(d, EngineConfig()).collect()))
    monkeypatch.setenv("SPARK_GRAFT_LSH_DRIVER_MAX", "0")
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_MAX", "0")
    slow = sorted(map(tuple, neardup_clusters(d, EngineConfig()).collect()))
    assert fast == slow and fast
    assert any(r[3] for r in fast)  # some duplicates were found


def test_driver_verify_jaccard_bitparity(spark, monkeypatch):
    """The driver verify must reproduce the Catalyst inter/union ints AND
    the double-divided jaccard bit-for-bit (across shape: odd vs even)."""
    from deduplicate_text_datasets_spark.operators.minhash import (
        near_duplicate_edges_across,
    )

    cfg = MinHashConfig()
    d = _docs(spark)
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    fast = sorted(map(tuple, near_duplicate_edges_across(a, b, cfg).collect()))
    monkeypatch.setenv("SPARK_GRAFT_VERIFY_DRIVER_MAX", "0")
    slow = sorted(map(tuple, near_duplicate_edges_across(a, b, cfg).collect()))
    assert fast == slow and fast


def test_offsets_memo_matches_agg(spark, monkeypatch):
    from deduplicate_text_datasets_spark.sources.corpus import (
        corpus_total_bytes,
        with_offsets,
    )

    d = _docs(spark, n=30)
    fast = with_offsets(d)
    offs = resident(fast)
    assert offs is not None
    assert list(offs.columns) == ["doc_id", "doc_len", "byte_start", "byte_end"]
    total_memo = corpus_total_bytes(fast)
    # the agg path over the same frame must agree
    agg_total = int(
        fast.agg(F.max("byte_end").alias("t")).collect()[0]["t"]
    )
    assert total_memo == agg_total
    # distributed offsets path: same totals, nothing resident
    monkeypatch.setenv("SPARK_GRAFT_OFFSETS_DRIVER_MAX", "0")
    slow = with_offsets(d)
    assert resident(slow) is None
    assert corpus_total_bytes(slow) == total_memo


def test_strike_driver_fastpath_vs_join_plan(spark, monkeypatch):
    """exactsubstr_dedup end to end: the resident-fed strike fast path (driver
    spans, broadcast local relation) must produce byte-identical deduped
    docs vs the interval-join plan (nothing resident: env guards at 0)."""
    from deduplicate_text_datasets_spark.plans.pipeline import (
        exactsubstr_dedup,
    )

    cfg = EngineConfig(
        exact=ExactSubstrConfig(
            length_threshold=20, shard_bytes=2048, overlap_bytes=64
        )
    )
    d = _docs(spark, n=40)
    ranges_f, dedup_f = exactsubstr_dedup(d, cfg)
    fast_ranges = sorted(map(tuple, ranges_f.collect()))
    fast = sorted(
        (r["doc_id"], r["url"], bytes(r["deduped"])) for r in dedup_f.collect()
    )
    # disable every driver fast path -> nothing resident -> join plan
    monkeypatch.setenv("SPARK_GRAFT_OFFSETS_DRIVER_MAX", "0")
    monkeypatch.setenv("SPARK_GRAFT_INTERVALS_DRIVER_MAX", "0")
    ranges_s, dedup_s = exactsubstr_dedup(d, cfg)
    slow_ranges = sorted(map(tuple, ranges_s.collect()))
    slow = sorted(
        (r["doc_id"], r["url"], bytes(r["deduped"])) for r in dedup_s.collect()
    )
    assert fast_ranges == slow_ranges and fast_ranges
    assert fast == slow
    # the fast run really did strike something
    assert any(
        b != bytes(t.encode("utf-8"))
        for (_, _, b), t in zip(
            fast, (r["text"] for r in d.orderBy("doc_id").collect())
        )
    )


def test_driver_spans_matches_doc_spans(spark):
    """_driver_spans against the doc_spans+groupBy plan on a hand-built
    offsets/ranges pair (separator clamp and boundary clipping included)."""
    from deduplicate_text_datasets_spark.operators.strike import (
        _driver_spans,
        doc_spans,
    )
    from deduplicate_text_datasets_spark.sources.corpus import with_offsets

    cfg = ExactSubstrConfig(
        length_threshold=8, shard_bytes=1 << 20, overlap_bytes=64
    )
    d = spark.createDataFrame(
        [(i, f"u{i}", "abcdefghij" * (2 + i % 3)) for i in range(12)],
        "doc_id long, url string, text string",
    )
    off = with_offsets(d, cfg.with_separators)
    assert resident(off) is not None
    # ranges spanning doc boundaries, separator-only spans, in-doc spans
    arr = np.array(
        [[0, 9], [20, 55], [60, 62], [100, 140], [300, 301]], dtype=np.int64
    )
    ranges = local_frame(
        spark,
        pd.DataFrame({"start": arr[:, 0], "end": arr[:, 1]}),
        "start long, end long",
    )
    got = _driver_spans(off, ranges, cfg)
    assert got is not None
    t_ids, t_a, t_b, t_off = got
    fast = {
        int(t_ids[i]): sorted(
            (int(t_a[j]), int(t_b[j]))
            for j in range(int(t_off[i]), int(t_off[i + 1]))
        )
        for i in range(len(t_ids))
    }
    slow_rows = (
        doc_spans(off, ranges, cfg)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set(F.struct("a", "b"))).alias("spans"))
        .collect()
    )
    slow = {
        r["doc_id"]: sorted((s["a"], s["b"]) for s in r["spans"])
        for r in slow_rows
    }
    assert fast == slow and fast


def test_probe_rows_under_and_over_guard(spark, monkeypatch):
    """The probe pulls a frame within the guard, never pulls one over it,
    and runs no job at all when the guard is 0."""
    from deduplicate_text_datasets_spark.plans.caching import probe

    df = spark.range(0, 100).select(F.col("id").cast("long"))
    cls = type(df)
    pulls, counts = [], []
    to_pandas, count = cls.toPandas, cls.count

    def pull(self):
        pdf = to_pandas(self)
        pulls.append(len(pdf))
        return pdf

    def counted(self):
        counts.append(1)
        return count(self)

    monkeypatch.setattr(cls, "toPandas", pull)
    monkeypatch.setattr(cls, "count", counted)
    got = probe("test", df, 100)
    assert got is not None and sorted(got["id"]) == list(range(100))
    assert pulls == [100]
    assert probe("test", df, 99) is None
    assert pulls == [100]  # the over-guard frame never reached the driver
    n = len(counts)
    assert probe("test", df, 0) is None
    assert pulls == [100] and len(counts) == n  # guard 0: no job


def test_placement_log_records_lsh_decision(spark, monkeypatch, caplog):
    """One log record per placement decision: default placement puts the
    LSH stage of a small neardup_clusters on the driver; with its guard at
    0 the stage is distributed and no probe runs; a pair budget the driver
    twin exceeds vetoes the driver placement with one more record; driver
    candidate pairs over the verify guard log verify's veto."""
    import logging

    from deduplicate_text_datasets_spark.plans.caching import PLACEMENT_LOG, cache_scope
    from deduplicate_text_datasets_spark.plans.pipeline import neardup_clusters

    def lsh_records():
        return [
            r for r in caplog.records if getattr(r, "stage", None) == "lsh.candidates"
        ]

    d = _docs(spark)
    with caplog.at_level(logging.INFO, logger=PLACEMENT_LOG):
        with cache_scope():
            neardup_clusters(d, EngineConfig())
        (rec,) = lsh_records()
        assert rec.placement == "driver" and 0 < rec.rows <= rec.guard
        caplog.clear()
        monkeypatch.setenv("SPARK_GRAFT_LSH_DRIVER_MAX", "0")
        with cache_scope():
            neardup_clusters(d, EngineConfig())
        (rec,) = lsh_records()
        assert rec.placement == "distributed"
        assert rec.rows is None and rec.guard == 0
        caplog.clear()
        monkeypatch.delenv("SPARK_GRAFT_LSH_DRIVER_MAX")
        monkeypatch.setenv("SPARK_GRAFT_LSH_DRIVER_PAIR_MAX", "1")
        with cache_scope():
            neardup_clusters(d, EngineConfig())
        probed, vetoed = lsh_records()
        assert probed.placement == "driver"
        assert vetoed.placement == "distributed" and vetoed.guard == 1
        assert vetoed.rows == probed.rows and vetoed.reason
        caplog.clear()
        monkeypatch.delenv("SPARK_GRAFT_LSH_DRIVER_PAIR_MAX")
        monkeypatch.setenv("SPARK_GRAFT_VERIFY_DRIVER_MAX", "1")
        with cache_scope():
            neardup_clusters(d, EngineConfig())
        lsh, verify = [
            r
            for r in caplog.records
            if getattr(r, "stage", None) in ("lsh.candidates", "minhash.verify")
        ]
        assert lsh.stage == "lsh.candidates" and lsh.placement == "driver"
        assert verify.stage == "minhash.verify"
        assert verify.placement == "distributed" and verify.guard == 1
        assert verify.rows > 1 and verify.reason


def test_ann_partial_topk_many_batches(spark):
    """Partial top-k inside the kernel must keep the exact global top-k
    when neighbors are spread over many partitions (forced small batches)."""
    from deduplicate_text_datasets_spark.operators.ann import cosine_topk

    rng = np.random.RandomState(11)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)])
        for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk(emb, queries, k=7).collect()
    # brute force in numpy with the same sequential-cumsum rounding
    M = np.array([r[1] for r in rows])
    exp = []
    for q in range(4):
        qv = M[q]
        qn = np.sqrt(np.cumsum(qv * qv)[-1])
        cos = np.cumsum(M * qv[None, :], axis=1)[:, -1] / (
            qn * np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
        )
        order = np.lexsort((np.arange(300), -cos))
        order = order[order != q][:7]
        for rank, n in enumerate(order, 1):
            exp.append((q, rank, int(n), round(float(cos[n]), 6)))
    assert sorted(map(tuple, got)) == sorted(exp)
