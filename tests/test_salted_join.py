"""The skewed-bucket pair join (operators/salted_join.py): every pair set
must equal brute-force ground truth whether the grid-salted branch, the
hot-bucket short-circuit or the driver twins produce it.

Tests that reach the LSH entry points run at both placements: default
(small inputs take the numpy twins) and with the LSH driver guard at 0
(the distributed plain, grid-salted and hot-probe branches).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deduplicate_text_datasets_spark.config import MinHashConfig


@pytest.fixture(params=["default", "distributed"])
def placement(request, monkeypatch):
    if request.param == "distributed":
        monkeypatch.setenv("SPARK_GRAFT_LSH_DRIVER_MAX", "0")
    return request.param


# --- Salted exact pair generation for skewed LSH buckets --------------------
# north_rule: "explicit salting of skewed LSH buckets". Buckets in
# (max_bucket_size, salted_bucket_max] now pair through the grid-salted
# exact self-join instead of being dropped; only buckets beyond
# salted_bucket_max are dropped.


def _bucket_frame(spark, sizes: dict[str, int]):
    """(doc_id, band, bucket) with disjoint doc_id blocks per bucket."""
    rows, base = [], 0
    for i, (name, n) in enumerate(sorted(sizes.items())):
        rows += [(base + j, 0, hash(name) % 10**9) for j in range(n)]
        base += n
    return (
        spark.createDataFrame(rows, "doc_id long, band int, bucket long"),
        sizes,
    )


def _expected_pairs(spark_buckets, lo_keep, hi_keep):
    """Ground-truth all-pairs per bucket with lo_keep <= size <= hi_keep."""
    from collections import defaultdict
    from itertools import combinations

    members = defaultdict(list)
    for r in spark_buckets.collect():
        members[(r["band"], r["bucket"])].append(r["doc_id"])
    out = set()
    for mem in members.values():
        if lo_keep <= len(mem) <= hi_keep:
            out |= {tuple(sorted(p)) for p in combinations(mem, 2)}
    return out


@pytest.mark.usefixtures("placement")
def test_salted_pairs_exact_and_dropped_cap(spark):
    """candidate_pairs must emit EXACTLY the all-pairs set for every bucket
    up to salted_bucket_max (salted ones included, each pair once) and
    nothing from buckets beyond it."""
    from deduplicate_text_datasets_spark.config import MinHashConfig
    from deduplicate_text_datasets_spark.operators.minhash import (
        candidate_pairs,
        oversized_buckets,
    )
    from deduplicate_text_datasets_spark.plans.caching import cache_scope

    cfg = MinHashConfig(max_bucket_size=16, salted_bucket_max=80)
    buckets, sizes = _bucket_frame(
        spark,
        {"plain": 9, "salted_a": 17, "salted_b": 50, "salted_c": 80,
         "dropped": 81, "pair": 2, "single": 1},
    )
    with cache_scope():
        got = {
            (r["a"], r["b"]) for r in candidate_pairs(buckets, cfg).collect()
        }
    assert got == _expected_pairs(buckets, 2, 80)
    acts = {
        (r["size"], r["action"]) for r in oversized_buckets(buckets, cfg).collect()
    }
    assert acts == {(17, "salted"), (50, "salted"), (80, "salted"),
                    (81, "dropped")}


@pytest.mark.usefixtures("placement")
def test_salted_pairs_match_unsalted_reference(spark):
    """Forcing the salted path for EVERY bucket (cap=2) must reproduce the
    plain path's pair set bit-for-bit on a real shingle->LSH frame — the
    grid decomposition is a physical re-distribution, not a semantics
    change."""
    from deduplicate_text_datasets_spark.config import MinHashConfig
    from deduplicate_text_datasets_spark.operators.minhash import (
        candidate_pairs,
        doc_shingles,
        lsh_buckets,
        minhash_signatures,
    )
    from deduplicate_text_datasets_spark.plans.caching import cache_scope
    from deduplicate_text_datasets_spark.sources.documents import (
        DOCUMENTS_SCHEMA,
        synth_documents_pandas,
    )

    docs = spark.createDataFrame(
        synth_documents_pandas(60, size_lo=40, size_hi=160),
        schema=DOCUMENTS_SCHEMA,
    )
    plain_cfg = MinHashConfig()  # default cap: nothing salted at this scale
    buckets = lsh_buckets(
        minhash_signatures(doc_shingles(docs, plain_cfg), plain_cfg), plain_cfg
    ).cache()
    salted_cfg = MinHashConfig(max_bucket_size=2, salted_bucket_max=10**6)
    with cache_scope():
        base = {
            (r["a"], r["b"])
            for r in candidate_pairs(buckets, plain_cfg).collect()
        }
    with cache_scope():
        salted = {
            (r["a"], r["b"])
            for r in candidate_pairs(buckets, salted_cfg).collect()
        }
    assert len(base) > 0 and salted == base
    buckets.unpersist()


def test_salted_grid_replication_factor(spark):
    """Each member of a salted bucket is replicated exactly k+1 times
    across the two role frames (k left-cells + g+1 right-cells with the
    diagonal shared): the exchange cost of salting is linear in k, not
    quadratic."""
    from deduplicate_text_datasets_spark.config import MinHashConfig
    from deduplicate_text_datasets_spark.operators.salted_join import (
        grid_salted_self_pairs,
    )
    from pyspark.sql import functions as F

    cfg = MinHashConfig(max_bucket_size=16, salted_bucket_max=1000)
    buckets, _ = _bucket_frame(spark, {"hot": 100})
    hot = buckets.withColumn("bsize", F.lit(100))
    # k = ceil(100/16) = 7 -> lhs rows (k - g per member) + rhs (g + 1)
    # = k + 1 = 8 rows per member, 800 total tagged rows
    g = hot.withColumn("k", F.ceil(F.col("bsize") / F.lit(16)).cast("int"))
    assert g.select(F.max("k")).first()[0] == 7
    pairs = grid_salted_self_pairs(hot, ["band", "bucket"], cfg.max_bucket_size)
    assert pairs.count() == 100 * 99 // 2  # exact, duplicate-free
    assert pairs.distinct().count() == 100 * 99 // 2


@pytest.mark.usefixtures("placement")
def test_simhash_salted_candidates_parity(spark):
    """Forcing the salted path for every SimHash block bucket (cap=2) must
    reproduce the plain path's (a, b, hamming) set — payload fingerprints
    swap together with the ids during order normalization."""
    from deduplicate_text_datasets_spark.config import SimHashConfig
    from deduplicate_text_datasets_spark.operators.simhash import (
        simhash_candidates,
        simhash_fingerprints,
    )
    from deduplicate_text_datasets_spark.plans.caching import cache_scope
    from deduplicate_text_datasets_spark.sources.documents import (
        DOCUMENTS_SCHEMA,
        synth_documents_pandas,
    )

    docs = spark.createDataFrame(
        synth_documents_pandas(50, size_lo=40, size_hi=160),
        schema=DOCUMENTS_SCHEMA,
    )
    cfg = SimHashConfig()
    fps = simhash_fingerprints(docs).cache()
    with cache_scope():
        base = sorted(
            tuple(r)
            for r in simhash_candidates(fps, cfg, max_bucket_size=5000)
            .collect()
        )
    with cache_scope():
        salted = sorted(
            tuple(r)
            for r in simhash_candidates(
                fps, cfg, max_bucket_size=2, salted_bucket_max=10**6
            ).collect()
        )
    assert len(base) > 0 and salted == base
    fps.unpersist()


def test_ngram_salted_hot_shingles_keep_counts_exact(spark):
    """Hot shingles above the fast-path df cap must still contribute to
    intersection counts through the salted join: tiny cap + huge salted
    ceiling == fully uncapped truth, while the OLD drop policy (salted
    ceiling == cap) demonstrably loses pairs on a dup-heavy fixture."""
    from deduplicate_text_datasets_spark.config import MinHashConfig
    from deduplicate_text_datasets_spark.operators.ngram import jaccard_pairs
    from deduplicate_text_datasets_spark.plans.caching import cache_scope
    from deduplicate_text_datasets_spark.sources.documents import (
        DOCUMENTS_SCHEMA,
        synth_documents_pandas,
    )

    import pandas as pd

    pdf = synth_documents_pandas(60, size_lo=40, size_hi=160)
    # plant an identical TRIPLET: its shared shingles have df=3, so a
    # df<=2 drop policy erases the triplet's intersections entirely while
    # the salted policy must keep them exact
    trip = pd.concat(
        [pdf.iloc[[0]].assign(doc_id=1000 + i) for i in range(3)],
        ignore_index=True,
    )
    docs = spark.createDataFrame(
        pd.concat([pdf, trip], ignore_index=True), schema=DOCUMENTS_SCHEMA
    )
    cfg = MinHashConfig()

    def rows(**kw):
        with cache_scope():
            return sorted(
                tuple(r) for r in jaccard_pairs(docs, cfg, **kw).collect()
            )

    full = rows(max_shingle_df=2**31)
    salted = rows(max_shingle_df=2, salted_shingle_df=2**31)
    dropped = rows(max_shingle_df=2, salted_shingle_df=2)
    assert len(full) > 0 and salted == full
    assert dropped != full  # the old drop policy undercounts here


@pytest.mark.usefixtures("placement")
def test_neardup_across_matches_bipartite_truth(spark):
    """Cross-corpus near-dup pairs (even=train, odd=eval) must equal the
    exact all-pairs truth restricted to cross-parity pairs, contain no
    same-side pair, and be invariant under forcing the bipartite salted
    grid (cap=2)."""
    from deduplicate_text_datasets_spark.config import MinHashConfig
    from deduplicate_text_datasets_spark.operators.minhash import (
        near_duplicate_edges_across,
    )
    from deduplicate_text_datasets_spark.operators.ngram import jaccard_pairs
    from deduplicate_text_datasets_spark.plans.caching import cache_scope
    from deduplicate_text_datasets_spark.sources.documents import (
        DOCUMENTS_SCHEMA,
        synth_documents_pandas,
    )

    docs = spark.createDataFrame(
        synth_documents_pandas(80, size_lo=40, size_hi=160),
        schema=DOCUMENTS_SCHEMA,
    )
    docs.cache().count()
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    cfg = MinHashConfig()
    with cache_scope():
        truth_cross = {
            (r["a"], r["b"]) if r["a"] % 2 == 0 else (r["b"], r["a"])
            for r in jaccard_pairs(
                docs, cfg, max_shingle_df=2**31
            ).collect()
            if r["a"] % 2 != r["b"] % 2
        }
    with cache_scope():
        got = {
            (r["a"], r["b"])
            for r in near_duplicate_edges_across(a, b, cfg).collect()
        }
    assert len(truth_cross) > 0 and got == truth_cross
    assert all(x % 2 == 0 and y % 2 == 1 for x, y in got)
    with cache_scope():
        salted = {
            (r["a"], r["b"])
            for r in near_duplicate_edges_across(
                a, b, MinHashConfig(max_bucket_size=2, salted_bucket_max=10**6)
            ).collect()
        }
    assert salted == got
    docs.unpersist()


@pytest.mark.usefixtures("placement")
def test_candidate_pairs_hot_skip_parity(spark):
    """The hot-branch short-circuit must not change the pair set: run the
    same buckets with a cap small enough to create hot buckets (salted
    path taken) and with the default cap (branch pruned) — pair sets over
    the plain region must agree with a brute-force bucket self-join."""
    from deduplicate_text_datasets_spark.operators.minhash import (
        candidate_pairs,
    )

    rows = []
    for b in range(3):
        members = range(b * 10, b * 10 + 14)  # bucket of 14 docs
        rows += [(int(m), 0, int(b)) for m in members]
    buckets = spark.createDataFrame(rows, "doc_id long, band int, bucket long")
    base_cfg = MinHashConfig()  # cap 5000 -> no hot buckets, branch pruned
    import dataclasses

    hot_cfg = dataclasses.replace(base_cfg, max_bucket_size=6)  # all hot
    plain = sorted(
        (r["a"], r["b"]) for r in candidate_pairs(buckets, base_cfg).collect()
    )
    salted = sorted(
        (r["a"], r["b"]) for r in candidate_pairs(buckets, hot_cfg).collect()
    )
    brute = sorted(
        {
            (a, b)
            for blk in range(3)
            for a in range(blk * 10, blk * 10 + 14)
            for b in range(a + 1, blk * 10 + 14)
        }
    )
    assert plain == brute and salted == brute
