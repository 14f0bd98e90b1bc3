"""Pipeline-level behavior: checkpoint/resume with lineage counters
(north_rule) and incremental streaming ingest."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from deduplicate_text_datasets_spark.config import EngineConfig, MinHashConfig
from deduplicate_text_datasets_spark.plans.checkpoints import (
    StageStore,
    config_fingerprint,
)
from deduplicate_text_datasets_spark.plans.pipeline import neardup_clusters
from deduplicate_text_datasets_spark.sources.documents import (
    DOCUMENTS_SCHEMA,
    synth_documents_pandas,
)


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.createDataFrame(
        synth_documents_pandas(80, size_lo=30, size_hi=120), schema=DOCUMENTS_SCHEMA
    )
    df.cache().count()
    return df


def test_stage_store_resume(spark, docs, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stages"))
    cfg = EngineConfig()
    store = StageStore(spark, base, fingerprint=config_fingerprint(cfg))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return docs.select("doc_id", "url")

    df1 = store.stage("s1", build)
    assert calls["n"] == 1
    assert store.has("s1")
    df2 = store.stage("s1", build)  # resume: no rebuild
    assert calls["n"] == 1
    assert df2.count() == df1.count() == 80
    rec = store.lineage("s1")
    assert rec["rows"] == 80 and rec["complete"]
    assert sum(rec["partition_counters"].values()) == 80
    # config change invalidates
    store2 = StageStore(spark, base, fingerprint="other")
    store2.stage("s1", build)
    assert calls["n"] == 2


def test_neardup_with_store_resumes(spark, docs, tmp_path_factory):
    from deduplicate_text_datasets_spark.plans.pipeline import make_store

    base = str(tmp_path_factory.mktemp("nd"))
    cfg = EngineConfig()
    store = make_store(spark, base, cfg)
    out1 = neardup_clusters(docs, cfg, store=store).orderBy("doc_id").collect()
    assert os.path.exists(os.path.join(base, "neardup_edges._LINEAGE.json"))
    # second run resumes from parquet (same fingerprint)
    store2 = make_store(spark, base, cfg)
    out2 = neardup_clusters(docs, cfg, store=store2).orderBy("doc_id").collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]


def test_streaming_incremental_dedup(spark, docs, tmp_path_factory):
    from deduplicate_text_datasets_spark.streaming.ingest import (
        build_index,
        read_decisions,
        start_incremental_dedup,
    )

    base = tmp_path_factory.mktemp("stream")
    index_dir = str(base / "index")
    input_dir = str(base / "incoming")
    output_dir = str(base / "out")
    checkpoint_dir = str(base / "ckpt")
    os.makedirs(input_dir)

    cfg = MinHashConfig()
    build_index(docs, cfg, index_dir)

    # new batch: one exact copy of doc 0, one near copy of the longest doc
    # (single-word edit on a short doc legitimately drops Jaccard below the
    # 0.8 threshold — pick a long base so the near-dup stays above it)
    rows = docs.filter(F.col("doc_id") < 20).collect()
    t0 = [r for r in rows if r["doc_id"] == 0][0]["text"]
    t4 = max((r["text"] for r in rows), key=lambda t: len(t.split()))
    words = t4.split()
    words[3] = "zzznovelword"
    near = " ".join(words)
    new = spark.createDataFrame(
        [
            (1000, "https://new/0", t0, "en"),
            (1001, "https://new/1", near, "en"),
            (1002, "https://new/2", " ".join(f"qq{i}" for i in range(120)), "en"),
        ],
        "doc_id long, url string, text string, lang string",
    )
    new.write.mode("overwrite").parquet(input_dir)

    q = start_incremental_dedup(
        spark, input_dir, index_dir, output_dir, checkpoint_dir, cfg,
        schema=new.schema, available_now=True,
    )
    q.awaitTermination(120)
    out = {
        r["doc_id"]: r["verdict"]
        for r in read_decisions(spark, output_dir).collect()
    }
    assert out[1000] == "exact"
    assert out[1001] == "near"
    assert out[1002] == "novel"

    # ---- the index GREW by the novel doc: a second batch containing a
    # near-copy of 1002 (novel in batch 0, never in the base corpus) and an
    # exact copy of it must now be flagged against batch 0's doc ----
    fresh = " ".join(f"qq{i}" for i in range(120))
    w = fresh.split()
    w[5] = "slightlydifferent"
    near2 = " ".join(w)  # 5 of 116 shingles differ: J ≈ 0.92 >= 0.8
    b2 = spark.createDataFrame(
        [
            (2000, "https://new/3", fresh, "en"),       # exact of 1002
            (2001, "https://new/4", near2, "en"),       # near of 1002
            (2002, "https://new/5", "wholly other payload " * 40, "en"),
            (2003, "https://new/6", "wholly other payload " * 40, "en"),
        ],
        "doc_id long, url string, text string, lang string",
    )
    b2.write.mode("append").parquet(input_dir)
    q2 = start_incremental_dedup(
        spark, input_dir, index_dir, output_dir, checkpoint_dir, cfg,
        schema=new.schema, available_now=True,
    )
    q2.awaitTermination(120)
    rows = {
        r["doc_id"]: (r["verdict"], r["matched_doc"])
        for r in read_decisions(spark, output_dir).collect()
    }
    assert rows[2000] == ("exact", 1002)
    assert rows[2001] == ("near", 1002)
    # intra-batch first-seen-wins: 2003 is an exact copy of 2002
    assert rows[2002][0] == "novel"
    assert rows[2003] == ("exact", 2002)

    # ---- replay convergence: re-running the batch with its own increment
    # already on disk must reproduce the decisions, not self-match ----
    from deduplicate_text_datasets_spark.streaming.ingest import dedup_batch

    last_batch = max(
        int(d.split("_")[1])
        for d in os.listdir(output_dir)
        if d.startswith("batch_")
    )
    replay = {
        r["doc_id"]: (r["verdict"], r["matched_doc"])
        for r in dedup_batch(
            spark, b2, cfg, index_dir, batch_id=last_batch
        ).collect()
    }
    assert replay[2000] == ("exact", 1002)
    assert replay[2002][0] == "novel"
    assert replay[2003] == ("exact", 2002)


def test_streaming_probe_salted_parity(spark, docs, tmp_path_factory):
    """Forcing every index bucket through the bipartite salted grid
    (cap=2) must reproduce the plain probe's decisions — the skew guard
    re-distributes the probe join, never changes it."""
    from deduplicate_text_datasets_spark.streaming.ingest import (
        build_index,
        dedup_batch,
    )

    base = tmp_path_factory.mktemp("probe")
    cfg = MinHashConfig()
    index_dir = str(base / "idx")
    build_index(docs, cfg, index_dir)
    rows = docs.limit(6).collect()
    batch = spark.createDataFrame(
        [(5000 + i, f"https://b/{i}", r["text"], "en") for i, r in enumerate(rows)]
        + [(6000, "https://b/x", " ".join(f"zz{i}" for i in range(80)), "en")],
        "doc_id long, url string, text string, lang string",
    )
    plain = {
        r["doc_id"]: (r["verdict"], r["matched_doc"])
        for r in dedup_batch(spark, batch, cfg, index_dir).collect()
    }
    salted_cfg = MinHashConfig(max_bucket_size=2, salted_bucket_max=10**6)
    index_dir2 = str(base / "idx2")
    build_index(docs, salted_cfg, index_dir2)
    salted = {
        r["doc_id"]: (r["verdict"], r["matched_doc"])
        for r in dedup_batch(spark, batch, salted_cfg, index_dir2).collect()
    }
    assert plain == salted
    assert all(plain[5000 + i][0] == "exact" for i in range(6))
    assert plain[6000][0] == "novel"


def test_contamination_report_levels(spark):
    """The scorecard must detect each contamination level independently:
    exact copy, near copy (doc-level), shared >=L-byte substring
    (substring-level only), and a clean doc with zeros/nulls."""
    from deduplicate_text_datasets_spark.config import ExactSubstrConfig
    from deduplicate_text_datasets_spark.plans.caching import cache_scope
    from deduplicate_text_datasets_spark.plans.pipeline import (
        contamination_report,
    )

    uniq = lambda p, n: " ".join(f"{p}{i}" for i in range(n))  # noqa: E731
    s_shared = "S" + "x" * 58 + "Z"  # 60-byte distinctive substring
    train = spark.createDataFrame(
        [
            (0, "https://t/0", uniq("aa", 120), "en"),
            (1, "https://t/1", uniq("bb", 40) + " " + s_shared + " " + uniq("cc", 40), "en"),
            (2, "https://t/2", uniq("dd", 120), "en"),
        ],
        "doc_id long, url string, text string, lang string",
    )
    near_w = uniq("dd", 120).split()
    near_w[7] = "changedword"
    ev = spark.createDataFrame(
        [
            (10, "https://e/0", uniq("aa", 120), "en"),            # exact copy of 0
            (11, "https://e/1", " ".join(near_w), "en"),           # near copy of 2
            (12, "https://e/2", uniq("ee", 30) + " " + s_shared + " " + uniq("ff", 30), "en"),
            (13, "https://e/3", uniq("gg", 120), "en"),            # clean
        ],
        "doc_id long, url string, text string, lang string",
    )
    cfg = EngineConfig(
        exact=ExactSubstrConfig(
            length_threshold=50, shard_bytes=4096, overlap_bytes=256,
            with_separators=True,
        )
    )
    with cache_scope():
        rep = {
            r["doc_id"]: r
            for r in contamination_report(train, ev, cfg).collect()
        }
    assert len(rep) == 4
    assert rep[10]["exact_dup"] and rep[10]["near_dup_match"] == 0
    assert rep[10]["contaminated_frac"] > 0.8
    assert not rep[11]["exact_dup"] and rep[11]["near_dup_match"] == 2
    assert rep[11]["contaminated_bytes"] > 0
    assert not rep[12]["exact_dup"] and rep[12]["near_dup_match"] is None
    assert 50 <= rep[12]["contaminated_bytes"] <= 80
    assert rep[13] ["exact_dup"] is False
    assert rep[13]["near_dup_match"] is None
    assert rep[13]["contaminated_bytes"] == 0
    assert rep[13]["contaminated_frac"] == 0.0


def test_prepare_training_data_end_to_end(spark, tmp_path_factory):
    """The full production driver: policy filter -> NearDup keep ->
    ExactSubstr strike, checkpointed, with per-stage lineage counts.
    Planted policy violations must be dropped by exactly their own flag,
    exact-dup texts must collapse to one survivor, and a re-run against
    the same store must resume (no stage rebuilds)."""
    from deduplicate_text_datasets_spark.config import ExactSubstrConfig
    from deduplicate_text_datasets_spark.plans.caching import cache_scope
    from deduplicate_text_datasets_spark.plans.pipeline import (
        make_store,
        prepare_training_data,
    )

    # fixture docs big enough that the default quality gate (>= 20 tokens)
    # is about the policy, not the fixture sizing
    docs = spark.createDataFrame(
        synth_documents_pandas(60, size_lo=300, size_hi=900),
        schema=DOCUMENTS_SCHEMA,
    )
    # fluent English prose that passes every policy gate (the synth fixture
    # text is gibberish the lang-ID calls 'und', so the dup pair the funnel
    # assertion needs must be planted as policy-passing English)
    prose = (
        "We walked along the river in the early morning and watched the "
        "boats drift past while the city slowly woke around us. Later that "
        "day she told me about her plans for the garden, which involved "
        "moving the old roses to a sunnier corner near the fence. Nobody "
        "expected the rain to arrive before evening, but it came anyway "
        "and we were glad for the shelter of the little wooden bridge."
    )
    extra = spark.createDataFrame(
        [
            (1000, "u1000", "der und die das nicht " * 30),
            (1001, "u1001", "tiny"),
            (
                1002,
                "u1002",
                "the quick brown fox jumps over the lazy dogs " * 30,
            ),
            # exact-dup English pair: both pass policy, NearDup keeps one
            (1003, "u1003", prose),
            (1004, "u1004", prose),
        ],
        "doc_id long, url string, text string",
    ).select(
        "doc_id",
        "url",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.lit(""), "UTF-8").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )
    all_docs = docs.unionByName(extra)
    cfg = EngineConfig(
        exact=ExactSubstrConfig(
            length_threshold=30, shard_bytes=4096, overlap_bytes=256
        )
    )
    base = str(tmp_path_factory.mktemp("ptd"))
    store = make_store(spark, base, cfg)
    with cache_scope():
        res = prepare_training_data(all_docs, cfg, store=store)
        flags = {r["doc_id"]: r.asDict() for r in res.filter_flags.collect()}
        counts = {r["stage"]: r["rows"] for r in res.stage_counts.collect()}
        kept = res.kept_docs.collect()

    assert len(flags) == all_docs.count()
    assert not flags[1000]["lang_ok"]
    assert not flags[1001]["quality_ok"]
    assert not flags[1002]["repetition_ok"]
    # repetition doc is fluent English and long — the OTHER flags pass, so
    # only the repetition signal drops it (the filter is not redundant)
    assert flags[1002]["lang_ok"] and flags[1002]["quality_ok"]
    kept_ids = {r["doc_id"] for r in kept}
    assert {1000, 1001, 1002}.isdisjoint(kept_ids)
    # both prose dups pass policy; NearDup keeps exactly the cluster min
    assert flags[1003]["policy_ok"] and flags[1004]["policy_ok"]
    assert 1003 in kept_ids and 1004 not in kept_ids
    # exact-dup fixture texts collapse to one survivor before the strike,
    # so no two ORIGINAL texts of kept docs are equal
    originals = {
        r["doc_id"]: r["text"]
        for r in all_docs.filter(F.col("doc_id").isin(list(kept_ids))).collect()
    }
    texts = list(originals.values())
    assert len(texts) == len(set(texts))
    # lineage: monotone through the funnel, all stages reported
    assert (
        counts["input_docs"]
        >= counts["policy_kept"]
        >= counts["neardup_kept"]
        >= counts["final_docs"]
        > 0
    )
    assert counts["neardup_kept"] < counts["policy_kept"]  # dups existed
    # resume: every stage answers from the store on a second run
    for name in ("policy_flags", "neardup_edges", "neardup_components",
                 "exactsubstr_dups", "remove_ranges"):
        assert store.has(name), name
    with cache_scope():
        res2 = prepare_training_data(all_docs, cfg, store=store)
        counts2 = {r["stage"]: r["rows"] for r in res2.stage_counts.collect()}
    assert counts2 == counts


def test_prepare_training_data_flags_persisted_in_scope(spark, docs):
    """Without a store the policy flags are computed once: persisted for
    the round's actions inside the cache_scope, released when it exits."""
    from deduplicate_text_datasets_spark.config import ExactSubstrConfig
    from deduplicate_text_datasets_spark.plans.caching import cache_scope
    from deduplicate_text_datasets_spark.plans.pipeline import (
        prepare_training_data,
    )

    cfg = EngineConfig(
        exact=ExactSubstrConfig(
            length_threshold=30, shard_bytes=4096, overlap_bytes=256
        )
    )
    with cache_scope():
        res = prepare_training_data(docs, cfg)
        assert res.filter_flags.is_cached
    assert not res.filter_flags.is_cached
