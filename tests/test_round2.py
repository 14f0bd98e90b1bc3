"""Round-2 additions: persisted SA index, --only_save_one cluster samples,
hierarchical dense-id assignment, sinks dispatch, hot-window skew
fixture."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from deduplicate_text_datasets_spark.config import ExactSubstrConfig
from deduplicate_text_datasets_spark.operators.sa_index import (
    build_suffix_index,
    count_occurrences_indexed,
    find_positions_indexed,
    find_training_data_indexed,
    read_suffix_index,
    write_suffix_index,
)
from deduplicate_text_datasets_spark.operators.suffix import (
    cluster_samples,
    count_occurrences,
    find_positions,
    find_training_data,
    self_similar,
)
from deduplicate_text_datasets_spark.oracle import pyref
from deduplicate_text_datasets_spark.sources.corpus import with_offsets
from deduplicate_text_datasets_spark.sources.documents import (
    DOCUMENTS_SCHEMA,
    synth_documents_pandas,
)
from deduplicate_text_datasets_spark.sources.sinks import (
    is_path_target,
    read_table,
    write_table,
)

CFG = ExactSubstrConfig(
    length_threshold=100, shard_bytes=4096, overlap_bytes=512,
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


@pytest.fixture(scope="module")
def sa_index(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sa_index") / "idx")
    write_suffix_index(build_suffix_index(docs, CFG), path)
    return read_suffix_index(spark, path)


def _queries(fixture_pdf):
    t0 = fixture_pdf["text"][3]
    t1 = fixture_pdf["text"][7]
    return [
        (0, t0[5:45].encode()),
        (1, t1[: min(60, len(t1))].encode()),
        (2, b"zz-not-present-zz"),
    ]


def test_index_counts_match_unindexed_and_oracle(
    spark, docs, fixture_pdf, oracle_corpus, sa_index
):
    _, corpus, _ = oracle_corpus
    qs = _queries(fixture_pdf)
    live = {
        r["query_id"]: r["count"]
        for r in count_occurrences(docs, qs, CFG).collect()
    }
    idx = {
        r["query_id"]: r["count"]
        for r in count_occurrences_indexed(sa_index, qs).collect()
    }
    assert idx == live
    for qid, q in qs:
        assert idx[qid] == pyref.count_occurrences(corpus, q), qid


def test_index_positions_match(spark, docs, fixture_pdf, oracle_corpus, sa_index):
    _, corpus, _ = oracle_corpus
    qs = _queries(fixture_pdf)
    live = {
        (r["query_id"], r["pos"])
        for r in find_positions(docs, qs, CFG).collect()
    }
    idx = {
        (r["query_id"], r["pos"])
        for r in find_positions_indexed(sa_index, qs).collect()
    }
    assert idx == live
    # spot-check vs naive scan for query 0
    q = qs[0][1]
    naive = set()
    at = corpus.find(q)
    while at != -1:
        naive.add((0, at))
        at = corpus.find(q, at + 1)
    assert {p for p in idx if p[0] == 0} == naive


def test_index_training_data_matches(spark, docs, fixture_pdf, sa_index):
    t = fixture_pdf["text"][0]
    qs = [(0, (t[:40] + "QQXX").encode())]
    live = {
        (r["query_id"], r["qpos"]): r["match_len"]
        for r in find_training_data(docs, qs, CFG, probe_cap=128).collect()
    }
    idx = {
        (r["query_id"], r["qpos"]): r["match_len"]
        for r in find_training_data_indexed(sa_index, qs, probe_cap=128).collect()
    }
    assert idx == live


def test_cluster_samples_only_save_one(spark, docs, oracle_corpus):
    """--only_save_one parity (main.rs:915-919): one matched byte sequence
    per cluster, read at the head position; must equal the corpus window
    there and the window at every member position."""
    _, corpus, _ = oracle_corpus
    dups = self_similar(docs, CFG).cache()
    samples = cluster_samples(docs, dups, CFG).collect()
    assert len(samples) > 0
    by_head = {r["cluster_id"]: r for r in samples}
    members = dups.collect()
    assert set(by_head) == {r["cluster_id"] for r in members}
    L = CFG.length_threshold
    for r in samples:
        head = r["cluster_id"]
        assert bytes(r["sample"]) == corpus[head : head + L]
    for m in members[:200]:
        assert (
            corpus[m["pos"] : m["pos"] + L]
            == bytes(by_head[m["cluster_id"]]["sample"])
        )


def test_hot_window_skew_fixture(spark):
    """The C4 60,000x-repeated-sequence scenario (README.md:10) in
    miniature: one 100+-byte sentence planted in every doc. The mappass
    clustering must return the right cluster size for the hot window."""
    hot = "the quick brown fox jumps over the lazy dog again and again " * 3
    rng = np.random.RandomState(11)
    rows = []
    for k in range(800):
        pad = "".join(
            rng.choice(list("abcdefgh "), size=rng.randint(40, 140))
        )
        rows.append((k, f"u{k}", pad + hot + pad[::-1]))
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    cfg = ExactSubstrConfig(
        length_threshold=100, shard_bytes=16384, overlap_bytes=1024,
        with_separators=True,
    )
    dups = self_similar(with_offsets(df, True), cfg)
    top = dups.agg(F.max("cluster_size").alias("m")).collect()[0]["m"]
    assert top >= 800  # hot window present in every doc


def test_assign_dense_ids_by_url(spark):
    from deduplicate_text_datasets_spark.sources.documents import (
        assign_dense_ids,
    )

    rows = [(f"https://x{(i * 37) % 101:03d}.example/p",) for i in range(101)]
    df = spark.createDataFrame(rows, "url string").repartition(7)
    got = assign_dense_ids(df, order_col="url").collect()
    assert sorted(r["doc_id"] for r in got) == list(range(101))
    by_url = sorted((r["url"], r["doc_id"]) for r in got)
    assert [d for _, d in by_url] == list(range(101))


def test_assign_dense_ids_input_order(spark):
    from deduplicate_text_datasets_spark.sources.documents import (
        assign_dense_ids,
    )

    df = spark.range(0, 500, 1, 5).select(F.col("id").alias("orig"))
    got = assign_dense_ids(df, order_col=None).collect()
    assert sorted(r["doc_id"] for r in got) == list(range(500))


def test_tokenize_corpus_seam(spark):
    """Pluggable tokenizer seam: default hash vocabulary packs to the
    reference's little-endian uint16 layout (load_dataset.py:63-69); a
    custom batch tokenizer UDF plugs in; GPT-2 raises cleanly when
    tiktoken is absent."""
    import pandas as pd

    from deduplicate_text_datasets_spark.functions.text import (
        gpt2_tokenizer_udf,
        make_tokenizer_udf,
        tokenize_corpus,
    )

    docs = spark.createDataFrame(
        [(0, "hello world again"), (1, "")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in tokenize_corpus(docs).collect()}
    ids = got[0]["token_ids"]
    assert len(ids) > 0 and all(0 <= i < 65536 for i in ids)
    packed = bytes(got[0]["packed"])
    assert len(packed) == 2 * len(ids)
    assert [
        int.from_bytes(packed[i : i + 2], "little") for i in range(0, len(packed), 2)
    ] == list(ids)
    assert bytes(got[1]["packed"]) == b""

    custom = make_tokenizer_udf(
        lambda texts: texts.map(lambda t: [len(w) for w in t.split()])
    )
    got2 = {
        r["doc_id"]: r["token_ids"]
        for r in tokenize_corpus(docs, tokenizer=custom).collect()
    }
    assert got2[0] == [5, 5, 5]

    try:
        import tiktoken  # noqa: F401

        has_tiktoken = True
    except ImportError:
        has_tiktoken = False
    if not has_tiktoken:
        with pytest.raises(NotImplementedError):
            gpt2_tokenizer_udf()


def test_sinks_parquet_fallback(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sink") / "docs_out")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    assert write_table(df, path) == "parquet"
    back = read_table(spark, path)
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b")}
    assert is_path_target("s3://bucket/x") and is_path_target("/tmp/x")
    assert not is_path_target("lake.db.documents")
    with pytest.raises(ValueError):
        write_table(df, "lake.db.documents")
