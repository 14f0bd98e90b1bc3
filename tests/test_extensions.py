"""Training-data-pipeline extensions: text analysis, embedding ANN,
paragraph dedup and SemDeDup — vs driver-side numpy/python oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from deduplicate_text_datasets_spark.operators.ann import (
    cosine_pairs,
    cosine_topk,
)
from deduplicate_text_datasets_spark.operators.textstats import (
    doc_stats,
    lang_id,
    quality_score,
)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(123)
    vecs = rng.standard_normal((200, 16)).astype(np.float32)
    # plant near-identical pairs
    vecs[10] = vecs[11] + 0.001 * rng.standard_normal(16).astype(np.float32)
    vecs[20] = vecs[21]
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.cache().count()
    return df, vecs


def _cos(a, b):
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_cosine_topk_exact(spark, emb):
    df, vecs = emb
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk(df, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for q in range(3):
        sims = sorted(
            ((-_cos(vecs[q], vecs[j]), j) for j in range(200) if j != q)
        )[:5]
        expect = [j for _, j in sims]
        ranked = [n for _, n in sorted(by_q[q])]
        assert ranked == expect, f"query {q}"


def test_cosine_topk_empty_queries(spark, emb):
    df, _ = emb
    queries = spark.createDataFrame([], "query_id long, embedding array<float>")
    out = cosine_topk(df, queries, k=5)
    assert out.columns == ["query_id", "rank", "neighbor_id", "cosine"]
    assert out.count() == 0


def test_cosine_pairs_finds_planted(spark, emb):
    df, _ = emb
    pairs = {
        (r["a"], r["b"])
        for r in cosine_pairs(df, dim=16, threshold=0.99, method="lsh").collect()
    }
    assert (20, 21) in pairs
    assert (10, 11) in pairs


def test_cosine_pairs_lsh_matches_exact(spark, emb):
    """Banded multi-table LSH sized for 1e-5 miss at the threshold must
    reproduce the exact all-pairs result on a borderline threshold (the
    round-1 single-table variant returned 0 of 1 true pairs at c=0.5)."""
    df, vecs = emb
    exact = {
        (r["a"], r["b"], r["cos_mil"])
        for r in cosine_pairs(df, dim=16, threshold=0.6, method="exact").collect()
    }
    lsh = {
        (r["a"], r["b"], r["cos_mil"])
        for r in cosine_pairs(
            df, dim=16, threshold=0.6, method="lsh", bits=4, target_recall=0.99999
        ).collect()
    }
    assert lsh == exact
    # and the exact set agrees with numpy ground truth
    truth = {
        (a, b)
        for a in range(200)
        for b in range(a + 1, 200)
        if _cos(vecs[a], vecs[b]) >= 0.6
    }
    assert {(a, b) for a, b, _ in exact} == truth


@pytest.fixture(scope="module")
def textdocs(spark):
    rows = [
        (0, "the cat and the dog sat on the mat and then the cat ran", "en"),
        (1, "der hund und die katze und der vogel und das haus", "de"),
        (2, "le chat et la maison et les arbres et des fleurs", "fr"),
        (3, "x", "und"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_doc_stats(spark, textdocs):
    got = {r["doc_id"]: r for r in doc_stats(textdocs).collect()}
    t0 = "the cat and the dog sat on the mat and then the cat ran"
    assert got[0]["n_bytes"] == len(t0)
    assert got[0]["n_tokens"] == len(t0.split())
    assert got[0]["space_ratio"] == pytest.approx(
        t0.count(" ") / len(t0), abs=1e-6
    )
    padded = f" {t0} "
    assert got[0]["en_stopwords"] == padded.count(" the ") + padded.count(" and ")


def test_lang_id(spark, textdocs):
    got = {r["doc_id"]: r["lang_pred"] for r in lang_id(textdocs).collect()}
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "fr"
    assert got[3] == "und"


def test_quality_score_bounds(spark, textdocs):
    got = {r["doc_id"]: r["quality"] for r in quality_score(textdocs).collect()}
    assert all(0 <= v <= 1 for v in got.values())
    assert got[3] < got[0]  # one-token doc scores below a real sentence


def test_cosine_pairs_salted_buckets_parity(spark, emb):
    """Forcing every hyperplane bucket through the grid-salted self-join
    (cap=2) must reproduce the plain LSH path's pairs bit-for-bit —
    salting re-distributes the bucket self-join, never changes it."""
    df, _ = emb
    kw = dict(dim=16, threshold=0.6, method="lsh", bits=4,
              target_recall=0.99999)
    plain = {
        (r["a"], r["b"], r["cos_mil"])
        for r in cosine_pairs(df, **kw).collect()
    }
    salted = {
        (r["a"], r["b"], r["cos_mil"])
        for r in cosine_pairs(
            df, **kw, max_bucket_size=2, salted_bucket_max=10**6
        ).collect()
    }
    assert len(plain) > 0 and salted == plain


# --- IVF index (coarse-quantizer ANN, operators/ann.py IVF section) --------


def test_ivf_full_probe_is_exact(spark, emb):
    """nprobe == nlist probes every inverted list, so the IVF plan must
    reproduce exact brute-force ranks bit-for-bit (this is also what the
    ann_ivf_topk gate checks against the DuckDB oracle)."""
    from deduplicate_text_datasets_spark.operators.ann import ivf_topk

    df, _ = emb
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in cosine_topk(df, queries, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_topk(df, queries, dim=16, k=5, nlist=8, nprobe=8).collect()
    }
    assert ivf == exact


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """8 gaussian blobs — the embedding-space shape IVF exists for."""
    rng = np.random.RandomState(321)
    centers = rng.standard_normal((8, 16)) * 4.0
    vecs = np.vstack(
        [centers[i % 8] + rng.standard_normal(16) * 0.3 for i in range(400)]
    ).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.cache().count()
    return df, vecs


def test_ivf_partial_probe_recall(spark, clustered_emb):
    """On blob-structured data, probing 2 of 8 lists must keep recall@5
    high: a query's true neighbors live in its own blob, and the trained
    centroids align with the blobs (the data-dependence LSH lacks)."""
    from deduplicate_text_datasets_spark.operators.ann import ivf_topk

    df, vecs = clustered_emb
    qids = [0, 7, 33, 150]
    queries = df.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {}
    for r in ivf_topk(df, queries, dim=16, k=5, nlist=8, nprobe=2).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for q in qids:
        sims = sorted(
            ((-_cos(vecs[q], vecs[j]), j) for j in range(400) if j != q)
        )[:5]
        truth = {j for _, j in sims}
        hits += len(truth & got.get(q, set()))
        total += len(truth)
    assert hits / total >= 0.9, f"recall@5 {hits}/{total}"


def test_ivf_centroids_deterministic_and_reseeded(spark):
    """Training is deterministic under any input partitioning (hash-based
    sample, seeded init), and empty clusters reseed instead of dying: 120
    copies of 3 distinct vectors with nlist=8 leaves >=5 lists empty every
    Lloyd round."""
    from deduplicate_text_datasets_spark.operators.ann import train_centroids

    rng = np.random.RandomState(9)
    base = rng.standard_normal((3, 16))
    rows = [
        (i, [float(x) for x in base[i % 3]]) for i in range(120)
    ]
    df1 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df2 = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(7)
    c1 = train_centroids(df1, 16, 8)
    c2 = train_centroids(df2, 16, 8)
    assert np.array_equal(c1, c2)
    assert np.all(np.isfinite(c1))
    norms = np.linalg.norm(c1, axis=1)
    assert np.allclose(norms[norms > 0], 1.0)


def test_repetition_stats_planted(spark):
    """Gopher repetition signals vs hand-computed values: a doc made of one
    line repeated 4x (dup_line 3/4), a heavily repeated trigram, a doc with
    no repetition, and a doc too short to have any trigram."""
    from deduplicate_text_datasets_spark.operators.textstats import (
        repetition_stats,
    )

    rows = [
        (0, "spam line\nspam line\nspam line\nspam line"),
        # tokens: buy now buy now buy now -> trigrams: 'buy now buy',
        # 'now buy now', 'buy now buy', 'now buy now' (each twice, 11 ch)
        (1, "buy now buy now buy now."),
        (2, "every word here is fully distinct prose"),
        (3, "two words"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    assert got[0]["dup_line_ppm"] == (1_000_000 * 3) // 4
    # doc 1: 6 tokens -> 4 trigrams, all duplicated, each 11 chars
    assert got[1]["dup_ngram_ppm"] == 1_000_000
    assert got[1]["top_ngram_ppm"] == (1_000_000 * 22) // 44
    assert got[2]["dup_ngram_ppm"] == 0
    assert got[2]["dup_line_ppm"] == 0
    # < n tokens: no grams at all -> all gram stats 0
    assert got[3]["top_ngram_ppm"] == 0
    assert got[3]["dup_ngram_ppm"] == 0
    assert got[4]["dup_line_ppm"] == 0
    assert set(got) == {0, 1, 2, 3, 4}


# --- paragraph-tier dedup (operators/paragraphs) ----------------------------


def test_paragraph_dedup_planted(spark):
    """Hand-computed: the boilerplate line survives only at its globally
    first (doc_id, idx); within-doc repeats drop; short lines and empty
    lines are exempt; a doc made entirely of dropped paragraphs comes back
    empty but is still a row."""
    from deduplicate_text_datasets_spark.operators.paragraphs import (
        paragraph_dedup,
    )

    boiler = "subscribe to our newsletter today"  # 33 chars, dedup-eligible
    body0 = "the first unique body paragraph of document zero"
    body1 = "a different unique body paragraph for document one"
    rows = [
        (0, f"{boiler}\n{body0}\n\nok\n{body0}"),  # self-repeat of body0
        (1, f"{boiler}\n{body1}"),
        (2, boiler),  # whole doc is one dropped paragraph
        (3, "ok"),  # short line repeated across docs: exempt
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in paragraph_dedup(df).collect()}
    assert got[0]["deduped"] == f"{boiler}\n{body0}\n\nok"
    assert got[0]["n_paras"] == 5 and got[0]["kept_paras"] == 4
    assert got[1]["deduped"] == body1
    assert got[2]["deduped"] == "" and got[2]["kept_paras"] == 0
    assert got[3]["deduped"] == "ok"
    assert set(got) == {0, 1, 2, 3}


def test_paragraph_dedup_first_wins_any_partitioning(spark):
    """The winner is min(doc_id, idx) under any input partitioning."""
    from deduplicate_text_datasets_spark.operators.paragraphs import (
        paragraph_dedup,
    )

    para = "this exact paragraph appears in every single document here"
    rows = [(i, f"unique lead paragraph number {i} padded out\n{para}")
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for frame in (df, df.repartition(7), df.orderBy(F.desc("doc_id"))):
        got = {r["doc_id"]: r["deduped"] for r in paragraph_dedup(frame).collect()}
        assert para in got[0]
        assert all(para not in got[i] for i in range(1, 20))


def test_repeated_paragraphs_census(spark):
    from deduplicate_text_datasets_spark.operators.paragraphs import (
        repeated_paragraphs,
    )

    para = "a boilerplate paragraph that repeats in two documents"
    rows = [
        (0, f"{para}\nsomething unique in zero goes right here"),
        (1, f"lead one is unique and long enough here\n{para}\n{para}"),
        (2, "entirely unique paragraph for document two"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = repeated_paragraphs(df).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n_occurrences"] == 3 and r["n_docs"] == 2
    assert (r["first_doc_id"], r["first_idx"]) == (0, 0)
    assert r["chars"] == len(para)


def test_domain_stats_planted(spark):
    from deduplicate_text_datasets_spark.operators.webpages import domain_stats

    rows = [
        (0, "https://a.example/x", "same text body"),
        (1, "https://a.example/y", "same text body"),  # dup, not keeper
        (2, "https://user:pw@A.EXAMPLE:8080/z", "unique text one"),  # host normalized
        (3, "https://b.example/q", "same text body"),  # dup under b
        (4, "not a url at all", "unique text two"),  # '' host bucket
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    got = {r["host"]: r.asDict() for r in domain_stats(df).collect()}
    assert got["a.example"]["n_docs"] == 3
    assert got["a.example"]["dup_docs"] == 1  # doc 1 only; doc 0 is keeper
    assert got["a.example"]["dup_ppm"] == 333_333
    assert got["b.example"]["dup_docs"] == 1
    assert got[""]["n_docs"] == 1 and got[""]["dup_docs"] == 0
    assert got["a.example"]["total_bytes"] == sum(
        len(t) for _, u, t in rows if "a.example" in u.lower()
    )


# --- SemDeDup (operators/semdedup) ------------------------------------------


@pytest.fixture(scope="module")
def sem_emb(spark):
    """3 planted near-dup groups (ids 0-2, 10-11, 20-22) + 5 singletons,
    in two well-separated regions so k-means cannot split a dup group."""
    rng = np.random.RandomState(77)
    base_a = rng.standard_normal(16) * 3 + 10.0
    base_b = rng.standard_normal(16) * 3 - 10.0
    rows = []

    def put(vid, center, jitter):
        rows.append((vid, [float(x) for x in center + jitter]))

    for vid in (0, 1, 2):
        put(vid, base_a, rng.standard_normal(16) * 1e-3)
    for vid in (10, 11):
        put(vid, base_b, rng.standard_normal(16) * 1e-3)
    for vid in (20, 21, 22):
        put(vid, base_a * -1.0, rng.standard_normal(16) * 1e-3)
    for i, vid in enumerate((30, 31, 40, 41, 42)):
        center = base_a if i % 2 == 0 else base_b
        # orthogonal-ish jitter large enough to stay below eps
        put(vid, center * 0.1, rng.standard_normal(16) * 8.0)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.cache().count()
    return df


def test_semantic_dedup_exact_groups(spark, sem_emb):
    from deduplicate_text_datasets_spark.operators.semdedup import semantic_dedup

    got = {
        r["vec_id"]: r.asDict()
        for r in semantic_dedup(sem_emb, dim=16, eps=0.999, nlist=1).collect()
    }
    assert len(got) == 13
    for group, keeper in (((0, 1, 2), 0), ((10, 11), 10), ((20, 21, 22), 20)):
        for vid in group:
            assert got[vid]["component"] == keeper
            assert got[vid]["keep"] == (vid == keeper)
    for vid in (30, 31, 40, 41, 42):
        assert got[vid]["component"] == vid and got[vid]["keep"]


def test_semantic_dedup_clustered_matches_exact(spark, sem_emb):
    """nlist=4 on well-separated groups: same components as nlist=1 exact
    (no dup group straddles a k-means boundary in this fixture)."""
    from deduplicate_text_datasets_spark.operators.semdedup import semantic_dedup

    exact = {
        (r["vec_id"], r["component"], r["keep"])
        for r in semantic_dedup(sem_emb, dim=16, eps=0.999, nlist=1).collect()
    }
    clustered = {
        (r["vec_id"], r["component"], r["keep"])
        for r in semantic_dedup(sem_emb, dim=16, eps=0.999, nlist=4).collect()
    }
    assert clustered == exact


def test_semantic_dedup_centroid_outlier_policy(spark):
    """The paper's keep policy: the group member FURTHEST from its cluster
    centroid survives. One tight group of 3 where vec 2 is pulled away
    from the group's own mean direction — csim(2) < csim(0) < csim(1) by
    construction, so 2 is the keeper."""
    from deduplicate_text_datasets_spark.operators.semdedup import semantic_dedup

    base = np.zeros(8)
    base[0] = 1.0
    tilt = np.zeros(8)
    tilt[1] = 1.0
    rows = [
        (0, [float(x) for x in base + 0.010 * tilt]),
        (1, [float(x) for x in base + 0.012 * tilt]),
        (2, [float(x) for x in base - 0.060 * tilt]),  # other side, farther
        (9, [float(x) for x in tilt * 5.0]),  # singleton keeps itself
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: r.asDict()
        for r in semantic_dedup(
            df, dim=8, eps=0.99, nlist=1, keep="centroid_outlier"
        ).collect()
    }
    assert got[0]["component"] == got[1]["component"] == got[2]["component"] == 0
    assert [v for v in (0, 1, 2) if got[v]["keep"]] == [2]
    assert got[9]["keep"]


def test_semantic_dup_pairs_salted_parity(spark, sem_emb):
    """Forcing every cluster through the grid-salted overflow path yields
    the identical pair set."""
    from deduplicate_text_datasets_spark.operators.ann import (
        ivf_assign,
        train_centroids,
    )
    from deduplicate_text_datasets_spark.operators.semdedup import (
        semantic_dup_pairs,
    )

    cents = train_centroids(sem_emb, 16, 1)
    assigned = ivf_assign(sem_emb, cents).cache()
    plain = {
        (r["a"], r["b"])
        for r in semantic_dup_pairs(assigned, eps=0.999).collect()
    }
    salted = {
        (r["a"], r["b"])
        for r in semantic_dup_pairs(
            assigned, eps=0.999, max_cluster_size=3
        ).collect()
    }
    assert plain and salted == plain
    assigned.unpersist()


def test_semantic_dedup_bad_keep_policy(spark, sem_emb):
    from deduplicate_text_datasets_spark.operators.semdedup import semantic_dedup

    with pytest.raises(ValueError, match="keep"):
        semantic_dedup(sem_emb, dim=16, eps=0.9, keep="greedy")
