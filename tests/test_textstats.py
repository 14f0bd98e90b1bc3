"""The policy filter's text signals: repetition_stats against the
pure-Python reference on degenerate documents, and the shape of the
executed plans (one tokenization per row, no exchange, no join), and the
driver's inline quality_scores and doc_stats queries against the package
operators."""

from __future__ import annotations

import pandas as pd
import pytest

from deduplicate_text_datasets_spark.config import EngineConfig, ExactSubstrConfig
from deduplicate_text_datasets_spark.operators.textstats import repetition_stats
from deduplicate_text_datasets_spark.oracle import pyref
from deduplicate_text_datasets_spark.sources.documents import (
    DOCUMENTS_SCHEMA,
    synth_documents_pandas,
)

DEGENERATE = [
    None,
    "",
    "one",
    "two words",
    "exactly three tokens",
    "Ünïcödé ßtraße café café",
    "\n\n\n",
    "\n\nsame\n\nsame\n",
    # ties for the top gram: 'a b c' and 'x y z' each twice
    "a b c a b c x y z x y z",
    "buy now buy now buy now.",
    # 2,000+ tokens, one gram repeated hundreds of times
    " ".join(["the cat sat"] * 400 + [f"w{i}" for i in range(900)]),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _read_back(spark, df, path):
    """df round-tripped through parquet: the optimizer folds projections
    over a local relation into constants, which would bypass the plan
    under test."""
    df.write.parquet(str(path))
    return spark.read.parquet(str(path))


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_repetition_stats_matches_pyref(spark, tmp_path, ansi):
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    docs = _read_back(
        spark,
        spark.createDataFrame(list(enumerate(DEGENERATE)), "doc_id long, text string"),
        tmp_path / "docs",
    )
    try:
        spark.conf.set(key, ansi)
        got = {
            r["doc_id"]: (r["dup_line_ppm"], r["top_ngram_ppm"], r["dup_ngram_ppm"])
            for r in repetition_stats(docs).collect()
        }
    finally:
        spark.conf.set(key, old)
    assert got == {i: pyref.repetition_stats(t) for i, t in enumerate(DEGENERATE)}
    assert got[10][1] > 0 and got[10][2] > 0


def test_policy_filter_is_one_projection(spark, tmp_path):
    """repetition_stats and prepare_training_data's policy flags are
    per-row projections over one token column: their executed plans carry
    no Exchange and no Join, and the tokenizer runs once per row."""
    from deduplicate_text_datasets_spark.plans.caching import cache_scope
    from deduplicate_text_datasets_spark.plans.pipeline import (
        prepare_training_data,
    )

    docs = _read_back(
        spark,
        spark.createDataFrame(
            synth_documents_pandas(40, size_lo=30, size_hi=80),
            schema=DOCUMENTS_SCHEMA,
        ),
        tmp_path / "docs",
    )
    cfg = EngineConfig(
        exact=ExactSubstrConfig(
            length_threshold=30, shard_bytes=4096, overlap_bytes=256
        )
    )
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        with cache_scope():
            rep = _plan(repetition_stats(docs))
            flags = _plan(prepare_training_data(docs, cfg).filter_flags)
    finally:
        spark.conf.set(key, old)
    for plan in (rep, flags):
        assert "Exchange" not in plan, plan
        assert "Join" not in plan, plan
    assert rep.count("split(lower(") == 1, rep
    assert flags.count("split(lower(") == 1, flags


def test_entry_queries_match_textstats_operators(spark, tmp_path):
    """The driver's quality_scores and doc_stats queries re-derive their
    formulas inline, so their oracle hashes gate those copies. Pin each
    copy to the package operator it stands for: quality_score (through
    policy_signals) and doc_stats, on one corpus whose token counts
    straddle the 20-token length rule."""
    from decimal import ROUND_HALF_UP, Decimal

    import __spark_entry__ as entry
    from deduplicate_text_datasets_spark.operators.textstats import (
        doc_stats,
        quality_score,
    )

    synth = synth_documents_pandas(40, size_lo=30, size_hi=400)
    extra = [" ".join([w] * n) for n in range(41) for w in ("word", "a")]
    extra += ["The cat and the dog. " * 3, "supercalifragilistic " * 25]
    pdf = pd.concat(
        [
            synth,
            synth.iloc[[0] * len(extra)].assign(
                doc_id=range(len(synth), len(synth) + len(extra)), text=extra
            ),
        ],
        ignore_index=True,
    )
    spark.createDataFrame(pdf, schema=DOCUMENTS_SCHEMA).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    sf_dir = str(tmp_path)
    docs = entry._docs(spark, sf_dir)

    quality = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    ppm = {
        r["doc_id"]: r["quality_ppm"]
        for r in entry._q_quality_scores(spark, sf_dir).collect()
    }
    assert quality.keys() == ppm.keys() and len(ppm) == len(pdf)
    for i, q in quality.items():
        assert abs(q * 1e6 - ppm[i]) <= 1, (i, q, ppm[i])
        assert (q * 1_000_000 >= 750_000) == (ppm[i] >= 750_000), (i, q, ppm[i])
    assert len({v >= 750_000 for v in ppm.values()}) == 2

    stats = {r["doc_id"]: r for r in doc_stats(docs).collect()}
    copy = {r["doc_id"]: r for r in entry._q_doc_stats(spark, sf_dir).collect()}
    assert stats.keys() == copy.keys()
    for i, s in stats.items():
        c = copy[i]
        for col in ("n_bytes", "n_tokens", "en_stopwords"):
            assert s[col] == c[col], (i, col)
        ratio = Decimal(repr(c["space_count"] / max(c["n_bytes"], 1)))
        want = float(ratio.quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))
        assert s["space_ratio"] == want, (i, s["space_ratio"], want)
