"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, document fingerprinting.

All pure Catalyst expressions (whole-stage codegen; no Python), and each is
expressible 1:1 in ANSI SQL — the driver's DuckDB oracle runs the same
formulas (__spark_entry__.py), making every one of these a value-hash-gated
operator. Counting uses literal-substring arithmetic (length-difference
trick) rather than dialect-specific regex so Spark and DuckDB agree exactly.

The policy signals (language, quality, repetition) are one per-row
projection (policy_signals): a doc is tokenized once, and the repetition
signals fold the doc's own sorted n-grams instead of exchanging them, so
the policy filter plans no exchange and no join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint, tokens

# tiny per-language stopword panels (heuristic language ID; deterministic)
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "und", "die", "das", "nicht"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
}


def substr_count(col: Column, needle: str) -> Column:
    """Occurrences of a literal substring (non-overlapping), via the
    length-difference identity — portable across engines."""
    return (
        (F.octet_length(col) - F.octet_length(F.replace(col, F.lit(needle))))
        / len(needle)
    ).cast("long")


def token_count(text_col: str = "text") -> Column:
    """Whitespace/punct token count (shared tokenizer definition)."""
    return F.size(tokens(text_col)).cast("long")


def doc_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_bytes, n_tokens, avg_token_len, space_ratio) — the
    length/shape features quality filters cut on."""
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    n_tokens = token_count(text_col)
    return docs.select(
        "doc_id",
        F.octet_length(text_col).cast("long").alias("n_bytes"),
        n_tokens.alias("n_tokens"),
        F.round(
            F.octet_length(F.replace(F.col(text_col), F.lit(" "), F.lit("")))
            / F.greatest(n_tokens, F.lit(1)),
            6,
        ).alias("avg_token_len"),
        F.round(
            substr_count(F.col(text_col), " ")
            / F.greatest(F.octet_length(text_col), F.lit(1)),
            6,
        ).alias("space_ratio"),
        (substr_count(padded, " the ") + substr_count(padded, " and "))
        .alias("en_stopwords"),
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, quality): a deterministic 0..1 heuristic — penalizes
    too-short docs and degenerate token shapes (Gopher/C4-style length and
    repetition rules, reduced to engine-portable arithmetic)."""
    return policy_signals(docs, text_col).select("doc_id", "quality")


def lang_scores(text_col: str = "text") -> dict[str, Column]:
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    return {
        lang: sum(
            (substr_count(padded, f" {w} ") for w in words), start=F.lit(0)
        )
        for lang, words in LANG_STOPWORDS.items()
    }


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, lang_pred, lang_hits): stopword-panel argmax with a
    deterministic tie order (en > de > fr > es), 'und' (undetermined) when
    no panel matches. N-gram-free heuristic — portable to the SQL oracle."""
    return policy_signals(docs, text_col).select("doc_id", "lang_pred", "lang_hits")


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fingerprint): token-normalized 64-bit content fingerprint."""
    return docs.select("doc_id", doc_fingerprint(text_col).alias("fingerprint"))


def repetition_stats(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    MassiveText quality pipeline) — the filter family that catches
    boilerplate/spam pages whose *internal* repetition exact-substring
    dedup does not remove. Returns per doc (all LongType, ppm-scaled so
    the gate's value hash stays float-free):

      dup_line_ppm    fraction of non-empty '\\n'-lines that are repeats
                      of an earlier line (1 - distinct/total);
      top_ngram_ppm   chars covered by the single most-repeated word
                      n-gram, as count*len(gram) / total gram chars;
      dup_ngram_ppm   chars in n-gram instances whose gram occurs >= 2
                      times in the doc, over total gram chars.

    Exact integer semantics (x DIV y, not float) so the DuckDB oracle
    matches bit-for-bit. The gram stats are one sort plus one fold of the
    doc's own grams (policy_signals), O(tokens · log tokens) per doc, with
    no exchange and no join. Docs with fewer than n tokens have no
    n-grams and report 0 (unlike NearDup shingles there is no whole-doc
    fallback: repetition of a doc shorter than the window is
    meaningless)."""
    return policy_signals(docs, text_col, n).select(
        "doc_id", "dup_line_ppm", "top_ngram_ppm", "dup_ngram_ppm"
    )


def _close_run(acc: Column, prev: Column, run: Column) -> Column:
    """The fold state with the run of ``acc.run`` copies of gram
    ``acc.prev`` counted, and (prev, run) reset to the given values."""
    chars = acc["run"] * F.length(acc["prev"]).cast("long")
    return F.struct(
        prev.alias("prev"),
        run.alias("run"),
        F.greatest(acc["top"], chars).alias("top"),
        (acc["dup"] + F.when(acc["run"] >= 2, chars).otherwise(0)).alias("dup"),
        (acc["tot"] + chars).alias("tot"),
    )


def _gram_fold(toks: Column, n: int) -> Column:
    """struct(prev, run, top, dup, tot) over the doc's word n-grams: the
    sorted grams are folded in one pass that counts each run of equal
    grams (cnt) and sums cnt * len(gram) into top (max), dup (cnt >= 2)
    and tot. A doc with fewer than n tokens folds to zeros."""
    long0 = F.lit(0).cast("long")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # prev starts as '' (no gram is empty): the first gram closes a run
    # worth 0 chars
    zero = F.struct(
        F.lit("").alias("prev"), *(long0.alias(f) for f in ("run", "top", "dup", "tot"))
    )
    return F.aggregate(
        F.sort_array(grams),
        zero,
        lambda acc, g: F.when(
            acc["prev"] == g, acc.withField("run", acc["run"] + 1)
        ).otherwise(_close_run(acc, g, F.lit(1).cast("long"))),
        lambda acc: _close_run(acc, F.lit(""), long0),
    )


def policy_signals(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, lang_pred, lang_hits, quality, dup_line_ppm, top_ngram_ppm,
    dup_ngram_ppm): every policy signal, as lang_id, quality_score and
    repetition_stats define them, in one per-row projection. The doc is
    tokenized once into its own column, which the token count and the
    n-gram fold both read; the fold struct is its own column too, so
    neither is inlined into each use. The optimizer prunes the signals a
    caller does not select."""
    toks = F.col("_tok")
    n_tokens = F.size(toks).cast("long")
    len_ok = F.when(n_tokens >= 20, F.lit(1.0)).otherwise(n_tokens / F.lit(20.0))
    avg_len = F.octet_length(text_col).cast("long") / F.greatest(n_tokens, F.lit(1))
    shape_ok = F.when((avg_len >= 3) & (avg_len <= 12), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    scores = lang_scores(text_col)
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_STOPWORDS)):  # earlier langs win ties
        pred = F.when(
            (scores[lang] > 0) & (scores[lang] == best), F.lit(lang)
        ).otherwise(pred)
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: x != "")

    def ppm(x: str, y: str) -> Column:
        # guarded: DIV by zero raises under ANSI mode
        return F.expr(
            f"CAST(CASE WHEN {y} > 0 THEN (1000000 * {x}) DIV {y} ELSE 0 END "
            "AS BIGINT)"
        )

    return (
        docs.withColumn("_tok", tokens(text_col))
        .select(
            "doc_id",
            pred.alias("lang_pred"),
            best.cast("long").alias("lang_hits"),
            F.round(len_ok * shape_ok, 6).alias("quality"),
            F.size(lines).cast("long").alias("nl"),
            F.size(F.array_distinct(lines)).cast("long").alias("ndl"),
            _gram_fold(toks, n).alias("_rep"),
        )
        .select(
            "doc_id",
            "lang_pred",
            "lang_hits",
            "quality",
            ppm("(nl - ndl)", "nl").alias("dup_line_ppm"),
            ppm("_rep.top", "_rep.tot").alias("top_ngram_ppm"),
            ppm("_rep.dup", "_rep.tot").alias("dup_ngram_ppm"),
        )
    )
