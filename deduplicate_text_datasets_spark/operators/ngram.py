"""Exact n-gram (shingle) Jaccard similarity — the all-pairs ground truth
the LSH path approximates, and a standalone near-dup operator for bounded
inputs.

Plan: explode distinct shingle hashes, self-equi-join on the shingle key
(inverted index join — shuffle ~ total shingles, never |docs|^2), aggregate
pair intersection counts, join back set sizes. Jaccard thresholding is done
in exact integer arithmetic so results are engine-independent
(oracle-hashable against DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import MinHashConfig
from .minhash import doc_shingles


def jaccard_pairs(
    docs: DataFrame,
    cfg: MinHashConfig,
    threshold_num: int = 4,
    threshold_den: int = 5,
    text_col: str = "text",
    max_shingle_df: int = 10000,
    salted_shingle_df: int = 100_000,
) -> DataFrame:
    """All doc pairs with shingle-Jaccard >= threshold_num/threshold_den.

    Hot-shingle policy: the shingle-key self-join is
    salted_join.skewed_self_pairs with cap ``max_shingle_df`` and ceiling
    ``salted_shingle_df``. Salting matters for correctness, not just skew:
    each shared shingle contributes 1 to a pair's intersection count, so a
    DROPPED hot shingle undercounts Jaccard and can lose true pairs, while
    the salted join keeps counts exact. Only shingles beyond
    ``salted_shingle_df`` are skipped (stopword-shingle guard; quadratic
    pair fan-out must cap somewhere). Output: (a, b, inter, size_a,
    size_b) — integers only.
    """
    from ..plans.caching import scoped_persist
    from .salted_join import skewed_self_pairs

    sh = scoped_persist(doc_shingles(docs, cfg, text_col))
    sizes = sh.select("doc_id", F.size("sh").alias("nsh"))
    inv = sh.select("doc_id", F.explode("sh").alias("g"))
    # document frequency per shingle via groupBy (map-side partial agg; a
    # count-over-window would pin a stopword-shingle's postings in one
    # WindowExec partition). df >= 2 prunes every unique shingle — the
    # overwhelming majority of webtext shingles — before the self-join.
    dfc = scoped_persist(
        inv.groupBy("g")
        .agg(F.count(F.lit(1)).alias("bsize"))
        .filter(F.col("bsize") >= 2)
    )
    # pruned postings feed both sides of the shingle-key self-join:
    # co-partition on g before caching so the join co-locates without
    # re-exchanging each side
    kept = scoped_persist(inv.join(dfc.select("g"), "g").repartition("g"))
    # one row per shared shingle: the multiplicity IS the intersection
    pairs = skewed_self_pairs(kept, dfc, ["g"], max_shingle_df, salted_shingle_df)
    inter = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("inter"))
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("nsh").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("nsh").alias("size_b"))
    out = inter.join(sa, "a").join(sb, "b")
    # inter/(size_a+size_b-inter) >= num/den  <=>  den*inter >= num*(union)
    return out.filter(
        F.lit(threshold_den) * F.col("inter")
        >= F.lit(threshold_num) * (F.col("size_a") + F.col("size_b") - F.col("inter"))
    ).select("a", "b", "inter", "size_a", "size_b")
