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

    Hot-shingle policy: postings for shingles with df <= max_shingle_df
    self-join in one reducer task per shingle; shingles up to
    ``salted_shingle_df`` go through the EXACT grid-salted self-join
    (operators/salted_join.py) — this matters for correctness, not just
    skew: each shared shingle contributes 1 to a pair's intersection
    count, so a DROPPED hot shingle undercounts Jaccard and can lose true
    pairs, while the salted join keeps counts exact. Only shingles beyond
    ``salted_shingle_df`` are skipped (stopword-shingle guard; quadratic
    pair fan-out must cap somewhere). Output: (a, b, inter, size_a,
    size_b) — integers only.
    """
    from ..plans.caching import scoped_persist

    sh = scoped_persist(doc_shingles(docs, cfg, text_col))
    sizes = sh.select("doc_id", F.size("sh").alias("nsh"))
    inv = sh.select("doc_id", F.explode("sh").alias("g"))
    # document frequency per shingle via groupBy (map-side partial agg; a
    # count-over-window would pin a stopword-shingle's postings in one
    # WindowExec partition). df >= 2 prunes every unique shingle — the
    # overwhelming majority of webtext shingles — before the self-join;
    # df <= cap is the stopword-shingle skew guard.
    dfc_all = scoped_persist(
        inv.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    )
    dfc = dfc_all.filter(
        (F.col("df") >= 2) & (F.col("df") <= max_shingle_df)
    )
    # pruned postings feed BOTH sides of the shingle-key self-join:
    # co-partition on g before caching so the join co-locates without
    # re-exchanging each side
    kept = scoped_persist(inv.join(dfc.select("g"), "g").repartition("g"))
    a = kept.select(F.col("g").alias("g"), F.col("doc_id").alias("a"))
    b = kept.select(F.col("g").alias("g"), F.col("doc_id").alias("b"))
    plain = a.join(b, "g").filter(F.col("a") < F.col("b")).select("a", "b")
    # hot shingles: exact grid-salted self-join so their postings still
    # contribute 1 per shared shingle to the intersection counts (see
    # docstring — dropping them would undercount Jaccard)
    from .salted_join import grid_salted_self_pairs

    hot = inv.join(
        dfc_all.filter(
            (F.col("df") > max_shingle_df)
            & (F.col("df") <= salted_shingle_df)
        ).select("g", F.col("df").alias("bsize")),
        "g",
    )
    salted = grid_salted_self_pairs(hot, ["g"], max_shingle_df)
    inter = (
        plain.unionByName(salted)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("nsh").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("nsh").alias("size_b"))
    out = inter.join(sa, "a").join(sb, "b")
    # inter/(size_a+size_b-inter) >= num/den  <=>  den*inter >= num*(union)
    return out.filter(
        F.lit(threshold_den) * F.col("inter")
        >= F.lit(threshold_num) * (F.col("size_a") + F.col("size_b") - F.col("inter"))
    ).select("a", "b", "inter", "size_a", "size_b")
