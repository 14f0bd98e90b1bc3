"""Semantic deduplication over an embedding column (SemDeDup).

Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale through
semantic deduplication", arXiv:2303.09540): cluster document embeddings
with k-means, call any within-cluster pair with cosine similarity above
``eps`` a semantic duplicate, and keep exactly one document per duplicate
group. Semantic dups are the tier MinHash/SimHash/exact-substring cannot
see — paraphrases and template rewrites with near-identical meaning but
disjoint shingles. The reference repo stops at lexical duplication
(README.md:10-16); this operator supplies the semantic tier the modern
web-scale recipe (SemDeDup on LAION/C4) adds on top.

Scale shape — every stage is an existing audited primitive:
  1. coarse clustering = the IVF machinery (operators/ann.train_centroids
     spherical k-means on a bounded driver sample + ivf_assign's one
     matmul per Arrow batch); embeddings cross ONE exchange, partitioned
     by list_id;
  2. within-cluster pairs = salted_join.skewed_self_pairs keyed by cluster
     (a mega-cluster of near-identical embeddings pairs through the
     salted grid instead of one reducer);
  3. duplicate groups = connected_components (large/small-star) over the
     eps-edges — SemDeDup's per-cluster greedy keep is order-dependent;
     CC over the same edge set is its deterministic, partition-invariant
     closure;
  4. keep policy per group: ``min_id`` (smallest vec_id — the SQL-
     expressible gate configuration) or ``centroid_outlier`` (keep the
     member FURTHEST from its centroid — the paper's choice, §3: keeping
     low-similarity examples preserves diversity).

The cross-cluster blind spot is inherent to SemDeDup (a dup pair split by
the k-means boundary is never compared; the paper accepts this); raising
``nlist`` trades recall for throughput exactly as in the paper, and
``nlist=1`` is the exact (all-pairs) configuration the gate checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ann import _dot, ivf_assign, train_centroids
from .connected_components import connected_components
from .salted_join import skewed_self_pairs


def semantic_dup_pairs(
    assigned: DataFrame,
    eps: float,
    max_cluster_size: int = 100_000,
    salted_cluster_max: int = 1_000_000,
) -> DataFrame:
    """(a, b) with a < b: within-cluster pairs at cosine >= eps over an
    ivf_assign frame (vec_id, list_id, unit, csim).

    Clusters pair through salted_join.skewed_self_pairs id-only, with cap
    ``max_cluster_size`` and ceiling ``salted_cluster_max``; unit vectors
    are joined onto the pairs for verification, so every emitted pair is
    exactly verified.

    ``assigned`` is read by the size agg, the hot-cluster probe, both pair
    branches and the unit join-backs — callers persist it (semantic_dedup does, via
    scoped_persist).
    """
    a = assigned.select("vec_id", "list_id")
    sizes = a.groupBy("list_id").agg(F.count(F.lit(1)).alias("bsize"))
    ids = skewed_self_pairs(
        a,
        sizes,
        ["list_id"],
        max_cluster_size,
        salted_cluster_max,
        id_col="vec_id",
    )
    u = assigned.select("vec_id", "unit")
    ua = u.select(F.col("vec_id").alias("a"), F.col("unit").alias("ua"))
    ub = u.select(F.col("vec_id").alias("b"), F.col("unit").alias("ub"))
    return (
        ids.join(ua, "a")
        .join(ub, "b")
        .withColumn("cosine", _dot("ua", "ub"))
        .filter(F.col("cosine") >= eps)
        .select("a", "b")
        .distinct()
    )


def semantic_dedup(
    emb: DataFrame,
    dim: int,
    eps: float,
    nlist: int = 64,
    keep: str = "min_id",
    vec_col: str = "embedding",
    max_cluster_size: int = 100_000,
) -> DataFrame:
    """SemDeDup keep decision per vector: (vec_id, component, keep).

    ``component`` is the duplicate group (min vec_id of the eps-connected
    component; singletons are their own group). ``keep``:

      * ``min_id``           — the group's smallest vec_id survives
                               (deterministic, oracle-expressible);
      * ``centroid_outlier`` — the member with the LOWEST cosine to its
                               cluster centroid survives (the paper's
                               keep-outliers policy), vec_id tie-break.
    """
    if keep not in ("min_id", "centroid_outlier"):
        raise ValueError(
            f"keep must be 'min_id' or 'centroid_outlier'; got {keep!r}"
        )
    from ..plans.caching import scoped_persist

    cents = train_centroids(emb, dim, nlist, vec_col)
    assigned = scoped_persist(
        ivf_assign(emb, cents, vec_col).repartition("list_id")
    )
    edges = semantic_dup_pairs(assigned, eps, max_cluster_size).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    comps = connected_components(
        edges, nodes=assigned.select(F.col("vec_id").alias("node"))
    )
    if keep == "min_id":
        return comps.select(
            F.col("node").alias("vec_id"),
            "component",
            (F.col("node") == F.col("component")).alias("keep"),
        )
    ranked = comps.join(
        assigned.select(F.col("vec_id").alias("node"), "csim"), "node"
    )
    keepers = ranked.groupBy("component").agg(
        F.min(F.struct("csim", "node")).alias("w")
    )
    return ranked.join(keepers, "component").select(
        F.col("node").alias("vec_id"),
        "component",
        (F.col("node") == F.col("w.node")).alias("keep"),
    )
