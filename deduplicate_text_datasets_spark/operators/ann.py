"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: a broadcast join of the
(small) query set against all vectors, the dot product evaluated JVM-side
with zip_with/aggregate in double precision, ranked per query with a
window. The scale path is an IVF index (spherical k-means coarse
quantizer, FAISS ``IndexIVFFlat`` shape): vectors are assigned to their
nearest of ``nlist`` centroids and a query scores only its ``nprobe``
nearest lists. ``nprobe == nlist`` degenerates to exact brute force (every
vector is in exactly one list), which is the oracle-checkable
configuration the ``ann_ivf_topk`` gate runs.

For embedding-based near-duplicate detection, ``cosine_pairs`` returns all
pairs above a cosine threshold within banded random-hyperplane LSH
buckets (the same family as SimHash), data-independent and sized
analytically via ``lsh_tables_for``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import ANN_SEED


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def with_unit_vectors(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Pre-normalize once so cosine reduces to a dot product. The norm is
    its own column: captured in the lambda, it is recomputed per element."""
    n = F.col("_norm")
    return (
        emb.withColumn("_norm", _norm(F.col(vec_col)))
        .withColumn(
            "unit",
            F.when(
                n > 0, F.transform(vec_col, lambda x: x.cast("double") / n)
            ).otherwise(F.transform(vec_col, lambda x: F.lit(0.0))),
        )
        .drop("_norm")
    )


def _seq_dot(m: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row-wise dot(m[i], q) with the exact IEEE rounding sequence of the
    Catalyst fold ``aggregate(zip_with(a, b, x*y), 0.0, acc+v)``: products
    in double, then strictly left-to-right accumulation — np.cumsum is
    sequential by definition, so the result is bit-identical to the HOF
    formula (np.dot/np.sum use pairwise/SIMD summation and are NOT)."""
    return np.cumsum(m * q[None, :], axis=1)[:, -1]


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query vector by cosine similarity.

    queries: (query_id, embedding). The query side is collected and rides
    the task closure (small by declared contract — the reference's in-RAM
    query file shape); ties broken by neighbor id for determinism.
    Self-matches (same id) excluded. Returns
    (query_id, rank, neighbor_id, cosine).

    The scoring is one vectorized numpy pass per Arrow batch (round-6: the
    previous BroadcastNestedLoopJoin evaluated the zip_with/aggregate dot
    product HOFs interpreted per pair — guide §4.2). Double arithmetic
    reproduces the HOF fold bit-for-bit (_seq_dot), so ranking and the
    rounded cosine are unchanged; the rank window (with Spark's
    WindowGroupLimit partial top-k) stays in Catalyst.
    """
    q_rows = queries.select("query_id", F.col(vec_col).alias("q_vec")).collect()
    qids = [int(r["query_id"]) for r in q_rows]
    qvs = [np.asarray(r["q_vec"], dtype=np.float64) for r in q_rows]
    qnorms = [
        float(np.sqrt(np.cumsum(v * v)[-1])) if len(v) else 0.0 for v in qvs
    ]
    emb_sel = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    # small inputs scan as one split; spread the CPU-bound scoring across
    # the cluster (no-op at scale where splits >> parallelism)
    want = emb.sparkSession.sparkContext.defaultParallelism
    if emb_sel.rdd.getNumPartitions() < want:
        emb_sel = emb_sel.repartition(want)

    schema = T.StructType(
        [
            T.StructField("neighbor_id", T.LongType(), False),
            T.StructField("query_id", T.LongType(), False),
            T.StructField("cosine", T.DoubleType(), True),
        ]
    )

    def kernel(batches) -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if not len(pdf) or not qids:  # no queries: an empty result
                continue
            ids = pdf["neighbor_id"].to_numpy(np.int64)
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            vnorm = np.sqrt(np.cumsum(m * m, axis=1)[:, -1])
            out_i: list[np.ndarray] = []
            out_q: list[np.ndarray] = []
            out_c: list[np.ndarray] = []
            for qid, qv, qn in zip(qids, qvs, qnorms):
                denom = qn * vnorm
                if np.any(denom == 0.0):
                    # mirror the session's ANSI divide-by-zero contract of
                    # the Catalyst formula this kernel replaces
                    raise ArithmeticError(
                        "cosine_topk: zero-norm vector (division by zero)"
                    )
                cos = _seq_dot(m, qv) / denom
                # batch-local partial top-k (round-6): every global top-k
                # row must be in its batch's top-k under the SAME total
                # order the rank window uses (desc cosine, asc neighbor_id
                # — a prefix of a total order is preserved under union), so
                # emitting only k rows per (batch, query) cannot change
                # the window's output while shrinking its exchange ~1000x.
                # Self-matches are excluded BEFORE the cut (the outer
                # filter would otherwise punch holes in the k-prefix).
                keep = ids != qid
                kids, kcos = ids[keep], cos[keep]
                if len(kids) > k:
                    top = np.lexsort((kids, -kcos))[:k]
                    kids, kcos = kids[top], kcos[top]
                out_i.append(kids)
                out_q.append(np.full(len(kids), qid, dtype=np.int64))
                out_c.append(kcos)
            yield pd.DataFrame(
                {
                    "neighbor_id": np.concatenate(out_i),
                    "query_id": np.concatenate(out_q),
                    "cosine": np.concatenate(out_c),
                }
            )

    scored = emb_sel.mapInPandas(kernel, schema).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


BAND_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("table", T.IntegerType(), False),
        T.StructField("bucket", T.LongType(), False),
    ]
)


def lsh_tables_for(threshold: float, bits: int, target_recall: float) -> int:
    """Number of independent hyperplane tables so a pair at exactly
    ``threshold`` cosine collides in >= 1 table with prob >= target_recall.

    Per-bit collision prob for cosine c is p = 1 - arccos(c)/pi (random
    hyperplane LSH, Charikar 2002); a b-bit table collides with p^b; L
    tables miss with (1 - p^b)^L. This is the OR-amplification the single-
    table variant lacked (round-1 bug: ~9% recall at c=0.5, nbits=6).
    """
    p = 1.0 - np.arccos(min(max(threshold, -1.0), 1.0)) / np.pi
    pb = p**bits
    if pb >= 1.0:
        return 1
    miss = max(1e-12, 1.0 - target_recall)
    return max(1, int(np.ceil(np.log(miss) / np.log(1.0 - pb))))


def hyperplane_bands(
    emb: DataFrame, dim: int, tables: int, bits: int, vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, table, bucket): one bucket key per table, from ``tables``
    independent sets of ``bits`` random hyperplanes (the cosine analogue of
    MinHash band hashing). One (batch x dim) @ (dim x tables*bits) matmul
    per Arrow batch; bit-packing per table is vectorized."""
    rng = np.random.RandomState(ANN_SEED)
    planes = rng.standard_normal((dim, tables * bits))
    weights = (1 << np.arange(bits, dtype=np.uint64)).astype(np.uint64)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            bits_m = ((m @ planes) >= 0).astype(np.uint64)
            n = len(pdf)
            # (n, tables, bits) -> per-table integer bucket, offset by table
            # index so buckets from different tables never alias
            packed = (bits_m.reshape(n, tables, bits) * weights[None, None, :]).sum(
                axis=2
            )
            packed = packed + (np.arange(tables, dtype=np.uint64) << np.uint64(bits))[
                None, :
            ]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), tables),
                    "table": np.tile(
                        np.arange(tables, dtype=np.int32), n
                    ),
                    "bucket": packed.astype(np.int64).ravel(),
                }
            )

    return emb.select("vec_id", vec_col).mapInPandas(kernel, BAND_SCHEMA)


def cosine_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.9,
    method: str = "lsh",
    tables: int | None = None,
    bits: int = 4,
    target_recall: float = 0.99999,
    vec_col: str = "embedding",
    max_bucket_size: int = 100_000,
    salted_bucket_max: int = 1_000_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cos_mil) with cosine
    >= threshold; cos_mil = floor(cosine * 1000) (integer — keeps the
    driver's value hash float-free).

    method='lsh' (scale path): banded multi-table hyperplane LSH — union of
    candidates over ``tables`` independent bit-tables (OR-amplification),
    sized via ``lsh_tables_for`` so recall at the threshold is
    ``target_recall``; every candidate is exactly verified by a JVM-side
    dot product on pre-normalized vectors, so false positives are
    impossible and the only approximation is the sized LSH miss rate.
    The bucket self-join is salted_join.skewed_self_pairs with cap
    ``max_bucket_size`` and ceiling ``salted_bucket_max``, so a hot bucket
    (a near-identical embedding farm) is paired, not dropped.

    method='exact': all-pairs verification (a<b crossJoin) — the oracle
    path for small vector sets and the correctness baseline for recall
    tests.
    """
    u = with_unit_vectors(emb, vec_col).select("vec_id", "unit")
    if method == "exact":
        pairs = (
            u.select(F.col("vec_id").alias("a"))
            .crossJoin(u.select(F.col("vec_id").alias("b")))
            .filter(F.col("a") < F.col("b"))
        )
    elif method == "lsh":
        from ..plans.caching import scoped_persist
        from .salted_join import skewed_self_pairs

        if tables is None:
            tables = lsh_tables_for(threshold, bits, target_recall)
        # consumed by the size agg, the join-back and both self-join sides
        # — persist so the hyperplane kernel runs once (scope-registered,
        # plans.caching), co-partitioned on the bucket key so the consumers
        # run on the cached partitioning
        b = scoped_persist(
            hyperplane_bands(emb, dim, tables, bits, vec_col).repartition("bucket")
        )
        sizes = scoped_persist(
            b.groupBy("bucket").agg(F.count(F.lit(1)).alias("bsize"))
        )
        # id-only through the join; unit vectors join below
        pairs = skewed_self_pairs(
            b,
            sizes,
            ["bucket"],
            max_bucket_size,
            salted_bucket_max,
            id_col="vec_id",
        ).distinct()
    else:
        raise ValueError(f"unknown method {method!r} (want 'lsh' or 'exact')")
    ua = u.select(F.col("vec_id").alias("a"), F.col("unit").alias("ua"))
    ub = u.select(F.col("vec_id").alias("b"), F.col("unit").alias("ub"))
    return (
        pairs.join(ua, "a")
        .join(ub, "b")
        .withColumn("cosine", _dot("ua", "ub"))
        .filter(F.col("cosine") >= threshold)
        .select(
            "a", "b", F.floor(F.col("cosine") * 1000).cast("long").alias("cos_mil")
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) index: spherical k-means coarse quantizer
# ---------------------------------------------------------------------------

IVF_ASSIGN_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("list_id", T.IntegerType(), False),
        T.StructField("unit", T.ArrayType(T.DoubleType()), False),
        # cosine to the assigned centroid — free at assignment time (the
        # argmax already computed every similarity) and what SemDeDup's
        # keep-the-outlier policy ranks by (operators/semdedup)
        T.StructField("csim", T.DoubleType(), False),
    ]
)


def _unit_rows(pdf: pd.DataFrame, vec_col: str) -> np.ndarray:
    m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    np.divide(m, norms, out=m, where=norms > 0)
    return m


def train_centroids(
    emb: DataFrame,
    dim: int,
    nlist: int,
    vec_col: str = "embedding",
    sample_cap: int = 65_536,
    iters: int = 10,
) -> np.ndarray:
    """Spherical k-means centroids (unit rows, shape (nlist, dim)) trained
    on a deterministic hash-sampled subset collected to the driver.

    The collect is config-sized (<= ~2*sample_cap rows of dim doubles, a
    few MB at dim<=1024) — the standard IVF training shape: FAISS trains
    IndexIVFFlat quantizers on a bounded sample regardless of corpus size,
    because centroid quality saturates long before the sample does. The
    sample filter is xxhash64-based so it is deterministic under any input
    partitioning (unlike DataFrame.sample, whose row choice depends on the
    partition layout). Empty clusters are reseeded to the currently
    worst-represented sample point (lowest best-similarity), which is the
    deterministic analogue of k-means++ re-init.
    """
    n = emb.count()
    every = max(1, n // sample_cap)
    rows = (
        emb.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(every)) == 0)
        .select("vec_id", vec_col)
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])  # collect order is not defined
    m = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    np.divide(m, norms, out=m, where=norms > 0)
    if m.shape[0] < nlist:
        raise ValueError(
            f"IVF training sample ({m.shape[0]} rows) smaller than "
            f"nlist={nlist}; lower nlist or raise sample_cap"
        )
    rng = np.random.RandomState(ANN_SEED + 1)
    cents = m[rng.choice(m.shape[0], size=nlist, replace=False)].copy()
    for _ in range(iters):
        sims = m @ cents.T  # (ns, nlist)
        assign = sims.argmax(axis=1)
        best = sims.max(axis=1)
        new = np.zeros_like(cents)
        np.add.at(new, assign, m)
        counts = np.bincount(assign, minlength=nlist)
        empty = np.flatnonzero(counts == 0)
        if empty.size:
            # reseed each empty list to a distinct worst-covered point
            far = np.argsort(best)[: empty.size]
            new[empty] = m[far]
            counts[empty] = 1
        nn = np.linalg.norm(new, axis=1, keepdims=True)
        np.divide(new, nn, out=new, where=nn > 0)
        if np.array_equal(new, cents):
            break
        cents = new
    return cents


def ivf_assign(
    emb: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, list_id, unit): nearest-centroid assignment, vectorized —
    one (batch x dim) @ (dim x nlist) matmul per Arrow batch. Ties break to
    the lowest list_id (np.argmax first-occurrence), deterministically.
    The unit-normalized vector rides along so probes score without a join
    back to the raw table. The centroid matrix ships inside the kernel
    closure, so nlist*dim*8 bytes must stay task-shippable (a few hundred
    MB at most — the same in-RAM-quantizer contract as FAISS IndexIVFFlat;
    quantizer sharding for larger nlist is out of scope)."""
    cent_t = centroids.T.copy()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = _unit_rows(pdf, vec_col)
            sims = m @ cent_t
            lists = sims.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "list_id": lists.astype(np.int32),
                    "unit": list(m),
                    "csim": sims[np.arange(len(lists)), lists],
                }
            )

    return emb.select("vec_id", vec_col).mapInPandas(kernel, IVF_ASSIGN_SCHEMA)


def _probe_lists(
    queries: DataFrame, centroids: np.ndarray, nprobe: int, vec_col: str
) -> DataFrame:
    """(query_id, list_id, q_unit): each query's nprobe nearest centroid
    lists. Queries are small by the same contract as cosine_topk."""
    cent_t = centroids.T.copy()
    nprobe = min(nprobe, centroids.shape[0])
    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("list_id", T.IntegerType(), False),
            T.StructField("q_unit", T.ArrayType(T.DoubleType()), False),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = _unit_rows(pdf, vec_col)
            sims = m @ cent_t
            # deterministic top-nprobe per row: stable sort on -sim keeps
            # ascending list_id order for tied similarities
            order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(
                        pdf["query_id"].to_numpy(), nprobe
                    ),
                    "list_id": order.astype(np.int32).ravel(),
                    "q_unit": [u for u in m for _ in range(nprobe)],
                }
            )

    return queries.select(F.col("query_id"), F.col(vec_col)).mapInPandas(
        kernel, schema
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    nlist: int = 64,
    nprobe: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k through an in-session IVF index:
    train -> assign -> probe nprobe lists -> exact-score -> window top-k.
    Returns (query_id, rank, neighbor_id, cosine); nprobe == nlist is
    exactly brute force (gate-checkable against the cosine_topk oracle).

    The probe frame is tiny (|queries| * nprobe rows) and broadcast, so
    the big assigned frame never shuffles for the candidate join; only the
    surviving candidates (an nprobe/nlist fraction of the corpus per
    query) cross the top-k window's exchange."""
    from ..plans.caching import scoped_persist

    cents = train_centroids(emb, dim, nlist, vec_col)
    assigned = scoped_persist(ivf_assign(emb, cents, vec_col).repartition("list_id"))
    probes = _probe_lists(queries, cents, nprobe, vec_col)
    cands = assigned.join(F.broadcast(probes), "list_id").filter(
        F.col("query_id") != F.col("vec_id")
    )
    scored = cands.withColumn("cosine", _dot("q_unit", "unit"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
        )
    )
