"""One bucket-pair join for every blocking detector, and the one home of
its bucket-size skew policy.

A plain join on the bucket key puts a size-n bucket's n^2/2 pairs into ONE
reducer task, and webtext boilerplate makes such hot buckets. The policy,
for a cap and a ceiling smax: buckets sized 2..cap join plainly, buckets
up to smax go through an exact grid-salted join, larger ones are dropped.
``skewed_self_pairs`` applies it to caller-built frames;
``bucket_self_pairs`` puts the LSH driver path (the numpy twin
``driver_bucket_pairs``) in front of it, and ``bucket_cross_pairs`` is the
bipartite join with its own driver path (``driver_bucket_cross_pairs``).

The grid redistributes a hot bucket's exact pair set over k x k cells:

  k = ceil(n / cap) salt groups, g(doc) = hash(doc_id) mod k
  pair (a, b) with groups (p, q) belongs to cell (min(p,q), max(p,q))
  a doc carries the LEFT role in cells (g, g..k-1)
        and the RIGHT role in cells (0..g, g)

Off-diagonal cells cross two disjoint salt groups (every cross pair kept,
order-normalized so (a, b) == (b, a) collapse); the diagonal cell pairs a
group with itself (deduped by a < b). Each unordered pair is generated
exactly once, in exactly one cell, so this is a physical re-distribution
of the plain self-join — recall and output semantics are bit-identical
(pinned by tests/test_salted_join.py) while per-task pair work stays
bounded by ~cap^2 regardless of bucket size. Replication cost is linear:
each member appears in k+1 tagged rows.

This is the standard theta-join skew decomposition (Okcan & Riedewald,
SIGMOD'11 "1-Bucket-Theta") specialized to the self-join diagonal; the
reference repo has no analogue (its NearDup half ships only outputs).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# mixed into the salt hash so salt groups decorrelate from any other
# doc_id-keyed hash partitioning in the plan
SALT_SEED = 0x5A17


def grid_salted_self_pairs(
    hot: DataFrame,
    key_cols: Sequence[str],
    cap: int,
    id_col: str = "doc_id",
    payload: Sequence[str] = (),
) -> DataFrame:
    """Exact per-bucket all-pairs over ``hot`` = bucket members carrying a
    precomputed ``bsize`` column (bucket size, > cap for every row).

    Returns (a, b, <p>a, <p>b ...) with a < b; each unordered pair
    appears exactly once. ``payload`` columns ride the join and are
    swapped together with the ids during order normalization.
    """
    g = hot.withColumn(
        "_k", F.ceil(F.col("bsize") / F.lit(cap)).cast("int")
    ).withColumn(
        # salt by hash, not doc_id ranges: consecutive doc_ids are crawl
        # neighbors and would otherwise land in one salt group
        "_g",
        F.pmod(F.xxhash64(id_col, F.lit(SALT_SEED)), F.col("_k")).cast("int"),
    )
    keys = list(key_cols)
    lhs = g.select(
        *keys,
        F.col("_g").alias("_ci"),
        F.explode(F.sequence("_g", F.col("_k") - F.lit(1))).alias("_cj"),
        F.col(id_col).alias("_a"),
        *[F.col(p).alias(f"_pa_{p}") for p in payload],
    )
    rhs = g.select(
        *keys,
        F.explode(F.sequence(F.lit(0), "_g")).alias("_ci"),
        F.col("_g").alias("_cj"),
        F.col(id_col).alias("_b"),
        *[F.col(p).alias(f"_pb_{p}") for p in payload],
    )
    j = lhs.join(rhs, keys + ["_ci", "_cj"]).filter(
        (F.col("_ci") < F.col("_cj")) | (F.col("_a") < F.col("_b"))
    )
    fwd = F.col("_a") < F.col("_b")
    cols = [
        F.when(fwd, F.col("_a")).otherwise(F.col("_b")).alias("a"),
        F.when(fwd, F.col("_b")).otherwise(F.col("_a")).alias("b"),
    ]
    for p in payload:
        pa, pb = F.col(f"_pa_{p}"), F.col(f"_pb_{p}")
        cols.append(F.when(fwd, pa).otherwise(pb).alias(f"{p}a"))
        cols.append(F.when(fwd, pb).otherwise(pa).alias(f"{p}b"))
    return j.select(*cols)


def _group_bounds(
    pdf: pd.DataFrame, key_cols: Sequence[str]
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sort-order + group starts/ends of ``pdf`` grouped by ``key_cols``
    (int64 keys). Returns (order, starts, ends)."""
    keys = np.stack(
        [pdf[c].to_numpy().astype(np.int64) for c in key_cols], axis=1
    )
    order = np.lexsort(tuple(keys[:, i] for i in range(keys.shape[1] - 1, -1, -1)))
    keys = keys[order]
    change = np.nonzero(np.any(keys[1:] != keys[:-1], axis=1))[0] + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [len(pdf)]))
    return order, starts, ends


def _all_pairs_by_size(
    ids: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    pay: dict[str, np.ndarray],
) -> tuple[np.ndarray, np.ndarray, dict[str, np.ndarray], dict[str, np.ndarray]]:
    """All (a < b) pairs inside the given [start, end) groups, vectorized
    per DISTINCT group size (one (k_groups, size) gather + one triu index
    per size — no per-group Python loop, so 10^6 size-2 buckets cost two
    numpy ops, not 10^6 iterations)."""
    sizes = ends - starts
    a_parts: list[np.ndarray] = []
    b_parts: list[np.ndarray] = []
    pa: dict[str, list[np.ndarray]] = {p: [] for p in pay}
    pb: dict[str, list[np.ndarray]] = {p: [] for p in pay}
    for s in np.unique(sizes):
        s = int(s)
        if s < 2:
            continue
        gs = starts[sizes == s]
        m = ids[gs[:, None] + np.arange(s)[None, :]]
        i, j = np.triu_indices(s, 1)
        ga, gb = m[:, i].ravel(), m[:, j].ravel()
        swap = ga > gb
        a_parts.append(np.where(swap, gb, ga))
        b_parts.append(np.where(swap, ga, gb))
        for p, arr in pay.items():
            mp = arr[gs[:, None] + np.arange(s)[None, :]]
            gpi, gpj = mp[:, i].ravel(), mp[:, j].ravel()
            pa[p].append(np.where(swap, gpj, gpi))
            pb[p].append(np.where(swap, gpi, gpj))
    cat = lambda parts: (  # noqa: E731
        np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
    )
    return (
        cat(a_parts),
        cat(b_parts),
        {p: cat(v) for p, v in pa.items()},
        {p: cat(v) for p, v in pb.items()},
    )


def driver_bucket_pairs(
    pdf: pd.DataFrame,
    key_cols: Sequence[str],
    max_group: int,
    pair_cap: int,
    id_col: str = "doc_id",
    payload: Sequence[str] = (),
) -> pd.DataFrame | None:
    """Driver-side twin of the distributed plain+salted+distinct candidate
    plan: the EXACT distinct set of (a < b) pairs inside buckets of size
    2..``max_group`` (buckets above it dropped — same policy as the
    salted_bucket_max cutoff), computed in numpy from the collected bucket
    frame. ``payload`` columns (int64, functions of the id) ride along as
    <p>a/<p>b. Returns None when the pair count exceeds ``pair_cap`` —
    the caller falls back to the distributed plan, so the driver never
    materializes more than pair_cap pairs.

    Parity argument: the distributed plan emits all a<b pairs for buckets
    sized [2, max_bucket_size] (plain self-join) plus all a<b pairs for
    (max_bucket_size, salted_bucket_max] (grid-salted — bit-identical to a
    plain self-join by construction), then .distinct(). That union is
    exactly "all a<b pairs for sizes [2, salted_bucket_max], distinct",
    which is what this computes (pinned by tests)."""
    if len(pdf) == 0:
        out = {"a": np.empty(0, np.int64), "b": np.empty(0, np.int64)}
        for p in payload:
            out[f"{p}a"] = np.empty(0, np.int64)
            out[f"{p}b"] = np.empty(0, np.int64)
        return pd.DataFrame(out)
    order, starts, ends = _group_bounds(pdf, key_cols)
    ids = pdf[id_col].to_numpy(np.int64)[order]
    pay = {p: pdf[p].to_numpy(np.int64)[order] for p in payload}
    sizes = ends - starts
    sel = (sizes >= 2) & (sizes <= max_group)
    szs = sizes[sel].astype(np.int64)
    if int(np.sum(szs * (szs - 1) // 2)) > pair_cap:
        return None
    a, b, pa, pb = _all_pairs_by_size(ids, starts[sel], ends[sel], pay)
    ok = a < b  # drop degenerate self-pairs (duplicated id in a bucket)
    a, b = a[ok], b[ok]
    ab = np.empty(len(a), dtype=[("a", "<i8"), ("b", "<i8")])
    ab["a"], ab["b"] = a, b
    uniq, idx = np.unique(ab, return_index=True)
    out = {"a": uniq["a"].astype(np.int64), "b": uniq["b"].astype(np.int64)}
    for p in payload:
        out[f"{p}a"] = pa[p][ok][idx]
        out[f"{p}b"] = pb[p][ok][idx]
    return pd.DataFrame(out)


def skewed_self_pairs(
    buckets: DataFrame,
    sizes: DataFrame,
    key_cols: Sequence[str],
    cap: int,
    smax: int,
    id_col: str = "doc_id",
    payload: Sequence[str] = (),
) -> DataFrame:
    """(a, b, <p>a, <p>b ...) with a < b: one row per pair of ``id_col``
    values sharing a ``key_cols`` bucket, per shared bucket (no distinct).

    ``sizes`` holds each bucket's size in ``bsize``, from a groupBy (its
    map-side partial agg keeps a 10^8-member bucket off one reducer,
    which a count-over-window would not). The caller partitions and
    persists both frames: the plain branch, the one hot-bucket probe job
    and the salted branch read them. With no bucket over ``cap`` the
    salted branch is left out of the plan.
    """
    keys = list(key_cols)
    sized = buckets.join(
        sizes.filter((F.col("bsize") >= 2) & (F.col("bsize") <= cap)), keys
    )
    # plain co-partitioned self-join (a collect_list + Catalyst
    # pair-expansion variant did not beat it once preferSortMergeJoin=false
    # let the planner pick a sort-free join)
    left = sized.select(
        *keys,
        F.col(id_col).alias("a"),
        *[F.col(p).alias(f"{p}a") for p in payload],
    )
    right = sized.select(
        *keys,
        F.col(id_col).alias("b"),
        *[F.col(p).alias(f"{p}b") for p in payload],
    )
    out_cols = ["a", "b", *[f"{p}{s}" for p in payload for s in "ab"]]
    pairs = (
        left.join(right, keys)
        .filter(F.col("a") < F.col("b"))
        .select(*out_cols)
    )
    if not sizes.filter(F.col("bsize") > cap).limit(1).count():
        return pairs
    hot = buckets.join(
        sizes.filter((F.col("bsize") > cap) & (F.col("bsize") <= smax)), keys
    )
    return pairs.unionByName(
        grid_salted_self_pairs(hot, keys, cap, id_col=id_col, payload=payload)
    )


def _driver_pairs(stage: str, frames: Sequence[DataFrame], guard: int, twin):
    """The LSH driver path: ``twin(*pdfs, pair_budget)`` on the pulled
    ``frames`` as a driver-resident frame, or None when a probe or the
    ``lsh_pairs`` budget (logged as a veto) sends ``stage`` distributed."""
    from ..plans.caching import driver_guard, local_frame, probe, veto

    pdfs = []
    for df in frames:
        pdf = probe(stage, df, guard)
        if pdf is None:
            return None
        pdfs.append(pdf)
    budget = driver_guard("lsh_pairs")
    pairs_pdf = twin(*pdfs, budget)
    if pairs_pdf is None:
        veto(stage, sum(map(len, pdfs)), budget, "pair budget exceeded")
        return None
    for df in frames:
        df.unpersist(blocking=False)
    return local_frame(
        frames[0].sparkSession,
        pairs_pdf,
        ", ".join(f"{c} long" for c in pairs_pdf.columns),
    )


def bucket_self_pairs(
    buckets: DataFrame,
    key_cols: Sequence[str],
    max_bucket_size: int,
    salted_bucket_max: int,
    payload: Sequence[str] = (),
) -> DataFrame:
    """Distinct (a < b, <p>a, <p>b ...) pairs of ``doc_id`` values that
    share a ``key_cols`` bucket: :func:`skewed_self_pairs` behind the LSH
    driver path, for MinHash band buckets and SimHash block buckets.

    Under the LSH guard (bucket rows) and the pair budget, one bounded
    Arrow pull plus :func:`driver_bucket_pairs` yields the identical pair
    set, kept driver-resident so a driver-side verify can follow.
    Otherwise the distributed plan runs from the same persisted frame.
    """
    from ..plans.caching import driver_guard, scoped_persist

    keys = list(key_cols)
    guard = driver_guard("lsh")
    local = _driver_pairs(
        "lsh.candidates",
        [buckets],
        guard,
        lambda pdf, budget: driver_bucket_pairs(
            pdf, keys, salted_bucket_max, budget, payload=payload
        ),
    )
    if local is not None:
        return local
    probed = buckets
    # Co-partitioned on the bucket key before caching (BASELINE.md round-4
    # section): the size agg and the self-join then run on the cached
    # partitioning instead of re-exchanging the bucket frame per consumer.
    buckets = scoped_persist(buckets.repartition(*keys))
    sizes = scoped_persist(
        buckets.groupBy(*keys).agg(F.count(F.lit(1)).alias("bsize"))
    )
    pairs = skewed_self_pairs(
        buckets, sizes, keys, max_bucket_size, salted_bucket_max, payload=payload
    )
    # the core's hot-bucket probe aggregated every partition of the
    # repartitioned copy, so it is cached now and the probe's copy is dead
    if guard > 0:
        probed.unpersist(blocking=False)
    return pairs.distinct()


def driver_bucket_cross_pairs(
    pdf_a: pd.DataFrame,
    pdf_b: pd.DataFrame,
    key_cols: Sequence[str],
    max_group: int,
    pair_cap: int,
    id_col: str = "doc_id",
) -> pd.DataFrame | None:
    """Driver-side twin of bucket_cross_pairs' distributed plan: the
    exact distinct bipartite (a, b) pair set over buckets present in BOTH
    frames whose sides are each sized <= ``max_group`` (plain cells need
    both sides <= cap and salted cells cover the rest up to
    salted_bucket_max, so the union is exactly "both sides <= max_group").
    Returns None when the pair count exceeds ``pair_cap``."""
    if len(pdf_a) == 0 or len(pdf_b) == 0:
        return pd.DataFrame(
            {"a": np.empty(0, np.int64), "b": np.empty(0, np.int64)}
        )
    oa, sa, ea = _group_bounds(pdf_a, key_cols)
    ob, sb, eb = _group_bounds(pdf_b, key_cols)
    ka = np.stack(
        [pdf_a[c].to_numpy().astype(np.int64) for c in key_cols], axis=1
    )[oa][sa]
    kb = np.stack(
        [pdf_b[c].to_numpy().astype(np.int64) for c in key_cols], axis=1
    )[ob][sb]
    ids_a = pdf_a[id_col].to_numpy(np.int64)[oa]
    ids_b = pdf_b[id_col].to_numpy(np.int64)[ob]
    # joint keys: merge the two sorted group-key lists (both sides emerge
    # from the lexsort group pass already sorted, so one searchsorted finds
    # the intersection)
    va = np.ascontiguousarray(ka).view([("", "<i8")] * ka.shape[1]).ravel()
    vb = np.ascontiguousarray(kb).view([("", "<i8")] * kb.shape[1]).ravel()
    pos = np.searchsorted(vb, va)
    inb = pos < len(vb)
    match = np.zeros(len(va), dtype=bool)
    match[inb] = vb[pos[inb]] == va[inb]
    ia = np.nonzero(match)[0]
    ib = pos[ia]
    na = (ea - sa)[ia]
    nb = (eb - sb)[ib]
    sel = (na <= max_group) & (nb <= max_group)
    ia, ib, na, nb = ia[sel], ib[sel], na[sel], nb[sel]
    if int(np.sum(na.astype(np.int64) * nb.astype(np.int64))) > pair_cap:
        return None
    a_parts, b_parts = [], []
    for ga, gb_, la, lb in zip(sa[ia], sb[ib], na, nb):
        ga_ids = ids_a[ga : ga + la]
        gb_ids = ids_b[gb_ : gb_ + lb]
        a_parts.append(np.repeat(ga_ids, lb))
        b_parts.append(np.tile(gb_ids, la))
    a = np.concatenate(a_parts) if a_parts else np.empty(0, np.int64)
    b = np.concatenate(b_parts) if b_parts else np.empty(0, np.int64)
    ab = np.empty(len(a), dtype=[("a", "<i8"), ("b", "<i8")])
    ab["a"], ab["b"] = a, b
    uniq = np.unique(ab)
    return pd.DataFrame(
        {"a": uniq["a"].astype(np.int64), "b": uniq["b"].astype(np.int64)}
    )


def grid_salted_cross_pairs(
    hot_a: DataFrame,
    hot_b: DataFrame,
    key_cols: Sequence[str],
    cap: int,
) -> DataFrame:
    """Exact bipartite all-pairs (A x B) inside hot buckets — the
    across-corpus analogue of :func:`grid_salted_self_pairs` (no diagonal,
    so the decomposition is a plain ka x kb block grid).

    Both inputs carry the JOINT bucket sizes ``na``/``nb`` (rows of the
    same bucket agree on them). A-members get salt group ga in [0, ka),
    ka = ceil(na/cap), and replicate once per B-block; symmetrically for
    B. Pair (a, b) is generated exactly once, in cell (ga, gb); one
    reducer task handles at most ~cap^2 pairs. Output: (a, b).
    """
    keys = list(key_cols)
    ga, gb = (
        h.withColumn("_ka", F.ceil(F.col("na") / F.lit(cap)).cast("int"))
        .withColumn("_kb", F.ceil(F.col("nb") / F.lit(cap)).cast("int"))
        for h in (hot_a, hot_b)
    )
    lhs = ga.select(
        *keys,
        F.pmod(F.xxhash64("doc_id", F.lit(SALT_SEED)), F.col("_ka"))
        .cast("int")
        .alias("_ci"),
        F.explode(F.sequence(F.lit(0), F.col("_kb") - F.lit(1))).alias("_cj"),
        F.col("doc_id").alias("a"),
    )
    rhs = gb.select(
        *keys,
        F.explode(F.sequence(F.lit(0), F.col("_ka") - F.lit(1))).alias("_ci"),
        F.pmod(F.xxhash64("doc_id", F.lit(SALT_SEED)), F.col("_kb"))
        .cast("int")
        .alias("_cj"),
        F.col("doc_id").alias("b"),
    )
    return lhs.join(rhs, keys + ["_ci", "_cj"]).select("a", "b")


def bucket_cross_pairs(
    buckets_a: DataFrame,
    buckets_b: DataFrame,
    key_cols: Sequence[str],
    max_bucket_size: int,
    salted_bucket_max: int,
) -> DataFrame:
    """Distinct (a from ``buckets_a``, b from ``buckets_b``) pairs of
    ``doc_id`` values sharing a ``key_cols`` bucket, the bipartite
    counterpart of :func:`bucket_self_pairs`: the LSH driver path (two
    bounded pulls plus :func:`driver_bucket_cross_pairs`) in front of the
    skew policy. A bucket present on both sides is hot when either side
    is over ``max_bucket_size``: plain buckets join on the key, hot ones
    up to ``salted_bucket_max`` per side go through
    :func:`grid_salted_cross_pairs`, larger ones are dropped.
    """
    from ..plans.caching import driver_guard, scoped_persist

    keys = list(key_cols)
    guard = driver_guard("lsh")
    local = _driver_pairs(
        "lsh.candidates_across",
        [buckets_a, buckets_b],
        guard,
        lambda pdf_a, pdf_b, budget: driver_bucket_cross_pairs(
            pdf_a, pdf_b, keys, salted_bucket_max, budget
        ),
    )
    if local is not None:
        return local
    probed = (buckets_a, buckets_b)
    buckets_a = scoped_persist(buckets_a.repartition(*keys))
    buckets_b = scoped_persist(buckets_b.repartition(*keys))
    na = buckets_a.groupBy(*keys).agg(F.count(F.lit(1)).alias("na"))
    nb = buckets_b.groupBy(*keys).agg(F.count(F.lit(1)).alias("nb"))
    # tiny (bucket-overlap keys only), but read by both branches and the
    # hot-bucket probe: persist so the two size aggs run once
    joint = scoped_persist(na.join(nb, keys))
    cap, smax = max_bucket_size, salted_bucket_max
    plain_keys = joint.filter(
        (F.col("na") <= cap) & (F.col("nb") <= cap)
    ).select(*keys)
    pairs = (
        buckets_a.join(plain_keys, keys)
        .select(*keys, F.col("doc_id").alias("a"))
        .join(
            buckets_b.join(plain_keys, keys).select(
                *keys, F.col("doc_id").alias("b")
            ),
            keys,
        )
        .select("a", "b")
    )
    over = (F.col("na") > cap) | (F.col("nb") > cap)
    if joint.filter(over).limit(1).count():
        hot_keys = joint.filter(
            over & (F.col("na") <= smax) & (F.col("nb") <= smax)
        ).select(*keys, "na", "nb")
        pairs = pairs.unionByName(
            grid_salted_cross_pairs(
                buckets_a.join(hot_keys, keys),
                buckets_b.join(hot_keys, keys),
                keys,
                cap,
            )
        )
    # both size aggs read every cached partition: drop the probe's copies
    if guard > 0:
        for r in probed:
            r.unpersist(blocking=False)
    return pairs.distinct()
