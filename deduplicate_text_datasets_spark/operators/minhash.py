"""NearDup: MinHash signatures + LSH band blocking + exact-Jaccard verify.

The reference repo ships only the *outputs* of this half (cluster CSVs,
README.md:367-376); the algorithm is Lee et al. 2021 (arXiv:2107.06499)
§NearDup: 5-word shingles, MinHash, banded LSH targeting Jaccard≈0.8 pairs.

Plan shape (all DataFrame; one vectorized Arrow kernel for signatures):

  docs ── doc_shingles (Catalyst exprs)  ──► (doc_id, sh: array<long>)
       ── mapInPandas numpy kernel        ──► (doc_id, sig: array<long>)
       ── posexplode bands + xxhash64     ──► (doc_id, band, bucket)
       ── groupBy bucket (size-capped)    ──► candidate pairs (self-join)
       ── exact Jaccard on shingle sets   ──► edges(a, b, jaccard >= τ)

Skew: webtext boilerplate creates giant buckets. The bucket join and its
skew policy live in ``salted_join`` (cap ``max_bucket_size``, ceiling
``salted_bucket_max``); buckets beyond the ceiling are dropped, observable
via ``oversized_buckets`` (the analogue of frequency_threshold,
main.rs:914) — their members still pair via other bands or the exact-dup
path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import MINHASH_SEED, MinHashConfig
from ..functions.text import tokens

MERSENNE31 = (1 << 31) - 1  # modulus for (a*h + b) % p permutations


def permutation_params(cfg: MinHashConfig) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(MINHASH_SEED)
    a = rng.randint(1, MERSENNE31, size=cfg.num_perm, dtype=np.int64)
    b = rng.randint(0, MERSENNE31, size=cfg.num_perm, dtype=np.int64)
    return a, b


def doc_shingles(docs: DataFrame, cfg: MinHashConfig, text_col: str = "text") -> DataFrame:
    """(doc_id, sh) with sh = distinct w-token-window hashes; empty docs
    (no tokens) are excluded — no content, no near-dup semantics.

    Shingle identity is the xxhash64 of the window's token-hash slice, not
    of the joined string: the token-hash array is materialized once as a
    column and each window is hash-of-slice — ~20x cheaper than building
    2M+ shingle strings per 12k docs (measured), with identical distinct-set
    semantics up to 64-bit collisions.
    """
    w = cfg.shingle_words
    d = docs.withColumn(
        "_th", F.transform(tokens(text_col), lambda t: F.xxhash64(t))
    ).filter(F.size("_th") > 0)
    sh = F.array_distinct(
        F.when(
            F.size("_th") >= w,
            F.transform(
                F.sequence(F.lit(1), F.size("_th") - w + 1),
                lambda i: F.xxhash64(F.slice("_th", i, w)),
            ),
        ).otherwise(F.array(F.xxhash64("_th")))
    )
    return d.select("doc_id", sh.alias("sh"))


SIGNATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sig", T.ArrayType(T.LongType(), False), False),
    ]
)


def minhash_signatures(shingled: DataFrame, cfg: MinHashConfig) -> DataFrame:
    """(doc_id, sh) -> (doc_id, sig[num_perm]).

    Vectorized as a loop over the num_perm permutations, each a flat
    contiguous pass ((a*h+b) % p then segment-min via np.minimum.reduceat)
    over every shingle hash in the Arrow batch. Deliberately NOT the
    (n_shingles x num_perm) broadcast matrix: a fresh multi-hundred-MB
    allocation per batch pays first-touch page-fault cost and thrashes the
    allocator; k small reused temporaries stream at SIMD speed.
    """
    a, b = permutation_params(cfg)
    k = cfg.num_perm
    p = np.int64(MERSENNE31)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = np.empty(0, dtype=np.int64)  # reused scratch across perms
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lens = pdf["sh"].map(len).to_numpy().astype(np.int64)
            allh = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in pdf["sh"]]
            )
            h32 = allh & np.int64(0x7FFFFFFF)
            starts = np.zeros(len(pdf), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sigs = np.empty((len(pdf), k), dtype=np.int64)
            if len(v) < len(h32):
                v = np.empty(len(h32), dtype=np.int64)
            w = v[: len(h32)]
            for j in range(k):
                # (h*a + b) mod 2^31-1 WITHOUT integer division: for the
                # Mersenne prime p, x mod p folds as (x>>31)+(x&p); two
                # folds bring x < 2^62 down below 2^32, then a conditional
                # subtract finishes. Exactness is pytest-gated against the
                # literal % p (test_minhash_signatures_exact_frame).
                np.multiply(h32, a[j], out=w)
                np.add(w, b[j], out=w)
                for _ in range(2):
                    np.add(w >> np.int64(31), w & p, out=w)
                np.subtract(w, p, out=w, where=w >= p)
                np.subtract(w, p, out=w, where=w >= p)
                sigs[:, j] = np.minimum.reduceat(w, starts)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "sig": list(sigs)}
            )

    return shingled.mapInPandas(kernel, SIGNATURE_SCHEMA)


def lsh_buckets(signatures: DataFrame, cfg: MinHashConfig) -> DataFrame:
    """(doc_id, sig) -> (doc_id, band, bucket): one bucket key per band,
    bucket = xxhash64 of the band's signature slice (JVM-side)."""
    r = cfg.rows_per_band
    return signatures.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(cfg.bands - 1)),
                lambda band: F.xxhash64(band, F.slice("sig", band * r + 1, r)),
            )
        ).alias("band", "bucket"),
    )


def candidate_pairs(buckets: DataFrame, cfg: MinHashConfig) -> DataFrame:
    """Distinct (a, b) candidate doc pairs from shared LSH buckets: the
    bucket self-join of salted_join.bucket_self_pairs on (band, bucket).
    Buckets up to ``max_bucket_size`` pair in one reducer task, buckets up
    to ``salted_bucket_max`` through the exact grid-salted self-join, and
    larger ones are excluded (observable via ``oversized_buckets``). Under
    the LSH driver guard the pairs stay driver-resident
    (``plans.caching.resident``) for verify_pairs_across."""
    from .salted_join import bucket_self_pairs

    return bucket_self_pairs(
        buckets, ["band", "bucket"], cfg.max_bucket_size, cfg.salted_bucket_max
    )


def oversized_buckets(buckets: DataFrame, cfg: MinHashConfig) -> DataFrame:
    """Observability for the skew policy: (band, bucket, size, action)
    for every bucket beyond the one-reducer fast path — ``action`` is
    'salted' (exact pairs via the grid-salted join) or 'dropped'."""
    return (
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("size"))
        .filter(F.col("size") > cfg.max_bucket_size)
        .withColumn(
            "action",
            F.when(
                F.col("size") <= cfg.salted_bucket_max, F.lit("salted")
            ).otherwise(F.lit("dropped")),
        )
    )


def _driver_verify_pairs(
    pairs_pdf: pd.DataFrame,
    sh_a: pd.DataFrame,
    sh_b: pd.DataFrame,
    num: int,
    den: int,
) -> pd.DataFrame:
    """Driver twin of the verify joins: exact shingle-set Jaccard per
    candidate pair with the SAME integer threshold test and the same
    int/int -> double division for the reported jaccard. sh frames carry
    (doc_id, sh array) — shingle sets are already distinct."""
    map_a = dict(zip(sh_a["doc_id"], sh_a["sh"]))
    map_b = sh_b if sh_b is None else dict(zip(sh_b["doc_id"], sh_b["sh"]))
    if map_b is None:
        map_b = map_a
    rows = {"a": [], "b": [], "inter": [], "union": [], "jaccard": []}
    for a, b in zip(pairs_pdf["a"], pairs_pdf["b"]):
        sa = map_a.get(a)
        sb = map_b.get(b)
        if sa is None or sb is None:
            continue  # an empty-shingle doc never entered the bucket frame
        sa = np.asarray(sa, dtype=np.int64)
        sb = np.asarray(sb, dtype=np.int64)
        inter = len(np.intersect1d(sa, sb))
        union = len(sa) + len(sb) - inter
        if inter * den >= num * union:
            rows["a"].append(int(a))
            rows["b"].append(int(b))
            rows["inter"].append(inter)
            rows["union"].append(union)
            rows["jaccard"].append(inter / union)
    return pd.DataFrame(
        {
            "a": np.array(rows["a"], np.int64),
            "b": np.array(rows["b"], np.int64),
            "inter": np.array(rows["inter"], np.int32),
            "union": np.array(rows["union"], np.int32),
            "jaccard": np.array(rows["jaccard"], np.float64),
        }
    )


def verify_pairs_across(
    pairs: DataFrame,
    shingled_a: DataFrame,
    shingled_b: DataFrame,
    cfg: MinHashConfig,
) -> DataFrame:
    """Two-sided exact-Jaccard verification: side ``a`` ids resolve against
    ``shingled_a`` ONLY and side ``b`` against ``shingled_b`` — the two
    frames may use overlapping doc_id spaces (e.g. a new crawl batch vs a
    persisted index) without cross-contamination."""
    from fractions import Fraction

    from ..plans.caching import driver_guard, local_frame, probe, resident, veto

    frac = Fraction(cfg.jaccard_threshold).limit_denominator(1_000_000)
    num, den = frac.numerator, frac.denominator

    # Driver fast path: when the candidate pairs are driver-resident (the
    # LSH driver path fired) and within the verify guard, pull the shingle
    # frames (cached — they fed the signature kernel; the LSH guard bounds
    # the pull) and verify in numpy: the two joins, their broadcasts and
    # the verify stage collapse into bounded pulls + a local relation.
    # Integer threshold + int/int double division are computed
    # identically, so the edge set AND the reported jaccard are bit-equal
    # (pinned by test). The edges stay resident for neardup_clusters'
    # driver CC fast path. Resident pairs over the verify guard log a veto.
    pairs_pdf = resident(pairs)
    verify_guard = driver_guard("verify")
    if pairs_pdf is not None and len(pairs_pdf) > verify_guard:
        veto(
            "minhash.verify",
            len(pairs_pdf),
            verify_guard,
            "resident candidate pairs over the verify guard",
        )
    elif pairs_pdf is not None:
        guard = driver_guard("lsh")
        sh_a = probe(
            "minhash.verify", shingled_a.select("doc_id", "sh"), guard, persist=False
        )
        same = shingled_b is shingled_a
        sh_b = (
            None
            if same or sh_a is None
            else probe(
                "minhash.verify",
                shingled_b.select("doc_id", "sh"),
                guard,
                persist=False,
            )
        )
        if sh_a is not None and (same or sh_b is not None):
            return local_frame(
                pairs.sparkSession,
                _driver_verify_pairs(pairs_pdf, sh_a, sh_b, num, den),
                "a long, b long, inter int, `union` int, jaccard double",
            )
    sa = shingled_a.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    sb = shingled_b.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    j = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            (F.size("sh_a") + F.size("sh_b")).alias("sz"),
        )
        .withColumn("union", F.col("sz") - F.col("inter"))
        .withColumn("jaccard", F.col("inter") / F.col("union"))
    )
    return j.filter(
        F.col("inter") * F.lit(den) >= F.lit(num) * F.col("union")
    ).select("a", "b", "inter", "union", "jaccard")


def verify_pairs(
    pairs: DataFrame, shingled: DataFrame, cfg: MinHashConfig
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs on the true shingle
    sets (removes LSH false positives): edges(a, b, inter, union, jaccard).

    The threshold test is exact integer arithmetic (inter * den >= num *
    union with num/den the rational form of the threshold), so a pair at
    exactly the threshold cannot flip on float rounding — the DuckDB
    cluster oracle uses the same integer comparison.
    """
    return verify_pairs_across(pairs, shingled, shingled, cfg)


def candidate_pairs_across(
    buckets_a: DataFrame, buckets_b: DataFrame, cfg: MinHashConfig
) -> DataFrame:
    """Distinct (a, b) candidate pairs ACROSS two corpora from shared LSH
    buckets — the doc-level analogue of the reference's across-similar
    substring runs (main.rs:962-1158): corpus-A ids never pair with each
    other, only with corpus-B ids (train-vs-eval contamination shape).
    The bipartite join of salted_join.bucket_cross_pairs on (band, bucket),
    with the skew policy and driver fast path of ``candidate_pairs``."""
    from .salted_join import bucket_cross_pairs

    return bucket_cross_pairs(
        buckets_a,
        buckets_b,
        ["band", "bucket"],
        cfg.max_bucket_size,
        cfg.salted_bucket_max,
    )


def near_duplicate_edges(
    docs: DataFrame,
    cfg: MinHashConfig,
    text_col: str = "text",
) -> DataFrame:
    """documents -> verified near-duplicate edges (a, b, jaccard).

    ``shingled`` is persisted: it feeds the signature path AND both sides
    of the Jaccard verify, and tokenize+shingle is the most expensive
    Catalyst stage of the pipeline — uncached it re-executes >= 3x
    (measured as the dominant cost of the round-1 bench). MEMORY_AND_DISK
    so an executor that can't hold its slice spills instead of recomputing.
    """
    from ..plans.caching import scoped_persist

    shingled = scoped_persist(doc_shingles(docs, cfg, text_col))
    sigs = minhash_signatures(shingled, cfg)
    pairs = candidate_pairs(lsh_buckets(sigs, cfg), cfg)
    return verify_pairs(pairs, shingled, cfg)


def near_duplicate_edges_across(
    docs_a: DataFrame,
    docs_b: DataFrame,
    cfg: MinHashConfig,
    text_col: str = "text",
) -> DataFrame:
    """Verified near-duplicate pairs ACROSS two corpora:
    (a from docs_a, b from docs_b, inter, union, jaccard) with exact
    shingle-Jaccard >= cfg.jaccard_threshold — the doc-level
    train-vs-eval contamination check (the reference runs its
    across-similar mode for exactly this, wiki40b-vs-C4; main.rs:962).

    The two corpora may use overlapping doc_id spaces: side ``a`` ids
    resolve against docs_a only and ``b`` against docs_b
    (verify_pairs_across). Candidate generation touches only LSH buckets
    present in BOTH corpora, so the dominant cost scales with the bucket
    OVERLAP (the eval set's footprint), not the big side's size — the
    same asymmetry argument as across_dedup's key prefilter
    (BASELINE.md round-5 section).
    """
    from ..plans.caching import scoped_persist

    sha = scoped_persist(doc_shingles(docs_a, cfg, text_col))
    shb = scoped_persist(doc_shingles(docs_b, cfg, text_col))
    ba = lsh_buckets(minhash_signatures(sha, cfg), cfg)
    bb = lsh_buckets(minhash_signatures(shb, cfg), cfg)
    pairs = candidate_pairs_across(ba, bb, cfg)
    return verify_pairs_across(pairs, sha, shb, cfg)
