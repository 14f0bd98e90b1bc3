"""SimHash near-duplicate detector (second detector per BASELINE.json).

Charikar 2002 random-hyperplane sketch over token hashes; Manku et al. 2007
(WWW) block-permutation blocking: any two fingerprints within Hamming
distance k agree exactly on at least one of k+1 bit-blocks, so candidate
generation is an equi-join on (block_id, block_value) and verification is
``bit_count(f1 ^ f2) <= k`` — both JVM-side.

The fingerprint kernel loops over the 64 bit planes, each a flat contiguous
shift/mask pass over all token hashes in the Arrow batch segment-summed per
doc with np.add.reduceat (bit votes; sign -> fingerprint bit).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import SimHashConfig
from ..functions.text import tokens

FINGERPRINT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("fingerprint", T.LongType(), False),
    ]
)


def simhash_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fingerprint): 64-bit SimHash over xxhash64'd tokens
    (unit weights). Token hashing stays JVM-side; only the bit-vote
    aggregation runs in the (vectorized) kernel."""
    hashed = docs.select(
        "doc_id",
        F.transform(tokens(text_col), lambda t: F.xxhash64(t)).alias("th"),
    ).filter(F.size("th") > 0)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lens = pdf["th"].map(len).to_numpy().astype(np.int64)
            allh = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in pdf["th"]]
            ).view(np.uint64)
            starts = np.zeros(len(pdf), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            # loop over 64 bit planes with flat contiguous ops (a token x 64
            # broadcast matrix would pay first-touch page faults per batch)
            fp = np.zeros(len(pdf), dtype=np.uint64)
            for j in range(64):
                ones = np.add.reduceat(
                    (allh >> np.uint64(j)) & np.uint64(1), starts
                )
                # vote sum >= 0  <=>  2*ones >= n_tokens
                fp |= (2 * ones >= lens.view(np.uint64)).astype(
                    np.uint64
                ) << np.uint64(j)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "fingerprint": fp.view(np.int64),
                }
            )

    return hashed.mapInPandas(kernel, FINGERPRINT_SCHEMA)


def _blocks(cfg: SimHashConfig) -> list[tuple[int, int]]:
    """(shift, width) per block: k+1 near-equal blocks covering 64 bits."""
    nb = cfg.blocks
    base, rem = divmod(cfg.bits, nb)
    out, shift = [], 0
    for i in range(nb):
        w = base + (1 if i < rem else 0)
        out.append((shift, w))
        shift += w
    return out


def simhash_candidates(
    fingerprints: DataFrame,
    cfg: SimHashConfig,
    max_bucket_size: int = 5000,
    salted_bucket_max: int = 50_000,
) -> DataFrame:
    """Candidate pairs agreeing on >= 1 of the k+1 blocks (complete for
    Hamming distance <= k by pigeonhole). Hot (block, value) buckets up to
    ``salted_bucket_max`` pair through the exact grid-salted self-join
    (operators/salted_join.py — same policy as minhash.candidate_pairs,
    fingerprints riding as payload); only buckets beyond that are dropped
    (skew guard).

    Bucket sizing is a groupBy (map-side partial agg) joined back onto a
    persisted exploded-block frame — NOT a count-over-window: boilerplate
    webtext makes near-identical fingerprints, so hot (block, value) keys
    are the norm, and a WindowExec partition can neither be split by AQE
    nor partially aggregated. Same shape as minhash.candidate_pairs.
    """
    from ..plans.caching import scoped_persist

    blocks = _blocks(cfg)
    # consumed by the size agg, the join-back, and both sides of the pair
    # self-join — persist or the fingerprint kernel re-executes for each;
    # scope-registered (plans.caching) so a cache_scope() caller reclaims
    # it. Co-partitioned on the block key before caching so the consumers
    # run on the cached partitioning instead of re-exchanging per consumer.
    def exploded_from(src: DataFrame) -> DataFrame:
        return src.select(
            "doc_id",
            "fingerprint",
            F.posexplode(
                F.array(
                    *[
                        F.shiftrightunsigned("fingerprint", shift).bitwiseAND(
                            F.lit((1 << width) - 1)
                        )
                        for shift, width in blocks
                    ]
                )
            ).alias("block", "value"),
        )

    exploded = exploded_from(fingerprints)
    # Size-adaptive driver fast path (round-6, same design as
    # minhash.candidate_pairs): under the guard, the block explode, block
    # exchange, size agg, join-back, hot probe, pair self-join, salted
    # grid and distinct collapse into one bounded Arrow pull of the
    # PER-DOC fingerprint frame (1 row/doc — the explode happens in numpy
    # with the same unsigned shift/mask as the Catalyst expression) + a
    # numpy pass emitting the identical distinct (a, b, fa, fb) set.
    # Above the row guard or pair budget, the distributed plan runs
    # unchanged, reusing the probed fingerprint cache under its exploded
    # projection.
    import os

    import numpy as np
    import pandas as pd

    from ..plans.caching import probe_rows
    from .salted_join import driver_bucket_pairs

    driver_max = int(os.environ.get("SPARK_GRAFT_LSH_DRIVER_MAX", str(1 << 22)))
    pair_cap = int(
        os.environ.get("SPARK_GRAFT_LSH_DRIVER_PAIR_MAX", str(1 << 22))
    )
    if driver_max > 0:
        raw = scoped_persist(fingerprints)
        pdf = probe_rows(raw, driver_max)
        if pdf is not None:
            fp_u = pdf["fingerprint"].to_numpy(np.int64).view(np.uint64)
            ids = pdf["doc_id"].to_numpy(np.int64)
            exp = pd.DataFrame(
                {
                    "doc_id": np.tile(ids, len(blocks)),
                    "fingerprint": np.tile(
                        fp_u.view(np.int64), len(blocks)
                    ),
                    "block": np.repeat(
                        np.arange(len(blocks), dtype=np.int64), len(ids)
                    ),
                    "value": np.concatenate(
                        [
                            (
                                (fp_u >> np.uint64(shift))
                                & np.uint64((1 << width) - 1)
                            ).view(np.int64)
                            for shift, width in blocks
                        ]
                    )
                    if len(ids)
                    else np.empty(0, np.int64),
                }
            )
            pairs_pdf = driver_bucket_pairs(
                exp,
                ["block", "value"],
                salted_bucket_max,
                pair_cap,
                payload=("fingerprint",),
            )
            if pairs_pdf is not None:
                raw.unpersist(blocking=False)
                pairs_pdf = pairs_pdf.rename(
                    columns={"fingerprint_a": "fa", "fingerprint_b": "fb"}
                )
                out = fingerprints.sparkSession.createDataFrame(
                    pairs_pdf, "a long, b long, fa long, fb long"
                )
                # driver-resident candidates, memoized: simhash_pairs can
                # then run the hamming verify in numpy too
                out._driver_pairs_pdf = pairs_pdf
                return out
        # persisted: the distributed plan's exploded projection reuses the
        # cached fingerprint frame (the kernel never re-runs)
        exploded = exploded_from(raw)

    exploded = scoped_persist(exploded.repartition("block", "value"))
    # two consumers (fast-path filter + hot-bucket filter)
    sizes = scoped_persist(
        exploded.groupBy("block", "value").agg(
            F.count(F.lit(1)).alias("bsize")
        )
    )
    sized = exploded.join(
        sizes.filter(
            (F.col("bsize") >= 2) & (F.col("bsize") <= max_bucket_size)
        ),
        ["block", "value"],
    )
    left = sized.select(
        "block", "value", F.col("doc_id").alias("a"), F.col("fingerprint").alias("fa")
    )
    right = sized.select(
        "block", "value", F.col("doc_id").alias("b"), F.col("fingerprint").alias("fb")
    )
    plain = (
        left.join(right, ["block", "value"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "fa", "fb")
    )
    # Hot-block short-circuit (round-6, same as minhash.candidate_pairs):
    # prune the salted-grid branch when the size frame shows no block over
    # the cap — identical pair set, several fewer stages.
    has_hot = bool(
        sizes.filter(F.col("bsize") > max_bucket_size).limit(1).count()
    )
    if not has_hot:
        return plain.distinct()
    from .salted_join import grid_salted_self_pairs

    hot = exploded.join(
        sizes.filter(
            (F.col("bsize") > max_bucket_size)
            & (F.col("bsize") <= salted_bucket_max)
        ),
        ["block", "value"],
    )
    salted = grid_salted_self_pairs(
        hot, ["block", "value"], max_bucket_size, payload=("fingerprint",)
    ).select(
        "a",
        "b",
        F.col("fingerprint_a").alias("fa"),
        F.col("fingerprint_b").alias("fb"),
    )
    return plain.unionByName(salted).distinct()


def simhash_pairs(
    docs: DataFrame, cfg: SimHashConfig, text_col: str = "text"
) -> DataFrame:
    """documents -> (a, b, hamming) pairs with popcount(xor) <= k."""
    fps = simhash_fingerprints(docs, text_col)
    cand = simhash_candidates(fps, cfg)
    cand_pdf = getattr(cand, "_driver_pairs_pdf", None)
    if cand_pdf is not None:
        # hamming verify on the driver-resident candidates: popcount of
        # the int64 xor, bit-identical to Catalyst bit_count(fa ^ fb) —
        # the evaluated candidate relation (LocalTableScan parallelized to
        # defaultParallelism near-empty slices) and its filter stage drop
        # out of the plan entirely
        xor = np.bitwise_xor(
            cand_pdf["fa"].to_numpy(np.int64), cand_pdf["fb"].to_numpy(np.int64)
        ).view(np.uint64)
        pc = (
            np.unpackbits(xor.view(np.uint8).reshape(len(xor), 8), axis=1)
            .sum(axis=1)
            .astype(np.int32)
            if len(xor)
            else np.empty(0, np.int32)
        )
        keep = pc <= cfg.hamming_k
        out_pdf = pd.DataFrame(
            {
                "a": cand_pdf["a"].to_numpy(np.int64)[keep],
                "b": cand_pdf["b"].to_numpy(np.int64)[keep],
                "hamming": pc[keep],
            }
        )
        return docs.sparkSession.createDataFrame(
            out_pdf, "a long, b long, hamming int"
        )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))),
        )
        .filter(F.col("hamming") <= cfg.hamming_k)
        .select("a", "b", "hamming")
    )
