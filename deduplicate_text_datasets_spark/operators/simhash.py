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
    """Candidate pairs (a, b, fa, fb) agreeing on >= 1 of the k+1 blocks
    (complete for Hamming distance <= k by pigeonhole): the LSH bucket
    self-join of salted_join.bucket_self_pairs on (block, value), with the
    fingerprints riding as payload — the same plan, skew policy and driver
    fast path as minhash.candidate_pairs. The driver guard counts exploded
    (doc, block) rows. Under it the candidates stay driver-resident
    (``plans.caching.resident``) and simhash_pairs verifies them in
    numpy."""
    from .salted_join import bucket_self_pairs

    exploded = fingerprints.select(
        "doc_id",
        F.col("fingerprint").alias("f"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("fingerprint", shift).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for shift, width in _blocks(cfg)
                ]
            )
        ).alias("block", "value"),
    )
    return bucket_self_pairs(
        exploded,
        ["block", "value"],
        max_bucket_size,
        salted_bucket_max,
        payload=("f",),
    )


def simhash_pairs(
    docs: DataFrame, cfg: SimHashConfig, text_col: str = "text"
) -> DataFrame:
    """documents -> (a, b, hamming) pairs with popcount(xor) <= k."""
    from ..plans.caching import local_frame, resident

    fps = simhash_fingerprints(docs, text_col)
    cand = simhash_candidates(fps, cfg)
    cand_pdf = resident(cand)
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
        return local_frame(docs.sparkSession, out_pdf, "a long, b long, hamming int")
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))),
        )
        .filter(F.col("hamming") <= cfg.hamming_k)
        .select("a", "b", "hamming")
    )
