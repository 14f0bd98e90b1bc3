"""Incremental ingest: dedup new crawl snapshots against the existing
corpus with Structured Streaming — and fold the survivors back in.

The reference is strictly batch; its cross-corpus operator
(cmd_across_similar, main.rs:962-1158) is exactly the primitive an
incremental pipeline needs — "which spans of the NEW data already exist in
the OLD corpus". Here: a file-source stream of new document parquet,
processed per micro-batch with foreachBatch; each batch runs

  new docs ──► exact-dup semi-join vs indexed corpus fingerprints
          ──► MinHash LSH bucket probe vs indexed buckets
              (salted_join's bipartite skew-policy join)
          ──► intra-batch near-dup pass (first-seen-wins inside the batch)
          ──► verified near-dup decision per new doc
          ──► NOVEL docs appended to the index (idempotent per batch)

so batch N+1 dedups against batches 1..N as well as the base corpus —
first-seen-wins across the whole stream, like the stateful exact-dedup
(streaming/stateful.py) but at near-dup granularity.

State (the index) lives in parquet tables: a ``base`` build plus one
increment subdirectory per batch, each written with overwrite into its
own ``batch_<id>`` path so a checkpoint REPLAY of a batch converges
instead of duplicating (the foreachBatch idempotency contract). Batch
decisions are written the same way. Directory listing uses os.listdir —
correct for local/NFS paths; a cloud-object-store deployment swaps in the
Hadoop FileSystem API at `_increments` (single seam).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import MinHashConfig
from ..functions.text import doc_fingerprint
from ..operators.minhash import (
    doc_shingles,
    lsh_buckets,
    minhash_signatures,
    near_duplicate_edges,
    verify_pairs_across,
)


def _write_index_tables(
    sh: DataFrame, fp: DataFrame, cfg: MinHashConfig, index_dir: str, tag: str
) -> None:
    """One index unit (base or a batch increment): fingerprints, shingles,
    LSH buckets, and the PRECOMPUTED bucket sizes (so per-batch probes
    never re-aggregate the whole bucket table)."""
    fp.write.mode("overwrite").parquet(f"{index_dir}/fingerprints/{tag}")
    sh.write.mode("overwrite").parquet(f"{index_dir}/shingles/{tag}")
    buckets = lsh_buckets(minhash_signatures(sh, cfg), cfg)
    buckets.write.mode("overwrite").parquet(f"{index_dir}/buckets/{tag}")
    buckets.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("nb")
    ).write.mode("overwrite").parquet(f"{index_dir}/bucket_sizes/{tag}")


def build_index(docs: DataFrame, cfg: MinHashConfig, index_dir: str) -> None:
    """Persist the dedup index for an existing corpus: content fingerprints
    + LSH buckets (+ sizes) + shingle sets (for verification)."""
    sh = doc_shingles(docs, cfg)
    fp = docs.select("doc_id", doc_fingerprint("text").alias("fingerprint"))
    _write_index_tables(sh, fp, cfg, index_dir, "base")


def append_index(
    new_docs: DataFrame, cfg: MinHashConfig, index_dir: str, batch_id: int
) -> None:
    """Idempotent per-batch increment: overwrite of this batch's own
    subdirectories, so a checkpoint replay rewrites identical data."""
    sh = doc_shingles(new_docs, cfg)
    fp = new_docs.select(
        "doc_id", doc_fingerprint("text").alias("fingerprint")
    )
    _write_index_tables(sh, fp, cfg, index_dir, f"batch_{batch_id:012d}")


def _increments(root: str, exclude: str | None = None) -> list[str]:
    if not os.path.isdir(root):
        return []
    return sorted(
        os.path.join(root, d)
        for d in os.listdir(root)
        if not d.startswith(("_", ".")) and d != exclude
    )


def _read_index(
    spark: SparkSession,
    index_dir: str,
    table: str,
    exclude: str | None = None,
) -> DataFrame:
    """Union of the base build and every batch increment. ``exclude``
    skips ONE increment — dedup_batch excludes the current batch's own
    tag, so a checkpoint REPLAY (whose increment was already written
    before the crash) does not match the batch's docs against themselves
    and converges to the original decisions."""
    paths = _increments(f"{index_dir}/{table}", exclude)
    return spark.read.parquet(*paths)


def _probe_candidates(
    new_buckets: DataFrame,
    idx_buckets: DataFrame,
    idx_sizes: DataFrame,
    cfg: MinHashConfig,
) -> DataFrame:
    """(a = new doc, b = index doc) candidate pairs from shared LSH
    buckets: salted_join.skewed_cross_pairs with the engine's thresholds
    (``max_bucket_size``, ``salted_bucket_max``), so a boilerplate bucket
    with 10^6 index members never lands in one reducer task.
    ``idx_sizes`` is precomputed at index-build/append time, so probing
    never re-aggregates the index."""
    from ..operators.salted_join import skewed_cross_pairs
    from ..plans.caching import scoped_persist

    keys = ["band", "bucket"]
    na = new_buckets.groupBy(*keys).agg(F.count(F.lit(1)).alias("na"))
    # one increment per batch => several size rows per bucket: fold first
    nb = idx_sizes.groupBy(*keys).agg(F.sum("nb").alias("nb"))
    # read by both branches and the hot-bucket probe: persist so the two
    # size aggs run once
    joint = scoped_persist(na.join(nb, keys))
    cap, smax = cfg.max_bucket_size, cfg.salted_bucket_max
    return skewed_cross_pairs(
        new_buckets, idx_buckets, joint, keys, cap, smax
    ).distinct()


def dedup_batch(
    spark: SparkSession,
    new_docs: DataFrame,
    cfg: MinHashConfig,
    index_dir: str,
    batch_id: int | None = None,
) -> DataFrame:
    """One micro-batch: classify each new doc as exact-dup, near-dup, or
    novel vs the index AND vs earlier docs of the same batch (first-seen-
    wins by doc_id inside the batch). ``batch_id`` excludes this batch's
    own increment from the index read (replay convergence — see
    _read_index). Returns (doc_id, verdict, matched_doc)."""
    own = f"batch_{batch_id:012d}" if batch_id is not None else None
    fps = _read_index(spark, index_dir, "fingerprints", own)
    idx_buckets = _read_index(spark, index_dir, "buckets", own)
    idx_sizes = _read_index(spark, index_dir, "bucket_sizes", own)
    idx_shingles = _read_index(spark, index_dir, "shingles", own)

    new_fp = new_docs.select(
        "doc_id", doc_fingerprint("text").alias("fingerprint")
    )
    # exact vs index, plus exact vs earlier docs of this batch
    intra_fp = new_fp.alias("x").join(
        new_fp.alias("y"),
        (F.col("x.fingerprint") == F.col("y.fingerprint"))
        & (F.col("x.doc_id") > F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("doc_id"),
        F.col("y.doc_id").alias("matched_doc"),
    )
    exact = (
        new_fp.join(
            fps.select(
                F.col("fingerprint"), F.col("doc_id").alias("matched_doc")
            ),
            "fingerprint",
        )
        .select("doc_id", "matched_doc")
        .unionByName(intra_fp)
        .groupBy("doc_id")
        .agg(F.min("matched_doc").alias("matched_doc"))
        .withColumn("verdict", F.lit("exact"))
    )

    new_sh = doc_shingles(new_docs, cfg)
    new_buckets = lsh_buckets(minhash_signatures(new_sh, cfg), cfg)
    cands = _probe_candidates(new_buckets, idx_buckets, idx_sizes, cfg)
    # two-sided verify: new-batch ids and index ids are independent spaces
    # (a colliding doc_id must not pull the wrong shingle set — ADVICE r1)
    near_idx = verify_pairs_across(cands, new_sh, idx_shingles, cfg).select(
        F.col("a").alias("doc_id"), F.col("b").alias("matched_doc")
    )
    # intra-batch near pass: later doc matches the earliest near-dup peer
    near_intra = near_duplicate_edges(new_docs, cfg).select(
        F.greatest("a", "b").alias("doc_id"),
        F.least("a", "b").alias("matched_doc"),
    )
    near = (
        near_idx.unionByName(near_intra)
        .groupBy("doc_id")
        .agg(F.min("matched_doc").alias("matched_doc"))
        .withColumn("verdict", F.lit("near"))
    )

    classified = exact.unionByName(
        near.join(exact.select("doc_id"), "doc_id", "left_anti")
    )
    novel = new_docs.select("doc_id").join(
        classified.select("doc_id"), "doc_id", "left_anti"
    ).withColumn("matched_doc", F.lit(None).cast("long")).withColumn(
        "verdict", F.lit("novel")
    )
    return classified.unionByName(novel)


def read_decisions(spark: SparkSession, output_dir: str) -> DataFrame:
    """All per-batch decision frames written by start_incremental_dedup."""
    return spark.read.parquet(*_increments(output_dir))


def start_incremental_dedup(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: MinHashConfig,
    schema,
    available_now: bool = True,
    grow_index: bool = True,
):
    """readStream(file source) -> foreachBatch(dedup_batch) -> per-batch
    parquet decisions (read back via ``read_decisions``). With
    ``grow_index`` (default) each batch's NOVEL docs are appended to the
    index before the next batch, so the stream dedups against itself —
    first-seen-wins end to end. All per-batch writes are overwrite-into-
    own-subdirectory, so checkpoint replays converge (idempotent sink).
    availableNow processes the backlog then stops (test/batch-catchup
    mode); otherwise runs continuously as new files land."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from ..plans.caching import cache_scope

        # scope the per-batch operator caches (shingles, bucket frames):
        # without it every micro-batch would leave persisted frames
        # registered for the life of the session
        with cache_scope():
            batch_df = batch_df.persist()
            out = dedup_batch(
                spark, batch_df, cfg, index_dir, batch_id=batch_id
            ).persist()
            if grow_index:
                novel_ids = out.filter(
                    F.col("verdict") == "novel"
                ).select("doc_id")
                append_index(
                    batch_df.join(novel_ids, "doc_id"), cfg, index_dir, batch_id
                )
            out.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).parquet(f"{output_dir}/batch_{batch_id:012d}")
            out.unpersist()
            batch_df.unpersist()

    reader = spark.readStream.schema(schema).parquet(input_dir)
    writer = reader.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
