"""Physical-plan audit: print the executed-plan shape of each headline
operator and assert the structural properties the 100-TB design depends on.

Checks (per plan, printed + asserted where marked):
  * parquet scans carry ReadSchema pruned to the consumed columns;
  * no partition-less Window (single-partition funnel) anywhere  [assert]
  * no CartesianProduct except the declared exact-ANN baseline   [assert]
  * exchanges (shuffles) counted — the budget documented per operator.

Every driver guard is set to 0, so each size-adaptive stage shows its
distributed plan.

Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from deduplicate_text_datasets_spark.config import (  # noqa: E402
    EngineConfig,
    ExactSubstrConfig,
    MinHashConfig,
)
from deduplicate_text_datasets_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# Audit the distributed plans, the ones a 100-TB corpus runs: at the default
# guards a small sf_dir puts size-adaptive stages on the driver, whose
# local-relation plans carry no WholeStageCodegen subtree.
for _guard in (
    "SPARK_GRAFT_OFFSETS_DRIVER_MAX",
    "SPARK_GRAFT_LSH_DRIVER_MAX",
    "SPARK_GRAFT_LSH_DRIVER_PAIR_MAX",
    "SPARK_GRAFT_VERIFY_DRIVER_MAX",
    "SPARK_GRAFT_CC_DRIVER_MAX",
    "SPARK_GRAFT_INTERVALS_DRIVER_MAX",
):
    os.environ[_guard] = "0"
CFG = ExactSubstrConfig(length_threshold=100, shard_bytes=32768, overlap_bytes=1024)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def codegen_spans_of(df) -> int:
    """Count WholeStageCodegen subtrees for ``df``'s logical plan.

    Under AQE the pre-execution ``executedPlan`` is an ``AdaptiveSparkPlan
    isFinalPlan=false`` whose codegen stages are only inserted when each
    query stage materializes, so grepping it (or ``explain('codegen')``)
    always reports 0 — a display artifact, not absent codegen. Re-plan the
    SAME logical plan with AQE off (fresh Dataset -> fresh QueryExecution
    honoring the session conf at access time) and read the static count;
    AQE only re-plans shuffles at runtime, it does not change which
    operators support codegen.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        replanned = df.select("*")
        mode = spark.sparkContext._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "codegen"
        )
        s = replanned._jdf.queryExecution().explainString(mode)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", s)
    return int(m.group(1)) if m else 0


def audit(name: str, df, allow_cartesian: bool = False) -> None:
    p = plan_of(df)
    exchanges = len(re.findall(r"Exchange (hash|range)partitioning", p))
    windows = [
        ln
        for ln in p.splitlines()
        if "windowspecdefinition" in ln.lower() and " Window" in ln
    ]
    # A partitioned Window prints 3 bracket groups (functions, partition
    # keys, ordering); a global-order one prints 2. Global-order windows
    # are allowed ONLY over the hierarchical per-partition stats frames
    # (#partitions rows, keyed by pid/_pid/_block) — anything else is a
    # single-partition funnel over data-sized input.
    def _is_global(ln: str) -> bool:
        return ln.count("], [") == 1

    bad_windows = [
        ln
        for ln in windows
        if _is_global(ln)
        and not any(k in ln for k in ("pid", "_pid", "_block"))
    ]
    # count-over-window on data keys: a hot key pins every member in one
    # unsplittable WindowExec partition (AQE cannot split a window, and
    # there is no map-side partial agg). Sizing must be groupBy+join-back
    # (minhash.candidate_pairs is the template). Partitioned-by-pid/_block
    # windows are the sanctioned hierarchical-stats exception.
    count_windows = [
        ln
        for ln in windows
        if "count(" in ln
        and not _is_global(ln)
        and not any(k in ln for k in ("pid", "_pid", "_block"))
    ]
    cartesian = "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", p)
    codegen = codegen_spans_of(df)
    print(
        f"{name:28s} exchanges={exchanges:2d} codegen_spans={codegen:2d} "
        f"windows={len(windows)} cartesian={cartesian} "
        f"pushed={pushed[:1] or '-'}"
    )
    assert not bad_windows, f"{name}: partition-less window:\n" + "\n".join(
        bad_windows
    )
    assert not count_windows, (
        f"{name}: count-over-window on data keys (hot-key funnel; use "
        "groupBy sizes + join-back):\n" + "\n".join(count_windows)
    )
    if not allow_cartesian:
        assert not cartesian, f"{name}: unexpected cartesian/nested-loop join"
    # Every audited plan keeps its JVM-side sections in whole-stage codegen
    # (the scans/projections around any Arrow/Pandas stage still fuse). A
    # zero here means an interpreted-only plan — a hot-path regression.
    assert codegen >= 1, f"{name}: no WholeStageCodegen subtree in the plan"


def main() -> None:
    spark = get_spark("explain-audit", master="local[8]", shuffle_partitions=8)
    from deduplicate_text_datasets_spark.operators.ann import cosine_pairs, cosine_topk
    from deduplicate_text_datasets_spark.operators.exact import exact_duplicates
    from deduplicate_text_datasets_spark.operators.intervals import (
        coalesce_positions,
    )
    from deduplicate_text_datasets_spark.operators.minhash import (
        near_duplicate_edges,
    )
    from deduplicate_text_datasets_spark.operators.ngram import jaccard_pairs
    from deduplicate_text_datasets_spark.operators.simhash import simhash_pairs
    from deduplicate_text_datasets_spark.operators.suffix import self_similar
    from deduplicate_text_datasets_spark.operators.textstats import doc_stats
    from deduplicate_text_datasets_spark.sources.documents import read_documents

    docs = read_documents(spark, f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    audit("doc_stats", doc_stats(docs))
    audit("exact_duplicates", exact_duplicates(docs))
    audit("self_similar", self_similar(docs, CFG))
    audit(
        "coalesce_positions",
        coalesce_positions(self_similar(docs, CFG), CFG.length_threshold),
    )
    audit("near_duplicate_edges", near_duplicate_edges(docs, MinHashConfig()))
    audit("ngram_jaccard", jaccard_pairs(docs, MinHashConfig()))
    from deduplicate_text_datasets_spark.config import SimHashConfig

    audit("simhash_pairs", simhash_pairs(docs, SimHashConfig()))
    audit("cosine_topk (broadcast q)", cosine_topk(emb, queries), allow_cartesian=True)
    audit("cosine_pairs lsh", cosine_pairs(emb, dim=64, threshold=0.5, bits=4))
    from deduplicate_text_datasets_spark.operators.paragraphs import (
        paragraph_dedup,
        repeated_paragraphs,
    )
    from deduplicate_text_datasets_spark.operators.webpages import domain_stats

    audit("paragraph_dedup", paragraph_dedup(docs))
    audit("repeated_paragraphs", repeated_paragraphs(docs))
    audit("domain_stats", domain_stats(docs))
    from deduplicate_text_datasets_spark.operators.ann import ivf_topk

    audit(
        "ivf_topk (broadcast probes)",
        ivf_topk(emb, queries, dim=64, k=10, nlist=8, nprobe=2),
    )
    from deduplicate_text_datasets_spark.operators.semdedup import semantic_dedup

    audit("semantic_dedup (nlist=8)", semantic_dedup(emb, dim=64, eps=0.9, nlist=8))
    print("explain audit: all structural assertions passed")
    spark.stop()


if __name__ == "__main__":
    main()
