"""SparkSession factory tuned for this engine.

Local-mode settings follow the sandbox contract (local[$SPARK_GRAFT_CPUS],
single JVM); the same builder flags are the ones we would hand to
spark-submit on a real cluster (AQE, Arrow, skew-join splitting).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "deduplicate_text_datasets_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    # NOTE: Python workers get glibc allocator tuning via the package's
    # _tune_allocator() (deduplicate_text_datasets_spark/__init__.py) — it
    # measurably removes the mmap/refault cycle for numpy kernels — and
    # _gate_zip_refresh(), which stops each task re-reading pyspark.zip's
    # directory (most of a reused worker's per-task CPU on 3.10-3.12). Do NOT
    # export MALLOC_* env to the JVM: forcing the JVM's native mallocs
    # through the sbrk main arena stalls its many threads on the (host-
    # serialized) fault path — observed as whole-job hangs.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] => N threads; match shuffle width to core count (the
        # default 200 creates tiny-partition overhead at test scale; on a
        # real cluster this is set to 2-3x total cores and AQE coalesces).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Default 64m coalesces CPU-heavy small-data stages below core
        # count; 8m keeps width at sandbox scale (raise on a real cluster).
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_MB", "8") + "m",
        )
        .config("spark.sql.session.timeZone", "UTC")
        # Prefer shuffled-hash over sort-merge when the planner's size
        # conditions hold (guide §3.1/§9): the engine's joins are keyed by
        # hashes/ids with AQE skew-splitting on — the SMJ sorts bought
        # robustness we don't need and cost a per-run sort of both sides.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        # Static broadcast selection is DISABLED: Catalyst propagates the
        # child's size estimate through mapInPandas/applyInPandas nodes, so
        # a fingerprint/signature frame that EXPANDS its small cached input
        # (24 B/corpus-byte vs 1 B/byte) gets misjudged as broadcastable and
        # collected to the driver (observed: 1+ GiB broadcast ->
        # maxResultSize abort). AQE re-plans every shuffled join with exact
        # runtime sizes, so genuinely small sides still broadcast — just
        # decided on facts, not estimates. Explicit F.broadcast() hints
        # (tiny stats frames) are unaffected.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
    )
    # First-touch page faults on this host are globally serialized (threads
    # sit in D-state while CPUs idle — BASELINE.md): a JVM that grows its
    # heap mid-job measures the host's fault path, not the engine. With
    # SPARK_GRAFT_PRETOUCH=<size>, commit+touch the whole heap at startup
    # (one-time cost, outside any timed section) and use the
    # non-uncommitting parallel GC so it stays resident.
    # Shuffle/spill directory override. In the sandbox every shuffle byte
    # at BOTH parallelism levels funnels through one shared 517 MB/s disk —
    # a per-node resource that multiplies with executor count on a real
    # cluster. SPARK_GRAFT_LOCAL_DIR=<tmpfs path> (e.g. /dev/shm/...) makes
    # local-mode shuffles memory-backed, the analogue of each executor
    # bringing its own NVMe; bench.py sets it for the scaling legs and
    # reports both raw-disk and tmpfs numbers.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    pretouch = os.environ.get("SPARK_GRAFT_PRETOUCH")
    if pretouch:
        builder = (
            builder.config("spark.driver.memory", pretouch)
            .config(
                "spark.driver.extraJavaOptions",
                f"-Xms{pretouch} -XX:+AlwaysPreTouch -XX:+UseParallelGC",
            )
        )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
