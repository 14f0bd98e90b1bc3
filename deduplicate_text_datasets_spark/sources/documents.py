"""Documents source: readers, canonicalization, and the deterministic
FIXTURES.md synthesizer.

Canonical schema (BASELINE.json input_hint):
    documents(url string, warc_ts timestamp, html binary, text string,
              lang string)
plus an engine-added ``doc_id`` (long, dense, deterministic by url order)
that all downstream operators key on.

``read_documents`` reads two physical table shapes:
  * the canonical Iceberg/parquet web-page table above;
  * the test-data tables ``sf*/documents.parquet``
    (doc_id, text, lang, source, n_chars), which are lifted into the
    canonical shape.

``read_text_corpus`` reads raw txt / jsonl / csv corpora.

Reference parity: the reference ingests TFDS/HF datasets into a flat byte
corpus (scripts/load_dataset.py:49-92); here the *table* is the corpus and
the byte layout is derived lazily (see sources/corpus.py). A TFDS or HF
dataset enters as a table export (parquet or jsonl) through the readers
above.
"""

from __future__ import annotations

import functools
import random
import string
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

FIXTURE_SEED = 42
VOCAB_SIZE = 4096
EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)


def assign_dense_ids(
    df: DataFrame, order_col: str | None = None, id_col: str = "doc_id"
) -> DataFrame:
    """Dense 0-based ``id_col`` without a global single-partition sort.

    A bare ``row_number().over(Window.orderBy(...))`` funnels the whole
    table through one task — a non-starter at 10^12 docs. Instead: rank
    within each partition (parallel windows keyed by partition id) and
    offset by the cumulative per-partition counts — the same hierarchical
    pattern as corpus.with_offsets. The partition-count frame is tiny
    (#partitions rows) and its cumulative window is the only serial step.
    Catalyst's ReuseExchange serves the two reads of the ranked frame from
    one shuffle write.

    order_col given  -> ids follow the global sort order of that column
                        (repartitionByRange + in-partition rank).
    order_col=None   -> ids follow input order (partition id + row order,
                        the reference's sequential uid, load_dataset.py:58).
    """
    if order_col is not None:
        p = df.repartitionByRange(F.col(order_col)).withColumn(
            "_pid", F.spark_partition_id()
        )
        w_in = Window.partitionBy("_pid").orderBy(order_col)
    else:
        p = df.withColumn("_pid", F.spark_partition_id()).withColumn(
            "_mid", F.monotonically_increasing_id()
        )
        w_in = Window.partitionBy("_pid").orderBy("_mid")
    p = p.withColumn("_rk", F.row_number().over(w_in).cast("long") - 1)
    counts = p.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_p = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_p), F.lit(0))
    ).select("_pid", "_off")
    out = p.join(F.broadcast(offs), "_pid").withColumn(
        id_col, (F.col("_off") + F.col("_rk")).cast("long")
    )
    return out.drop("_pid", "_rk", "_off", "_mid")


def _size_bytes(conf_val: str) -> int:
    """Parse a Spark byte-size conf value ('134217728b', '128m', '1.5g').
    Spark's byteStringAs accepts fractional magnitudes, so parse via float
    and truncate; an unparseable value falls back to Spark's 128 MiB
    default rather than crashing read_documents on a valid session conf —
    but WARNS, so a genuinely misconfigured maxPartitionBytes is visible
    instead of silently masked (round-4 ADVICE)."""
    import warnings

    v = conf_val.strip().lower()
    try:
        for suf, mult in (
            ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
            ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
            ("b", 1),
        ):
            if v.endswith(suf):
                return int(float(v[: -len(suf)]) * mult)
        return int(float(v))
    except ValueError:
        warnings.warn(
            f"unparseable spark.sql.files.maxPartitionBytes value "
            f"{conf_val!r}; falling back to 128 MiB for the scan fan-out "
            "check (fix the session conf — Spark itself may reject it)",
            stacklevel=2,
        )
        return 128 << 20


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Read a documents table (canonical or driver-test shape) into the
    canonical frame ordered/keyed by ``doc_id``.

    ``path`` may be a filesystem parquet path or a dotted catalog table
    name — dispatch is ``sinks.read_table`` (Iceberg-first per
    BASELINE.json input_hint; the sandbox has no Iceberg jars, so tests
    exercise the parquet fallback and run_submit_demo.sh documents the
    catalog config).

    Column pruning + predicate pushdown reach the scan because this is a
    plain declarative projection (no UDFs).
    """
    from .sinks import is_path_target, read_table

    df = read_table(spark, path)
    # Small test inputs produce fewer scan splits than the cluster width =>
    # downstream kernels underparallelize. Size the fan-out check by BYTES,
    # not file count: parquet is splittable by row group, so one large file
    # can still yield many scan partitions — file count would force a
    # pointless full-text repartition shuffle on it. A no-op at web scale
    # where total_bytes / maxPartitionBytes >> parallelism.
    want = spark.sparkContext.defaultParallelism
    total = None
    if is_path_target(path):
        import os

        try:
            files = [
                f.removeprefix("file:") for f in df.inputFiles()
            ]
            local = [f for f in files if f.startswith("/")]
            if local and len(local) == len(files):
                total = sum(os.path.getsize(f) for f in local)
        except OSError:
            total = None
    if total is not None:
        max_part = _size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        if total // max_part + 1 < want:
            df = df.repartition(want)
    elif len(df.inputFiles()) < want:
        df = df.repartition(want)
    cols = set(df.columns)
    if {"url", "text"} <= cols:
        if "doc_id" not in cols:
            df = assign_dense_ids(df, order_col="url")
        return df.select("doc_id", "url", "warc_ts", "html", "text", "lang")
    # driver-test shape (doc_id, text, lang, source, n_chars)
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/page"), F.col("doc_id")
        ).alias("url"),
        (F.lit(EPOCH) + F.make_interval(secs=F.col("doc_id") * 137)).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")),
            "UTF-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


# ---------------------------------------------------------------------------
# FIXTURES.md §1 synthesizer — deterministic planted-duplicate corpus.
# ---------------------------------------------------------------------------

_BOILERPLATE = (
    "home about contact privacy terms sitemap navigation footer copyright "
    "all rights reserved follow us on social media subscribe to the newsletter "
    "for weekly updates cookie settings accessibility statement careers press "
    "room investor relations help center community guidelines report a problem"
)  # ~300 bytes of fixed template text (role 5: hot LSH buckets / hot suffixes)

_STRADDLE_SENTENCE_WORDS = 18  # shared global run for boundary-straddling pairs


def _vocab() -> list[str]:
    rng = random.Random(FIXTURE_SEED)
    words = set()
    while len(words) < VOCAB_SIZE:
        n = rng.randint(3, 9)
        words.add("".join(rng.choice(string.ascii_lowercase) for _ in range(n)))
    return sorted(words)


_VOCAB = _vocab()


def _base_words(k: int, lo: int = 50, hi: int = 2000) -> list[str]:
    rng = random.Random(f"{FIXTURE_SEED}-doc-{k}")
    n = rng.randint(lo, hi)
    return [_VOCAB[rng.randrange(VOCAB_SIZE)] for _ in range(n)]


def _shared_run(tag: str, j: int, n_words: int) -> list[str]:
    rng = random.Random(f"{FIXTURE_SEED}-run-{tag}-{j}")
    return [_VOCAB[rng.randrange(VOCAB_SIZE)] for _ in range(n_words)]


@functools.lru_cache(maxsize=4096)
def fixture_text(k: int, size_lo: int = 50, size_hi: int = 2000) -> str:
    """Deterministic text for doc index k with FIXTURES.md planted roles.

    Pure function of k => embarrassingly parallel generation.
    Roles by m = k % 20:
      1,11  exact duplicate of doc k-1
      3,13  near duplicate of doc k-1 (2-5 seeded word edits)
      5/15  pair sharing one >=100-byte run (ExactSubstr, not near-dup)
      7/17  pair sharing a ~3x-threshold run (coalescing test)
      9,19  boilerplate footer appended (skew / hot buckets)
      else  singleton
    Additionally k % 97 == 3 docs embed one global run (cross-shard pairs).
    """
    m = k % 20
    if m in (1, 11) and k > 0:
        return fixture_text(k - 1, size_lo, size_hi)
    if m in (3, 13) and k > 0:
        words = fixture_text(k - 1, size_lo, size_hi).split(" ")
        rng = random.Random(f"{FIXTURE_SEED}-edit-{k}")
        for _ in range(rng.randint(2, 5)):
            words[rng.randrange(len(words))] = _VOCAB[rng.randrange(VOCAB_SIZE)]
        return " ".join(words)

    words = _base_words(k, size_lo, size_hi)
    rng = random.Random(f"{FIXTURE_SEED}-place-{k}")
    if m in (5, 15):
        run = _shared_run("sub", k // 20, 20)  # >=100 bytes of shared words
        pos = rng.randrange(max(1, len(words) - 1))
        words = words[:pos] + run + words[pos:]
    elif m in (7, 17):
        run = _shared_run("coalesce", k // 20, 55)  # ~3x the 100-byte threshold
        pos = rng.randrange(max(1, len(words) - 1))
        words = words[:pos] + run + words[pos:]
    elif m in (9, 19):
        words = words + _BOILERPLATE.split(" ")
    if k % 97 == 3:
        run = _shared_run("straddle", 0, _STRADDLE_SENTENCE_WORDS)
        pos = rng.randrange(max(1, len(words) - 1))
        words = words[:pos] + run + words[pos:]
    return " ".join(words)


def fixture_row(k: int, size_lo: int = 50, size_hi: int = 2000) -> dict:
    text = fixture_text(k, size_lo, size_hi)
    lang = "en" if k % 20 < 19 else ["de", "fr", "es"][(k // 20) % 3]
    return {
        "doc_id": k,
        "url": f"https://site{k // 10}.example/page{k}",
        "warc_ts": EPOCH + timedelta(seconds=137 * k),
        "html": b"<html><body>" + text.encode("utf-8") + b"</body></html>",
        "text": text,
        "lang": lang,
    }


def synth_documents_pandas(n: int, size_lo: int = 50, size_hi: int = 2000) -> pd.DataFrame:
    """Driver-side fixture generation (pytest scale)."""
    return pd.DataFrame([fixture_row(k, size_lo, size_hi) for k in range(n)])


def synth_documents(
    spark: SparkSession, n: int, size_lo: int = 50, size_hi: int = 2000
) -> DataFrame:
    """Distributed fixture generation: pure function of doc index, so it is
    generated where it will be consumed (no driver collect, no shuffle)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [fixture_row(int(k), size_lo, size_hi) for k in pdf["id"]]
            )

    return (
        spark.range(0, n, 1, numPartitions=max(1, n // 2000))
        .mapInPandas(gen, DOCUMENTS_SCHEMA)
    )


def read_text_corpus(spark: SparkSession, path: str, fmt: str = "auto") -> DataFrame:
    """Ingest raw text corpora the way the reference's HF loader does
    (scripts/load_dataset_hf.py:25,51-57: txt / jsonl / csv globs) into the
    canonical documents frame. ``text`` is taken from a ``text`` column
    (jsonl/csv) or the whole line (txt); doc_id is the deterministic
    row_number in input order (the reference's uid, load_dataset.py:58)."""
    if fmt == "auto":
        low = path.lower()
        fmt = (
            "json" if (".json" in low or ".jsonl" in low)
            else "csv" if ".csv" in low
            else "text"
        )
    if fmt == "json":
        raw = spark.read.json(path)
    elif fmt == "csv":
        raw = spark.read.option("header", "true").csv(path)
    else:
        raw = spark.read.text(path).withColumnRenamed("value", "text")
    if "text" not in raw.columns:
        raise ValueError(f"no 'text' column in {path} (columns: {raw.columns})")
    # input-order ids, hierarchically (no global single-partition sort)
    d = assign_dense_ids(raw, order_col=None)
    return d.select(
        "doc_id",
        F.coalesce(
            F.col("url") if "url" in raw.columns else F.lit(None).cast("string"),
            F.concat(F.lit("corpus://doc/"), F.col("doc_id")),
        ).alias("url"),
        (
            F.col("warc_ts") if "warc_ts" in raw.columns else F.lit(EPOCH)
        ).cast("timestamp").alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
        F.col("text").cast("string").alias("text"),
        (
            F.col("lang") if "lang" in raw.columns else F.lit("und")
        ).cast("string").alias("lang"),
    )
