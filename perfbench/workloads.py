"""The benchmark's workloads.

Each workload gets a generated corpus (``corpus_gen``) and offers:

  setup(ctx, spans)        one set-up repetition; the runner times several
  warmup(ctx)              untimed work before measuring (JIT, Python
                           workers, expected answers)
  round(ctx)               one measured round, through the public entry
                           points a user calls; returns {op: seconds}
  traced_round(ctx, spans) the same work composed layer by layer from the
                           public operator functions, each layer in a span
                           and materialized (persist + count) inside it
  reference(ctx)           a further check after a traced run's rounds

Every round checks its outputs and raises ``Mismatch`` when they are wrong.
"""

from __future__ import annotations

import bisect
import hashlib
import os
import random
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplicate_text_datasets_spark.config import EngineConfig, ExactSubstrConfig
from deduplicate_text_datasets_spark.operators.connected_components import (
    connected_components,
)
from deduplicate_text_datasets_spark.operators.exact import exact_duplicate_edges
from deduplicate_text_datasets_spark.operators.intervals import coalesce_positions
from deduplicate_text_datasets_spark.operators.minhash import (
    candidate_pairs,
    doc_shingles,
    lsh_buckets,
    minhash_signatures,
    verify_pairs,
)
from deduplicate_text_datasets_spark.operators.sa_index import (
    build_suffix_index,
    count_occurrences_indexed,
    find_training_data_indexed,
    read_suffix_index,
    write_suffix_index,
)
from deduplicate_text_datasets_spark.operators.strike import apply_removals
from deduplicate_text_datasets_spark.operators.suffix import (
    find_duplicates_mappass,
    window_fingerprints,
)
from deduplicate_text_datasets_spark.operators.textstats import (
    lang_id,
    quality_score,
    repetition_stats,
)
from deduplicate_text_datasets_spark.plans.caching import cache_scope, scoped_persist
from deduplicate_text_datasets_spark.plans.pipeline import (
    exactsubstr_dedup,
    neardup_clusters,
    prepare_training_data,
)
from deduplicate_text_datasets_spark.sources.corpus import (
    auto_shard_bytes,
    corpus_total_bytes,
    with_offsets,
)

from corpus_gen import Corpus

CORES = 4
# Size guards that move a stage onto the driver; 0 forces the distributed plan.
GUARD_VARS = (
    "SPARK_GRAFT_OFFSETS_DRIVER_MAX",
    "SPARK_GRAFT_LSH_DRIVER_MAX",
    "SPARK_GRAFT_LSH_DRIVER_PAIR_MAX",
    "SPARK_GRAFT_VERIFY_DRIVER_MAX",
    "SPARK_GRAFT_CC_DRIVER_MAX",
    "SPARK_GRAFT_INTERVALS_DRIVER_MAX",
    "SPARK_GRAFT_STRIKE_SINGLE_MAX",
)
LAYERS = (
    "corpus.offsets",
    "textstats.policy",
    "minhash.signatures",
    "minhash.candidates",
    "minhash.verify",
    "exact.edges",
    "connected_components",
    "suffix.fingerprints",
    "suffix.self_similar",
    "intervals.coalesce",
    "strike",
    "plans.pipeline",
    "sa_index.build",
    "sa_index.count",
    "sa_index.match",
)
# layers that must shuffle when the driver guards are off
DISTRIBUTED_LAYERS = ("minhash.candidates", "minhash.verify", "connected_components")
# a distributed layer shuffles more than the few hundred bytes that the
# count() materializing every layer exchanges
MIN_SHUFFLE_MB = 0.001
BROADCAST_KEY = "spark.sql.adaptive.autoBroadcastJoinThreshold"


class Mismatch(Exception):
    """An output differs from its expected value."""


@dataclass
class Ctx:
    spark: object
    corpus: Corpus
    seed: int
    out_dir: str
    docs: DataFrame | None = None
    state: dict = field(default_factory=dict)

    shards_per_core: int | None = None

    def __post_init__(self):
        self.corpus_bytes = self.corpus.corpus_bytes()
        total = len(self.corpus_bytes)
        if self.shards_per_core is None:
            shard = auto_shard_bytes(total, CORES)  # the engine's own sizing
        else:
            shard = -(-total // (self.shards_per_core * CORES))
        self.cfg = EngineConfig(exact=ExactSubstrConfig(shard_bytes=shard))


def set_placement(ctx: Ctx, distributed: bool) -> None:
    """Default placement, or the plans of a corpus too big for the driver
    and for broadcast joins: every driver guard at 0 and no automatic
    broadcast (explicit broadcast hints still apply)."""
    default = ctx.state.setdefault("broadcast", ctx.spark.conf.get(BROADCAST_KEY))
    ctx.spark.conf.set(BROADCAST_KEY, "-1" if distributed else default)
    for v in GUARD_VARS:
        if distributed:
            os.environ[v] = "0"
        else:
            os.environ.pop(v, None)


def docs_frame(spark, texts: list[str]) -> DataFrame:
    """``texts`` as a cached (doc_id, url, text) frame."""
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "url": [f"https://site{i // 10}.example/page{i}" for i in range(len(texts))],
            "text": texts,
        }
    )
    docs = spark.createDataFrame(pdf, "doc_id long, url string, text string").persist()
    docs.count()
    return docs


def load_docs(ctx: Ctx) -> DataFrame:
    """(Re)load the whole corpus as ``ctx.docs``."""
    if ctx.docs is not None:
        ctx.docs.unpersist(blocking=True)
    ctx.docs = docs_frame(ctx.spark, ctx.corpus.texts)
    return ctx.docs


def rows_digest(rows) -> str:
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise Mismatch(what)


def pin_digest(ctx: Ctx, key: str, digest: str) -> None:
    """The first digest seen under ``key`` is the reference for the rest."""
    expect(ctx.state.setdefault(key, digest) == digest, f"{key} digest changed")


@contextmanager
def probe_spans(spans):
    """Run every ``plans.caching.probe_rows`` call in a ``caching.probe``
    span (the driver-placement size probe: its count and pulled bytes).
    A no-op when ``spans`` is None."""
    from deduplicate_text_datasets_spark.plans import caching

    orig = getattr(caching, "probe_rows", None)
    if spans is None or orig is None:
        yield
        return

    def probe_rows(df, guard):
        with spans.span("caching.probe") as rec:
            pdf = orig(df, guard)
            rec["rows"] = 0 if pdf is None else len(pdf)
        return pdf

    caching.probe_rows = probe_rows
    try:
        yield
    finally:
        caching.probe_rows = orig


def persist_layer(spans, name: str, build) -> DataFrame:
    with spans.span(name) as rec:
        df = scoped_persist(build())
        rec["rows"] = df.count()
    return df


# -- layer-by-layer compositions (traced rounds) ---------------------------


def policy_flags(docs: DataFrame) -> DataFrame:
    """The policy filter of ``prepare_training_data`` with its defaults."""
    return (
        docs.select("doc_id")
        .join(lang_id(docs).select("doc_id", "lang_pred"), "doc_id")
        .join(quality_score(docs).select("doc_id", "quality"), "doc_id")
        .join(repetition_stats(docs).select("doc_id", "dup_ngram_ppm"), "doc_id")
        .select(
            "doc_id",
            (
                (F.col("lang_pred") == "en")
                & (F.col("quality") * 1_000_000 >= 750_000)
                & (F.col("dup_ngram_ppm") <= 500_000)
            ).alias("policy_ok"),
        )
    )


def neardup_layers(docs: DataFrame, cfg: EngineConfig, spans) -> DataFrame:
    """``neardup_clusters`` as layers: (doc_id, cluster_id)."""
    mh = cfg.minhash
    with spans.span("minhash.signatures") as rec:
        shingled = scoped_persist(doc_shingles(docs, mh))
        buckets = scoped_persist(lsh_buckets(minhash_signatures(shingled, mh), mh))
        rec["rows"] = buckets.count()
    pairs = persist_layer(spans, "minhash.candidates", lambda: candidate_pairs(buckets, mh))
    edges = persist_layer(spans, "minhash.verify", lambda: verify_pairs(pairs, shingled, mh))
    exact = persist_layer(spans, "exact.edges", lambda: exact_duplicate_edges(docs))
    graph = edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(exact)
    assign = persist_layer(spans, "connected_components", lambda: connected_components(graph))
    return docs.join(assign, docs["doc_id"] == assign["node"], "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("cluster_id")
    )


def exactsubstr_layers(docs: DataFrame, cfg: EngineConfig, spans):
    """``exactsubstr_dedup`` as layers: (remove_ranges, deduped)."""
    ex = cfg.exact
    with spans.span("corpus.offsets") as rec:
        d = scoped_persist(with_offsets(docs, ex.with_separators))
        total = corpus_total_bytes(d)
        rec["rows"] = d.count()
    fp = persist_layer(spans, "suffix.fingerprints", lambda: window_fingerprints(d, ex, total))
    dups = persist_layer(spans, "suffix.self_similar", lambda: find_duplicates_mappass(fp, ex))
    ranges = persist_layer(
        spans, "intervals.coalesce", lambda: coalesce_positions(dups, ex.length_threshold)
    )
    deduped = persist_layer(spans, "strike", lambda: apply_removals(d, ranges, ex))
    return ranges, deduped


# -- correctness checks shared by the dedup workloads ------------------------


def check_clusters(ctx: Ctx, rows) -> None:
    got = {int(r[0]): int(r[1]) for r in rows}
    expect(got == ctx.corpus.expected_clusters(), "NearDup clusters differ from planted")


def check_runs_removed(ctx: Ctx, ranges) -> None:
    """Every occurrence of every planted shared or chained run lies inside
    one removed range."""
    removed = sorted((int(s), int(e)) for s, e in ranges)
    starts = [s for s, _ in removed]
    data = ctx.corpus_bytes
    for run in ctx.corpus.runs:
        r = run.encode()
        at = data.find(r)
        while at != -1:
            i = bisect.bisect_right(starts, at) - 1
            expect(i >= 0 and removed[i][1] >= at + len(r), "planted run not removed")
            at = data.find(r, at + 1)


# -- workloads -------------------------------------------------------------


class Workload:
    distributed = False
    shards_per_core = None

    def warmup(self, ctx: Ctx) -> None:
        """Untimed work before measuring. None by default: a batch job runs
        once per session, so its measured round is the session's first."""

    def reference(self, ctx: Ctx) -> None:
        """A further correctness check, run after the rounds of a traced
        run. None by default."""


class Pipeline(Workload):
    """prepare_training_data at default placement, then stage_counts and
    kept_docs."""

    name = "pipeline"
    n_docs, words_lo, words_hi = 48, 60, 150

    def setup(self, ctx: Ctx, spans=None) -> None:
        load_docs(ctx)

    def _check(self, ctx: Ctx, counts: dict, kept_rows) -> None:
        c = ctx.corpus
        policy = [i for i, r in enumerate(c.roles) if r != "foreign"]
        clusters = c.expected_clusters(policy)
        survivors = sorted({cid for cid in clusters.values()})
        expect(counts["input_docs"] == len(c.texts), "input_docs")
        expect(counts["policy_kept"] == len(policy), "policy_kept")
        expect(counts["neardup_kept"] == len(survivors), "neardup_kept")
        expect(counts["final_docs"] == len(survivors), "final_docs")
        expect(counts["remove_ranges"] > 0, "remove_ranges")
        expect(sorted(int(r[0]) for r in kept_rows) == survivors, "kept doc ids")
        pin_digest(ctx, "pipeline", rows_digest(kept_rows) + repr(sorted(counts.items())))

    def round(self, ctx: Ctx) -> dict[str, float]:
        t0 = time.perf_counter()
        with cache_scope():
            res = prepare_training_data(ctx.docs, ctx.cfg)
            counts = {r["stage"]: r["rows"] for r in res.stage_counts.collect()}
            kept = res.kept_docs.select("doc_id", F.md5("text")).collect()
        dt = time.perf_counter() - t0
        self._check(ctx, counts, kept)
        return {"pipeline": dt}

    def traced_round(self, ctx: Ctx, spans) -> None:
        docs = ctx.docs
        with cache_scope():
            with spans.span("textstats.policy") as rec:
                flags = scoped_persist(policy_flags(docs))
                rec["rows"] = flags.count()
            filtered = persist_layer(
                spans, "plans.pipeline",
                lambda: docs.join(flags.filter("policy_ok").select("doc_id"), "doc_id"),
            )
            clusters = neardup_layers(filtered, ctx.cfg, spans)
            kept = persist_layer(
                spans, "plans.pipeline",
                lambda: filtered.join(
                    clusters.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id"),
                    "doc_id",
                ),
            )
            ranges, deduped = exactsubstr_layers(kept, ctx.cfg, spans)
            with spans.span("plans.pipeline"):
                counts = {
                    "input_docs": docs.count(),
                    "policy_kept": filtered.count(),
                    "neardup_kept": kept.count(),
                    "remove_ranges": ranges.count(),
                    "final_docs": deduped.count(),
                }
                rows = deduped.select("doc_id", F.md5("deduped")).collect()
        self._check(ctx, counts, rows)


class DedupDistributed(Workload):
    """neardup_clusters then exactsubstr_dedup with every driver guard at 0."""

    name = "dedup-distributed"
    n_docs, words_lo, words_hi = 120, 150, 400
    distributed = True

    def setup(self, ctx: Ctx, spans=None) -> None:
        load_docs(ctx)

    def reference(self, ctx: Ctx) -> None:
        """The same corpus at default placement must reproduce the digest
        the guards-off rounds pinned."""
        set_placement(ctx, distributed=False)
        self.round(ctx)
        set_placement(ctx, distributed=True)

    def _check(self, ctx: Ctx, clusters, ranges, deduped) -> None:
        check_clusters(ctx, clusters)
        check_runs_removed(ctx, ranges)
        pin_digest(ctx, "dedup", rows_digest(clusters) + rows_digest(ranges) + rows_digest(deduped))

    def round(self, ctx: Ctx) -> dict[str, float]:
        t0 = time.perf_counter()
        with cache_scope():
            clusters = neardup_clusters(ctx.docs, ctx.cfg)
            cl = clusters.select("doc_id", "cluster_id").collect()
            t1 = time.perf_counter()
            ranges, deduped = exactsubstr_dedup(ctx.docs, ctx.cfg)
            rr = ranges.select("start", "end").collect()
            dd = deduped.select("doc_id", F.md5("deduped")).collect()
        t2 = time.perf_counter()
        self._check(ctx, cl, rr, dd)
        return {"neardup": t1 - t0, "exactsubstr": t2 - t1}

    def traced_round(self, ctx: Ctx, spans) -> None:
        with cache_scope():
            clusters = neardup_layers(ctx.docs, ctx.cfg, spans)
            ranges, deduped = exactsubstr_layers(ctx.docs, ctx.cfg, spans)
            with spans.span("plans.pipeline"):
                cl = clusters.collect()
                rr = ranges.select("start", "end").collect()
                dd = deduped.select("doc_id", F.md5("deduped")).collect()
        self._check(ctx, cl, rr, dd)


class IndexLookup(Workload):
    """Build and write the suffix index once per set-up, then one closed-loop
    client alternates a count batch and a match call."""

    name = "index-lookup"
    n_docs, words_lo, words_hi = 500, 300, 800
    # every lookup is one task per shard: whole waves of tasks keep a call
    # from waiting on one straggler shard
    shards_per_core = 2
    COUNT_QUERIES = 200
    MATCH_QUERIES = 48
    TAIL = 8  # bytes of b"Q" (absent from the text) closing each match query

    def setup(self, ctx: Ctx, spans=None) -> None:
        docs = load_docs(ctx)
        path = os.path.join(ctx.out_dir, "suffix_index")
        if spans is None:
            write_suffix_index(build_suffix_index(docs, ctx.cfg.exact), path)
        else:
            with cache_scope():
                with spans.span("corpus.offsets") as rec:
                    d = scoped_persist(with_offsets(docs, ctx.cfg.exact.with_separators))
                    total = corpus_total_bytes(d)
                    rec["rows"] = d.count()
                with spans.span("sa_index.build") as rec:
                    index = scoped_persist(build_suffix_index(d, ctx.cfg.exact, total))
                    rec["rows"] = index.count()
                    write_suffix_index(index, path)
        ctx.state["index"] = read_suffix_index(ctx.spark, path)

    def _queries(self, ctx: Ctx) -> None:
        """Seeded queries and their expected answers, computed in Python
        from the corpus bytes."""
        rng = random.Random(f"{ctx.seed}-queries")
        data = ctx.corpus_bytes
        texts = [t.encode() for t in ctx.corpus.texts]
        runs = [r.encode() for r in ctx.corpus.runs]

        # fixed lengths keep the lookup cost of a round independent of the seed
        def substring(n: int) -> bytes:
            t = texts[rng.randrange(len(texts))]
            at = rng.randrange(len(t) - n + 1)
            return t[at : at + n]

        count_q = []
        for qid in range(self.COUNT_QUERIES):
            if qid % 10 == 0 and runs:
                q = runs[rng.randrange(len(runs))][:64]
            else:
                q = substring(64)
            if qid % 2:  # absent: one byte that never occurs in the text
                i = rng.randrange(len(q))
                q = q[:i] + b"Q" + q[i + 1 :]
            count_q.append((qid, q))
        expected_counts = {}
        for qid, q in count_q:
            n, at = 0, data.find(q)
            while at != -1:
                n, at = n + 1, data.find(q, at + 1)
            expected_counts[qid] = n
        q_run = max(k for k in range(self.TAIL + 1) if b"Q" * k in data)
        match_q, expected_match = [], {}
        for qid in range(self.MATCH_QUERIES):
            s = substring(200)
            match_q.append((qid, s + b"Q" * self.TAIL))
            for p in range(len(s) + self.TAIL):
                expected_match[(qid, p)] = len(s) - p if p < len(s) else min(
                    q_run, len(s) + self.TAIL - p
                )
        ctx.state.update(
            count_q=count_q, expected_counts=expected_counts,
            match_q=match_q, expected_match=expected_match,
        )

    def warmup(self, ctx: Ctx) -> None:
        self._queries(ctx)
        for _ in range(3):  # calls keep getting faster over the first few
            self.round(ctx)

    def _count(self, ctx: Ctx):
        rows = count_occurrences_indexed(ctx.state["index"], ctx.state["count_q"]).select(
            "query_id", "count"
        ).collect()
        expect({int(q): int(c) for q, c in rows} == ctx.state["expected_counts"], "counts")
        return rows

    def _match(self, ctx: Ctx):
        rows = find_training_data_indexed(ctx.state["index"], ctx.state["match_q"]).collect()
        got = {(int(r["query_id"]), int(r["qpos"])): int(r["match_len"]) for r in rows}
        expect(got == ctx.state["expected_match"], "match lengths")
        return rows

    def round(self, ctx: Ctx) -> dict[str, float]:
        t0 = time.perf_counter()
        self._count(ctx)
        t1 = time.perf_counter()
        self._match(ctx)
        return {"count": t1 - t0, "match": time.perf_counter() - t1}

    def traced_round(self, ctx: Ctx, spans) -> None:
        with spans.span("sa_index.count") as rec:
            rec["rows"] = len(self._count(ctx))
        with spans.span("sa_index.match") as rec:
            rec["rows"] = len(self._match(ctx))


WORKLOADS = {w.name: w for w in (Pipeline, DedupDistributed, IndexLookup)}
