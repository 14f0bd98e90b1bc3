"""End-to-end pipelines: NearDup clustering (flagship) and ExactSubstr
dedup — the two halves of Lee et al. 2021, composed from the operator
modules. Optionally checkpointed stage-by-stage (StageStore) so any stage
resumes mid-run (north_rule).

Cache lifetime contract: operators persist() intermediates that feed two
consumers (shingles, the ExactSubstr shard layout, LSH buckets, and
prepare_training_data's policy flags) through
``plans.caching.scoped_persist``. Wrap pipeline construction AND the
consuming actions in ``plans.caching.cache_scope()`` and every such frame
is unpersisted at scope exit — the supported pattern for long-lived
sessions invoking pipelines repeatedly on changing inputs. Outside a
scope the frames stay registered until the session ends (callers may
``spark.catalog.clearCache()`` between invocations — bench.py's scaling
legs do exactly this). Eager unpersist inside the operators would
invalidate the frames before the caller has consumed the returned lazy
DataFrames, hence the scope, not per-operator cleanup.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..operators.connected_components import connected_components
from ..operators.exact import exact_duplicate_edges
from ..operators.intervals import coalesce_positions
from ..operators.minhash import near_duplicate_edges
from ..operators.strike import apply_removals
from ..operators.suffix import self_similar
from ..sources.corpus import corpus_total_bytes, with_offsets
from .checkpoints import StageStore, config_fingerprint


# Not a duplicate of connected_components' own driver path: with this twin
# removed (CC's driver path taking over), the `pipeline` benchmark workload
# was slower in 8 of 8 interleaved pairs on 4 cores — wall_s median
# 7.62 -> 8.23 s, cpu_s +8%, shuffle_mb +7%.
def _driver_neardup_assign(docs, mh):
    """Driver twin of the neardup edge-union + CC stage, or None when any
    fast-path ingredient is missing. MinHash edges must already be
    driver-resident (the verify driver path); exact-dup edges come from
    one bounded pull of the (doc_id, md5) projection; components from the
    CC module's numpy kernel (same min-label contract as the star
    rounds)."""
    import numpy as np
    import pandas as pd

    from ..operators.connected_components import _driver_components
    from .caching import driver_guard, local_frame, probe, resident

    mh_pdf = resident(mh)
    if mh_pdf is None:
        return None
    hp = probe(
        "neardup.assign",
        docs.select("doc_id", F.md5("text").alias("h")),
        driver_guard("cc"),
    )
    if hp is None:
        return None
    # exact_duplicate_edges twin: per md5 group, (min doc_id, member) for
    # every non-min member
    gmin = hp.groupby("h")["doc_id"].transform("min")
    mask = hp["doc_id"] != gmin
    u = np.concatenate(
        [mh_pdf["a"].to_numpy(np.int64), gmin[mask].to_numpy(np.int64)]
    )
    v = np.concatenate(
        [mh_pdf["b"].to_numpy(np.int64), hp["doc_id"][mask].to_numpy(np.int64)]
    )
    if len(u) == 0:
        assign_pdf = pd.DataFrame(
            {"node": np.empty(0, np.int64), "component": np.empty(0, np.int64)}
        )
    else:
        assign_pdf = _driver_components(pd.DataFrame({"u": u, "v": v}))
    # broadcast hint: the assignment is a guard-bounded local relation, so
    # the final docs join must not plan a docs-side exchange (the static
    # plan otherwise picks SMJ and AQE may materialize that exchange
    # before re-planning)
    return F.broadcast(
        local_frame(docs.sparkSession, assign_pdf, "node long, component long")
    )


def neardup_clusters(
    docs: DataFrame,
    cfg: EngineConfig,
    store: StageStore | None = None,
) -> DataFrame:
    """NearDup flagship: documents -> clusters(doc_id, url, cluster_id,
    is_duplicate, keep).

    exact-dup edges ∪ verified MinHash edges -> connected components;
    cluster_id = min member doc_id; keep = cluster minimum (the released
    reference CSVs carry exactly (id, deleted, cluster) — README.md:367-376).
    """

    assign = None
    mh_frame = None
    if store is None:
        # Driver CC fast path: when the MinHash edge set came out of the
        # driver verify path (a driver-resident pandas frame), the exact-dup
        # edges reduce to one bounded pull of the (doc_id, md5) projection
        # and the component assignment is one numpy pass — the edge union,
        # CC's own probe and the md5 groupBy/join-back all collapse. The
        # assignment is identical (same edge set into the same
        # min-label CC; pinned by test). With a StageStore, or when the
        # edges are not resident or over a guard, the distributed graph runs
        # below, reusing the SAME mh frame (no double construction).
        mh_frame = near_duplicate_edges(docs, cfg.minhash)
        assign = _driver_neardup_assign(docs, mh_frame)
    if assign is None:

        def build_edges() -> DataFrame:
            mh_f = (
                mh_frame
                if mh_frame is not None
                else near_duplicate_edges(docs, cfg.minhash)
            )
            mh = mh_f.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            ex = exact_duplicate_edges(docs)
            # no .distinct() here (round-6): connected_components
            # canonicalizes and dedups its input either way — the extra
            # exchange bought nothing (assignments are identical under
            # duplicate edges)
            return mh.unionByName(ex)

        edges = (
            store.stage("neardup_edges", build_edges)
            if store
            else build_edges()
        )

        def build_assign() -> DataFrame:
            # nodes= is deliberately NOT passed (round-6): the left join +
            # coalesce(component, doc_id) below already assigns every
            # docless singleton to itself — passing nodes made CC distinct
            # + join the full doc-id frame for an identical final result
            return connected_components(edges)

        assign = (
            store.stage(
                "neardup_components", build_assign, upstream=["neardup_edges"]
            )
            if store
            else build_assign()
        )
    out = (
        docs.select("doc_id", "url")
        .join(assign, docs["doc_id"] == assign["node"], "left")
        .select(
            "doc_id",
            "url",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
        .withColumn("is_duplicate", F.col("cluster_id") != F.col("doc_id"))
        .withColumn("keep", F.col("cluster_id") == F.col("doc_id"))
    )
    return out


def exactsubstr_dedup(
    docs: DataFrame,
    cfg: EngineConfig,
    store: StageStore | None = None,
) -> tuple[DataFrame, DataFrame]:
    """ExactSubstr pipeline (run_pipeline.sh equivalent): documents ->
    (remove_ranges(start, end), deduped(doc_id, url, deduped)).
    One Spark job graph: offsets -> overlap shards -> window fingerprints ->
    global cluster groupBy -> coalesce -> interval join -> strike.
    """
    from .caching import scoped_persist

    d = scoped_persist(with_offsets(docs, cfg.exact.with_separators))
    total = corpus_total_bytes(d)

    def build_dups() -> DataFrame:
        # not persisted (round-6): coalesce_positions persists its (narrow)
        # input internally before probing/sampling, so the fingerprint
        # kernels run once either way — a second cache layer here only
        # duplicated the write
        return self_similar(d, cfg.exact, total)

    dups = store.stage("exactsubstr_dups", build_dups) if store else build_dups()

    def build_ranges() -> DataFrame:
        # persisted: ranges is tiny but feeds the caller AND the strike
        # stage (interval join + anti-join) — unpersisted, every consumer
        # re-executed the coalesce chain from the dup-position exchange up
        return scoped_persist(
            coalesce_positions(dups, cfg.exact.length_threshold)
        )

    ranges = (
        store.stage("remove_ranges", build_ranges, upstream=["exactsubstr_dups"])
        if store
        else build_ranges()
    )
    deduped = apply_removals(d, ranges, cfg.exact)
    return ranges, deduped


def make_store(spark, base_dir: str, cfg: EngineConfig) -> StageStore:
    return StageStore(spark, base_dir, fingerprint=config_fingerprint(cfg))


class AcrossDedupResult:
    """Both sides of the cross-corpus pipeline. Every side is lazy — an
    unconsumed side costs nothing (the shared fingerprint frames are
    persisted once and feed whichever sides the caller materializes).

    Fields may be passed as values or as 0-arg thunks; thunks are invoked
    (and memoized) on first attribute access. The thunk form is what keeps
    the laziness contract now that coalesce_positions may run a bounded
    size probe when its plan is CONSTRUCTED (intervals.py driver-merge
    fast path): building e.g. ranges_a is deferred until someone reads it.
    """

    _FIELDS = (
        "dups_a", "ranges_a", "deduped_a", "dups_b", "ranges_b", "deduped_b",
    )

    def __init__(self, dups_a, ranges_a, deduped_a, dups_b, ranges_b, deduped_b):
        self._v = [dups_a, ranges_a, deduped_a, dups_b, ranges_b, deduped_b]

    def __getattr__(self, name):
        try:
            i = self._FIELDS.index(name)
        except ValueError:
            raise AttributeError(name) from None
        v = self._v[i]
        if callable(v):
            v = self._v[i] = v()
        return v

    # DEPRECATED legacy 3-tuple unpack: (dups_a, ranges_a, deduped_a).
    # list(res)/tuple(res) silently drop the B side — use the named fields
    # (dups_b, ranges_b, deduped_b carry the symmetric outputs). The shim
    # warns and will be removed once callers migrate.
    def __iter__(self):
        import warnings

        warnings.warn(
            "iterating AcrossDedupResult yields only the A side "
            "(dups_a, ranges_a, deduped_a); use the named fields — the "
            "3-tuple unpack shim is deprecated",
            DeprecationWarning,
            stacklevel=2,
        )
        return iter((self.dups_a, self.ranges_a, self.deduped_a))


def across_dedup(
    docs_a: DataFrame,
    docs_b: DataFrame,
    cfg: EngineConfig,
    prefilter: bool | None = None,
    prefilter_max_keys: int | None = None,
) -> AcrossDedupResult:
    """Cross-corpus contamination pipeline (README.md:324-340:
    across-similar + collect + strike — the reference runs collect/finish
    on *either* dataset, so both sides are returned symmetrically).

    dups_a are the positions of A whose length-L window also occurs in B,
    and vice versa; each side gets its own coalesced remove_ranges and
    struck documents. Unpacking as a 3-tuple still yields the A side.

    prefilter=True (the at-scale mode; env SPARK_GRAFT_ACROSS_PREFILTER):
    the production shape is wildly asymmetric — A = the 100-TB train
    corpus, B = a GB-scale eval set (the reference's wiki40b-vs-C4 runs).
    Both semi-joins only care about windows present in BOTH corpora, and
    such a window has the same minimizer key on both sides (the key
    self_similar counts in its pass 1). So:

      pass 1  the minimizer-key kernel over the smaller corpus ->
              distinct -> collect + broadcast (guarded by
              ``prefilter_max_keys``, default 2^24 = 128 MB; env
              SPARK_GRAFT_ACROSS_PREFILTER_MAX_KEYS).
      pass 2  the BIG side's fingerprint kernel runs with that set as a
              map-side filter: only windows whose minimizer key occurs in
              the small corpus ride the exchange.

    Exactness: equal windows share their minimizer key, so every true
    cross-corpus match survives on both sides (dups_b semi-joins against
    the PREFILTERED keys_a, but an A window dropped by the prefilter has
    a key absent from B and so could never match a B window); key
    collisions only ADD big-side candidates, which the exact (h1, h2)
    semi-join then discards. Above the broadcast guard the key set
    degrades to a bounded Bloom sketch instead of switching off
    (suffix._key_sketch_bc) — recall stays exact at any key count.
    """
    import os

    from ..operators.suffix import (
        SKETCH_MAX_KEYS,
        across_similar,
        window_fingerprints,
        window_keys,
    )
    from ..sources.corpus import corpus_total_bytes, with_offsets
    from .caching import scoped_persist

    if prefilter is None:
        prefilter = os.environ.get("SPARK_GRAFT_ACROSS_PREFILTER", "0") == "1"
    if prefilter_max_keys is None:
        prefilter_max_keys = int(
            os.environ.get(
                "SPARK_GRAFT_ACROSS_PREFILTER_MAX_KEYS", SKETCH_MAX_KEYS
            )
        )

    da = scoped_persist(with_offsets(docs_a, cfg.exact.with_separators))
    db = scoped_persist(with_offsets(docs_b, cfg.exact.with_separators))
    total_a = corpus_total_bytes(da)
    total_b = corpus_total_bytes(db)

    bc_a = bc_b = None  # pass-2 map-side filters for fp_a / fp_b
    if prefilter:
        from ..operators.suffix import _key_sketch_bc

        small_is_b = total_b <= total_a
        key_docs, key_total = (db, total_b) if small_is_b else (da, total_a)
        keys_df = window_keys(key_docs, cfg.exact, key_total).distinct()
        # same sketch policy as self_similar: exact set under the guard,
        # Bloom above it (recall exact — FPs only add big-side candidates
        # the exact (h1, h2) semi-join discards)
        bc = _key_sketch_bc(keys_df, prefilter_max_keys)
        if small_is_b:
            bc_a = bc
        else:
            bc_b = bc

    # each fingerprint frame feeds both the distinct-keys side and the
    # semi-join probe side — persist or the shard kernels run twice per
    # side. Co-partitioned on the window key: the distinct aggs run on the
    # cached partitioning and the two semi-joins co-locate without
    # re-exchanging either side.
    fp_a = scoped_persist(
        window_fingerprints(da, cfg.exact, total_a, bc_a).repartition("h1", "h2")
    )
    fp_b = scoped_persist(
        window_fingerprints(db, cfg.exact, total_b, bc_b).repartition("h1", "h2")
    )
    dups_a, dups_b = across_similar(fp_a, fp_b, cfg.exact)
    L = cfg.exact.length_threshold
    # ranges/deduped as memoized thunks: coalesce_positions may probe its
    # input's size at plan-construction time (intervals.py driver-merge),
    # so building a side eagerly here would materialize dup positions the
    # caller never asked for (e.g. contamination_report reads only the B
    # side; the across gate query only dups_a)
    def side(dups, docs_off):
        ranges = None

        def get_ranges():
            nonlocal ranges
            if ranges is None:
                ranges = coalesce_positions(dups, L)
            return ranges

        return get_ranges, lambda: apply_removals(docs_off, get_ranges(), cfg.exact)

    get_ranges_a, get_deduped_a = side(dups_a, da)
    get_ranges_b, get_deduped_b = side(dups_b, db)
    return AcrossDedupResult(
        dups_a, get_ranges_a, get_deduped_a, dups_b, get_ranges_b, get_deduped_b
    )


def contamination_report(
    docs_train: DataFrame,
    docs_eval: DataFrame,
    cfg: EngineConfig,
) -> DataFrame:
    """Per-eval-doc contamination scorecard vs a training corpus — the
    reference repo's headline use case (README.md:10: measuring how much
    of an eval set already sits inside the training data), every level in
    one declarative frame:

      exact_dup           content-fingerprint match in the train corpus
      near_dup_match      earliest train doc with shingle-Jaccard >=
                          cfg.minhash.jaccard_threshold (MinHash/LSH
                          across + exact verify), null if none
      contaminated_bytes  bytes of the eval doc covered by >= L-byte
                          substrings that also occur in the train corpus
                          (across_dedup B-side remove-ranges clipped to
                          the doc's text extent)
      contaminated_frac   contaminated_bytes / octet_length(text)

    One row per eval doc (zeros/nulls when clean). All three detectors
    are the gate-verified operators; this function is their composition.
    """
    from ..functions.text import doc_fingerprint
    from ..operators.intervals import interval_join
    from ..operators.minhash import near_duplicate_edges_across
    from ..plans.caching import scoped_persist

    eval_docs = scoped_persist(docs_eval)
    tf = docs_train.select(doc_fingerprint("text").alias("fingerprint")).distinct()
    exact = (
        eval_docs.select("doc_id", doc_fingerprint("text").alias("fingerprint"))
        .join(tf, "fingerprint", "left_semi")
        .select("doc_id")
        .withColumn("exact_dup", F.lit(True))
    )
    near = (
        near_duplicate_edges_across(eval_docs, docs_train, cfg.minhash)
        .groupBy("a")
        .agg(F.min("b").alias("near_dup_match"))
        .withColumnRenamed("a", "doc_id")
    )
    res = across_dedup(docs_train, eval_docs, cfg)
    # ranges_b live in B-corpus global byte coordinates; with_offsets is a
    # pure function of the doc frame, so this reconstructs the exact
    # coordinate system across_dedup used
    eval_off = with_offsets(eval_docs, cfg.exact.with_separators).select(
        "doc_id",
        "byte_start",
        "byte_end",
        F.octet_length("text").alias("text_len"),
    )
    overlaps = interval_join(res.ranges_b, eval_off).select(
        "doc_id",
        "text_len",
        (
            F.least(F.col("end"), F.col("byte_start") + F.col("text_len"))
            - F.greatest(F.col("start"), F.col("byte_start"))
        ).alias("ov"),
    )
    per_doc = overlaps.filter(F.col("ov") > 0).groupBy("doc_id").agg(
        F.sum("ov").alias("contaminated_bytes")
    )
    return (
        eval_docs.select(
            "doc_id", "url", F.octet_length("text").alias("text_len")
        )
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "url",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            "near_dup_match",
            F.coalesce("contaminated_bytes", F.lit(0)).alias(
                "contaminated_bytes"
            ),
            (
                F.coalesce("contaminated_bytes", F.lit(0))
                / F.greatest("text_len", F.lit(1))
            ).alias("contaminated_frac"),
        )
    )


@dataclass(frozen=True)
class TrainingDataResult:
    """Outputs of prepare_training_data. All frames are lazy; evaluate
    inside the caller's cache_scope."""

    kept_docs: DataFrame  # (doc_id, url, text) — final training corpus
    clusters: DataFrame  # NearDup assignment over the filtered docs
    remove_ranges: DataFrame  # ExactSubstr global byte ranges removed
    filter_flags: DataFrame  # per-doc policy flags (every input doc)
    stage_counts: DataFrame  # (stage, rows) lineage summary, one job


def prepare_training_data(
    docs: DataFrame,
    cfg: EngineConfig,
    store: StageStore | None = None,
    lang: str = "en",
    min_quality_ppm: int = 750_000,
    max_dup_ngram_ppm: int = 500_000,
) -> TrainingDataResult:
    """The full production run a reference user performs end to end
    (README.md:10 C4 context + run_pipeline.sh + the NearDup release),
    as ONE checkpointed Spark job graph:

      1. policy filter — language ID, quality score, Gopher repetition
         signals (operators/textstats), all pure Catalyst;
      2. NearDup — MinHash/LSH ∪ exact-dup edges -> connected components;
         only cluster minima survive (Lee et al. 2021 NearDup release
         semantics, README.md:367-376);
      3. ExactSubstr — suffix-window self-similar spans above
         cfg.exact.length_threshold struck out of the survivors
         (run_pipeline.sh stages 2-4 + finish_dedup strike).

    Stages checkpoint through ``store`` (per-partition lineage + counters,
    plans/checkpoints.py) so a failed run resumes mid-pipeline — the
    north_rule resumability contract; pass store=None for a fully lazy
    single-session plan. URL canonicalization and HTML text extraction
    (operators/webpages, functions/html) sit upstream of this driver when
    ingesting raw crawl pages; this driver starts at the canonical
    ``documents`` table of BASELINE.json's input_hint.

    stage_counts evaluates every stage frame once (one action) and is the
    operational check the reference does by hand with file sizes
    (make_suffix_array.py:59-86 verify loop).
    """
    from ..operators.textstats import lang_id, quality_score, repetition_stats
    from .caching import scoped_persist

    flags_plan = (
        docs.select("doc_id")
        .join(lang_id(docs).select("doc_id", "lang_pred"), "doc_id")
        .join(quality_score(docs).select("doc_id", "quality"), "doc_id")
        .join(
            repetition_stats(docs).select("doc_id", "dup_ngram_ppm"), "doc_id"
        )
        .select(
            "doc_id",
            (F.col("lang_pred") == lang).alias("lang_ok"),
            (F.col("quality") * 1_000_000 >= min_quality_ppm).alias(
                "quality_ok"
            ),
            (F.col("dup_ngram_ppm") <= max_dup_ngram_ppm).alias(
                "repetition_ok"
            ),
        )
        .withColumn(
            "policy_ok",
            F.col("lang_ok") & F.col("quality_ok") & F.col("repetition_ok"),
        )
    )

    # persisted: the flags feed the filter, and through it every action of
    # the round (LSH and md5 probes, offsets, fingerprints, stage_counts);
    # unpersisted, each one re-ran the textstats joins
    flags = (
        store.stage("policy_flags", lambda: flags_plan)
        if store
        else scoped_persist(flags_plan)
    )
    filtered = docs.join(
        flags.filter(F.col("policy_ok")).select("doc_id"), "doc_id"
    )

    clusters = neardup_clusters(filtered, cfg, store=store)
    kept = filtered.join(
        clusters.filter(F.col("keep")).select("doc_id"), "doc_id"
    )

    ranges, deduped = exactsubstr_dedup(kept, cfg, store=store)
    kept_docs = deduped.select(
        "doc_id", "url", F.col("deduped").alias("text")
    )

    def labeled_count(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"), F.count(F.lit(1)).alias("rows")
        )

    stage_counts = (
        labeled_count("input_docs", docs)
        .unionByName(labeled_count("policy_kept", filtered))
        .unionByName(labeled_count("neardup_kept", kept))
        .unionByName(labeled_count("remove_ranges", ranges))
        .unionByName(labeled_count("final_docs", kept_docs))
    )
    return TrainingDataResult(
        kept_docs=kept_docs,
        clusters=clusters,
        remove_ranges=ranges,
        filter_flags=flags,
        stage_counts=stage_counts,
    )
