"""End-to-end and per-layer benchmark of the dedup engine.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 8 --trace 0

Run from the repository root. One run starts one Spark driver
(``local[4]``, event log on), generates the workload's corpus from
``--seed``, times the set-up several times, warms up, then runs measured
rounds until ``--seconds`` have passed (at least one). Every round checks
its outputs. Human-readable ``#`` lines come first; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``.

With ``--trace 1`` every untraced round is followed by a traced round: the
same work composed layer by layer, each layer in a span whose name becomes
the Spark job group, so the event log rolls up by layer. The traced total
is reported against the untraced round wall (``trace.overhead_s``).

Without the engine package next to this directory the run exits with
code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("pipeline", "dedup-distributed", "index-lookup")
HEAP = "4g"
SETUP_REPS = 3
# stop starting rounds this long after process start, whatever --seconds
# says, so one run stays well inside three minutes
HARD_STOP_S = 120
LAYER_FIELDS = (
    ("wall_s", "s"),
    ("core_s", "s"),
    ("shuffle_w_mb", "MB"),
    ("py_sent_mb", "MB"),
    ("py_recv_mb", "MB"),
    ("driver_result_mb", "MB"),
    ("rows_out", "count"),
)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def supported_percentile(xs):
    """The highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    it, as (p, value), or None."""
    best = None
    for p in (50, 75, 90, 95, 99):
        if len(xs) * (100 - p) / 100 >= 10:
            best = (p, statistics.quantiles(xs, n=100)[p - 1])
    return best


def start_spark(work: str, cores: int):
    from deduplicate_text_datasets_spark.session import get_spark

    events = os.path.join(work, "events")
    os.makedirs(events)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    extra = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    return get_spark("perfbench", master=f"local[{cores}]", extra=extra), events


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and its descendants (the
    Spark JVM, the Python daemon and workers), including reaped children."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we looked
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def host_info(spark) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": os.cpu_count(),
        "affinity": sorted(os.sched_getaffinity(0)),
        "master": sc.master,
        "jvm_heap": sc.getConf().get("spark.driver.memory"),
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def layer_metrics(traced, groups, untraced_walls) -> dict[str, tuple[float, str]]:
    """Per-layer metrics: medians over traced rounds of each layer's self
    wall and its event-log roll-up."""
    from workloads import LAYERS

    per: dict[str, dict[str, list]] = {}
    totals, unattributed = [], []
    for wall, spans in traced:
        seen: dict[str, dict[str, float]] = {}
        top = 0.0
        for rec in spans.records:
            g = seen.setdefault(rec["name"], {"wall_s": 0.0, "rows_out": 0, "probes": 0})
            g["wall_s"] += rec["self_s"]
            g["rows_out"] += rec.get("rows", 0)
            g["probes"] += 1
            top += rec["wall_s"] if rec["parent"] is None else 0.0
        for name, g in seen.items():
            ev = groups.get(spans.prefix + name, {})
            g.update(
                core_s=ev.get("core_s", 0.0),
                shuffle_w_mb=ev.get("shuffle_w_mb", 0.0),
                py_sent_mb=ev.get("py_sent_mb", 0.0),
                py_recv_mb=ev.get("py_recv_mb", 0.0),
                driver_result_mb=ev.get("result_mb", 0.0),
            )
            for k, v in g.items():
                per.setdefault(name, {}).setdefault(k, []).append(v)
        if wall is not None:
            totals.append(wall)
            unattributed.append(wall - top)

    def m(layer, field):
        return median(per.get(layer, {}).get(field, []))

    out = {}
    for layer in LAYERS:
        for field, unit in LAYER_FIELDS:
            out[f"{layer}.{field}"] = (m(layer, field), unit)
    out["caching.probe.probes"] = (m("caching.probe", "probes"), "count")
    out["caching.probe.pulled_mb"] = (m("caching.probe", "driver_result_mb"), "MB")
    out["caching.probe.wall_s"] = (m("caching.probe", "wall_s"), "s")
    cand, edges = m("minhash.candidates", "rows_out"), m("minhash.verify", "rows_out")
    out["minhash.verify.verify_yield"] = (edges / cand if cand else 0.0, "ratio")
    wins, dups = m("suffix.fingerprints", "rows_out"), m("suffix.self_similar", "rows_out")
    out["suffix.self_similar.dup_yield"] = (dups / wins if wins else 0.0, "ratio")
    total, untraced = median(totals), median(untraced_walls)
    out["trace.total_s"] = (total, "s")
    out["trace.untraced_wall_s"] = (untraced, "s")
    out["trace.overhead_s"] = (total - untraced, "s")
    out["trace.unattributed_s"] = (median(unattributed), "s")
    out["trace.spill_mb"] = (sum(g.get("spill_mb", 0.0) for g in groups.values()), "MB")
    return out


def placement_failures(traced, groups) -> list[str]:
    """Distributed layers of a traced round that wrote (next to) no
    shuffle bytes, i.e. ran on the driver."""
    from workloads import DISTRIBUTED_LAYERS, MIN_SHUFFLE_MB

    bad = []
    for _, spans in traced:
        names = {r["name"] for r in spans.records}
        for layer in DISTRIBUTED_LAYERS:
            shuffled = groups.get(spans.prefix + layer, {}).get("shuffle_w_mb", 0)
            if layer in names and shuffled <= MIN_SHUFFLE_MB:
                bad.append(spans.prefix + layer)
    return bad


def run(args) -> int:
    t_process = time.perf_counter()
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    sys.path.insert(0, ROOT)
    try:
        import deduplicate_text_datasets_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not found next to {HERE}: {exc}", file=sys.stderr)
        return 2
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    import corpus_gen
    import eventlog
    from spans import Spans, job_group
    from workloads import CORES, WORKLOADS, Ctx, probe_spans, set_placement

    wl = WORKLOADS[args.workload]()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(HERE, "_out", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    phases: dict[str, float] = {}

    def mark(name: str) -> None:
        phases[name] = round(time.perf_counter() - t_process, 2)

    mark("imported")
    t0 = time.perf_counter()
    corpus = corpus_gen.generate(args.seed, wl.n_docs, wl.words_lo, wl.words_hi)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark, events = start_spark(work, CORES)
    session_s = time.perf_counter() - t0
    mark("session")
    sc = spark.sparkContext
    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    rounds, traced, errors = [], [], []
    try:
        report["host"] = host_info(spark)
        ctx = Ctx(spark, corpus, args.seed, work, shards_per_core=wl.shards_per_core)
        setup_s = []
        for rep in range(SETUP_REPS):
            spans = Spans(sc, "t0/") if args.trace and rep == SETUP_REPS - 1 else None
            with job_group(sc, f"setup-{rep}"), probe_spans(spans):
                t0 = time.perf_counter()
                wl.setup(ctx, spans)
                setup_s.append(time.perf_counter() - t0)
            if spans is not None:
                traced.append((None, spans))
        mark("setup")
        with job_group(sc, "warmup"):
            wl.warmup(ctx)
        mark("warmup")
        set_placement(ctx, wl.distributed)

        t_measure = time.perf_counter()
        i = 0
        while True:
            i += 1
            with job_group(sc, f"round-{i}"):
                try:
                    c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
                    ops = wl.round(ctx)
                    wall = time.perf_counter() - t0
                    rounds.append((i, wall, tree_cpu_s(os.getpid()) - c0, ops))
                except Exception:  # count the failed round, keep measuring
                    errors.append(traceback.format_exc())
            if args.trace:
                spans = Spans(sc, f"t{i}/")
                try:
                    t0 = time.perf_counter()
                    with probe_spans(spans):
                        wl.traced_round(ctx, spans)
                    traced.append((time.perf_counter() - t0, spans))
                except Exception:
                    errors.append(traceback.format_exc())
            now = time.perf_counter()
            if now - t_measure >= args.seconds or now - t_process >= HARD_STOP_S:
                break
        measured_s = time.perf_counter() - t_measure
        mark("measured")
        if args.trace:
            with job_group(sc, "reference"):
                try:
                    wl.reference(ctx)
                except Exception:
                    errors.append(traceback.format_exc())
    finally:
        jvm = getattr(sc._gateway, "proc", None)  # the JVM this run launched
        spark.stop()
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits when its stdin closes
            jvm.wait(timeout=60)
    mark("stopped")
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    (log,) = [os.path.join(events, f) for f in os.listdir(events)]
    groups = eventlog.rollup(log)
    shutil.rmtree(work, ignore_errors=True)
    mark("parsed")
    for e in errors:
        print(e, file=sys.stderr)

    # rounds, plus in traced runs the traced rounds and the reference check
    attempted = 2 * i + 1 if args.trace else i
    failed = len(errors)
    walls = [w for _, w, _, _ in rounds]
    per_round = [groups.get(f"round-{n}", {}) for n, _, _, _ in rounds]
    correct = failed == 0 and bool(rounds)
    if args.trace:
        metrics = layer_metrics(traced, groups, walls)
        if wl.distributed:
            bad = placement_failures(traced, groups)
            if bad or not traced:
                print(f"perfbench: PLACEMENT CHECK FAILED, no shuffle in {bad}", file=sys.stderr)
                correct = False
    else:
        metrics = {
            "setup_s": (median(setup_s), "s"),
            "wall_s": (median(walls), "s"),
            "cpu_s": (median([c for _, _, c, _ in rounds]), "s"),
            "task_core_s": (median([g.get("core_s", 0.0) for g in per_round]), "s"),
            "shuffle_mb": (median([g.get("shuffle_w_mb", 0.0) for g in per_round]), "MB"),
            "driver_peak_rss_mb": (rss_mb, "MB"),
        }

    corpus_mb = corpus.n_bytes / 1e6
    op_times: dict[str, list[float]] = {}
    for _, _, _, ops in rounds:
        for k, v in ops.items():
            op_times.setdefault(k, []).append(v)
    report.update(
        corpus={
            "docs": len(corpus.texts),
            "mb": round(corpus_mb, 4),
            "roles": corpus.role_counts(),
            "policy_kept_share": 1 - corpus.role_counts().get("foreign", 0) / len(corpus.texts),
            "generate_s": round(gen_s, 3),
        },
        session_start_s=round(session_s, 3),
        phases_s=phases,
        setup_s=[round(x, 4) for x in setup_s],
        rounds=len(rounds),
        measured_s=round(measured_s, 2),
        round_wall_s=[round(w, 4) for w in walls],
        corpus_mb_per_s=round(corpus_mb / median(walls), 4) if walls else None,
        op_p50_ms={k: round(1e3 * median(v), 2) for k, v in op_times.items()},
        op_tail_ms={k: supported_percentile(v) for k, v in op_times.items()},
        failed_frac=failed / attempted if attempted else 1.0,
        run_totals=eventlog.sum_groups(groups),
    )
    for k, v in report.items():
        print(f"# {k}: {json.dumps(v)}")
    for k, (v, unit) in metrics.items():
        print(f"# metric {k} = {v:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
