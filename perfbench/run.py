"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Run from the repository root. The command generates (or reuses a verified
cache of) the seed's inputs outside every timed number, drives the program
through its public functions on ``local[nproc]``, checks every output
against the oracle, and prints a metric table followed by ONE JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (no spans installed);
``--trace 1`` reports the per-layer metrics from spans wrapped around the
program's public calls, and writes the spans to ``perfbench/.work/spans/``.
A correctness mismatch makes the command exit 1 after printing the result.
See perfbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent

#: end-to-end metrics (untraced run) and their units
E2E_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "freshness_s_p50": "s",
    "cpu_s_per_kpage": "s",
    "peak_rss_mb": "MB",
    "sink_bytes_per_page": "B/page",
}


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def e2e_metrics(run, peak_rss_mb: float) -> dict[str, float]:
    untraced = [s for s, t in zip(run.unit_s, run.unit_traced) if not t]
    return {
        "setup_s": _med(run.setup_s),
        "run_s": _med(untraced),
        "freshness_s_p50": _med(run.fresh_s),
        "cpu_s_per_kpage": run.cpu.total / (run.pages_done / 1000.0),
        "peak_rss_mb": peak_rss_mb,
        "sink_bytes_per_page": run.sink_bytes_per_page,
    }


def layer_metrics(run) -> dict[str, tuple[float, str]]:
    """Per-layer numbers from the traced run's spans, counts and ladder."""
    from spans import self_times, slope

    tr = run.tracer
    st = self_times(tr.spans)
    by_id = {s.id: s for s in tr.spans}

    def under(s, prefix: str) -> bool:
        while s.parent is not None:
            s = by_id[s.parent]
            if s.name.startswith(prefix):
                return True
        return False

    # calls made inside the timed units (never the warm-up or set-up); the
    # ladder's are reported on their own
    spans = [s for s in tr.spans if under(s, "unit")]

    def named(name):
        return [s for s in spans if s.name == name]

    def durs(name):
        return [s.dur for s in named(name)]

    setups = tr.named("setup")
    add_files_per_setup = [
        sum(c.dur for c in tr.spans if c.name == "tableio.add_files"
            and s.start <= c.start and c.end <= s.end) for s in setups]

    def batches_under(c):
        return [k.dur for k in tr.children(c) if k.name == "pipeline.process_batch"]

    cursors = named("checkpoint.run_incremental")
    cursor_over = [c.dur - sum(batches_under(c)) for c in cursors]
    cursor_batches = [len(batches_under(c)) for c in cursors]
    drain = [s for s in tr.named("stream.run_streaming") if under(s, "ladder.")][-1]
    micro = batches_under(drain)
    cli_self = [st[s.id] for s in named("cli.main")]
    tick_self = [st[u.id] for u in tr.named("unit")
                 if not any(k.name == "cli.main" for k in tr.children(u))]
    wa = named("pipeline.write_aggregates")
    grow = tr.named("ladder.aggregates")[-1]
    wa_fit = [(s.attrs["routed_rows"] / 1e6, s.dur) for s in tr.spans
              if s.name == "pipeline.write_aggregates" and s.parent == grow.id]
    traced_runs = [s for s, t in zip(run.unit_s, run.unit_traced) if t]
    plain_runs = [s for s, t in zip(run.unit_s, run.unit_traced) if not t]

    lad, mp = run.ladder, run.ladder["pages"] / 1e6
    step = {k: v[0] for k, v in lad.items() if k != "pages"}
    cpu = {k: v[1] for k, v in lad.items() if k != "pages"}
    kept = {c: _med(v) for c, v in run.kept.items()}
    plan = _med([x for v in run.plan.values() for x in v])

    m = {
        "session.start_s": (_med(s.dur for s in tr.named("session.start")), "s"),
        "tableio.add_files_s": (_med(add_files_per_setup), "s"),
        "tableio.analyze_s_p50": (_med(durs("tableio.analyze")), "s"),
        "tableio.analyze_files": (_med(s.attrs.get("files", 0)
                                       for s in named("tableio.analyze")), "count"),
        "tableio.routed_files_per_batch": (run.routed_files_per_batch, "count"),
        "tableio.manifest_kb": (run.manifest_kb, "KB"),
        "tableio.plan_s_p50": (plan, "s"),
        "tableio.kept_ratio.hot": (kept["hot"], "ratio"),
        "tableio.kept_ratio.rare": (kept["rare"], "ratio"),
        "tableio.kept_ratio.absent": (kept["absent"], "ratio"),
        "lookup_hot_s_p50": (_med(run.lookups["hot"]), "s"),
        "lookup_rare_s_p50": (_med(run.lookups["rare"]), "s"),
        "tableio.scan_s_p50.hot": (_med(run.lookups["hot"]) - _med(run.plan["hot"]), "s"),
        "tableio.scan_s_p50.rare": (_med(run.lookups["rare"]) - _med(run.plan["rare"]), "s"),
        "producer.late_s_max": (max(run.producer_late_s), "s"),
        "producer.append_s_p50": (_med(run.producer_append_s), "s"),
        "ladder.scan_s_per_mpage": (step["scan"] / mp, "s"),
        "parse.s_per_mpage": ((step["parse"] - step["scan"]) / mp, "s"),
        "parse.py_cpu_s_per_mpage": ((cpu["parse"].python - cpu["scan"].python) / mp, "s"),
        "parse.jvm_cpu_s_per_mpage": ((cpu["parse"].java - cpu["scan"].java) / mp, "s"),
        "enrich.s_per_mpage": ((step["enrich"] - step["parse"]) / mp, "s"),
        "route.s_per_mpage": ((step["route"] - step["enrich"]) / mp, "s"),
        "pipeline.sink_write_s_per_mpage": ((step["process_batch"] - step["route"]) / mp, "s"),
        # pages of one unit over the median unit wall: run_s restated
        "throughput.pages_per_s": (run.pages_done / len(run.unit_s) / _med(run.unit_s),
                                   "pages/s"),
        "pipeline.process_batch_s_p50": (_med(durs("pipeline.process_batch")), "s"),
        "pipeline.process_batch_cpu_s_p50": (_med(s.attrs.get("meter", 0.0) for s in
                                                  named("pipeline.process_batch")), "s"),
        "pipeline.write_aggregates_s_p50": (_med(s.dur for s in wa), "s"),
        "pipeline.write_aggregates_s_per_mrow": (slope(wa_fit), "s"),
        "pipeline.write_aggregates_fit_n": (len(wa_fit), "count"),
        "pipeline.summary_s_p50": (_med(durs("pipeline.summary")), "s"),
        "checkpoint.overhead_s_p50": (_med(cursor_over), "s"),
        "checkpoint.batches_per_call": (_med(cursor_batches), "count"),
        "stream.drain_s_per_mpage": (step["stream"] / mp, "s"),
        "stream.microbatches": (len(micro), "count"),
        "stream.microbatch_s_p50": (_med(micro), "s"),
        "stream.overhead_s": (drain.dur - sum(micro), "s"),
        "cli.self_s": (_med(cli_self), "s"),
        "tick.self_s": (_med(tick_self), "s"),
        "jvm.gc_s": (run.gc_s, "s"),
        "host.steal_pct": (run.cpu.steal_pct(), "%"),
        "job.jvm_cpu_share": (run.cpu.java / max(1e-9, run.cpu.total), "ratio"),
        "tracing.overhead_pct": (100.0 * (_med(traced_runs) / _med(plain_runs) - 1.0)
                                 if traced_runs and plain_runs else 0.0, "%"),
        "backlog_end": (run.backlog_end, "snapshots"),
        "freshness.samples": (len(run.fresh_s), "count"),
        "failed_ops_ratio": (run.failed / max(1, run.attempted), "ratio"),
    }
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply every corpus size (self-tests use a tiny one)")
    args = ap.parse_args(argv)

    if not (REPO / "access_log_aggregator_spark").is_dir() or not (REPO / "bench.py").is_file():
        print(f"perfbench: no program to measure under {REPO} "
              "(run from a full checkout)", file=sys.stderr)
        return 2
    work = HERE / ".work"
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # workers import the package; temp files and Spark scratch stay inside
    # the checkout
    sys.path.insert(0, str(REPO))
    nproc = len(os.sched_getaffinity(0))
    # read by the package at import time and by every get_spark call that
    # names no master, cli.main's included: without them a CLI run on the
    # benchmark's live session resets it to the package defaults
    os.environ["SPARK_GRAFT_MASTER"] = f"local[{nproc}]"
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")

    import probes
    import workloads as W
    from spans import Tracer

    if args.workload not in W.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(W.WORKLOADS)}")
    run_id = f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}"
    run = W.Run(workload=args.workload, seed=args.seed, seconds=args.seconds,
                work=work, nproc=nproc, tracer=Tracer(run_id, enabled=bool(args.trace)),
                traced=bool(args.trace), scale=args.scale)
    prepare, execute = W.WORKLOADS[args.workload]
    t0 = time.time()
    run.phase("start")
    # every path out, SIGTERM included, stops the JVM (whose Python workers
    # this process then adopts) and waits for every process the run started
    probes.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        inputs = prepare(run)
        t1 = time.time()
        run.phase("inputs")
        with probes.PeakRss() as rss:
            execute(run, inputs)
    finally:
        try:
            probes.stop_jvm()
            run.phase("jvm_exit")
        finally:
            probes.stop_children()
            run.phase("children_exit")
    total_s = time.time() - t0

    if args.trace:
        layer = layer_metrics(run)
        spans_path = work / "spans" / f"{run_id}.jsonl"
        run.tracer.dump(spans_path)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e_metrics(run, rss.peak_mb).items()}

    print(f"# {args.workload} seed={args.seed} trace={args.trace} nproc={nproc} "
          f"wall={total_s:.1f}s inputs={t1 - t0:.1f}s units={len(run.unit_s)} "
          f"freshness samples={len(run.fresh_s)} "
          f"lookups/class={len(run.lookups.get('hot', []))} "
          f"setups={len(run.setup_s)}")
    print(f"# job cpu {run.cpu.total:.1f}s (jvm {run.cpu.java:.1f}s, python "
          f"{run.cpu.python:.1f}s) gc {run.gc_s:.2f}s steal "
          f"{run.cpu.steal_pct():.2f}% units {[round(u, 3) for u in run.unit_s]}")
    print("# phases " + " ".join(f"{n}={b - a:.1f}s" for (_, a), (n, b)
                                 in zip(run.phases, run.phases[1:])))
    print(f"# setups {[round(x, 3) for x in run.setup_s]}")
    print("# lookups " + " ".join(
        f"{c}={[round(x, 3) for x in v]}" for c, v in run.lookups.items()))
    for k, m in metrics.items():
        print(f"{k:40s} {m['value']:14.6g} {m['unit']}")
    for e in run.errors:
        print(f"# FAILED: {e}")
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report, never print a result
        traceback.print_exc()
        sys.exit(3)
