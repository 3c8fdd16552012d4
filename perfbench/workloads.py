"""The workloads, driven through the program's public functions.

``backfill``       closed loop, one client: each unit is one batch CLI run
                   (``cli.main --pages-table --out --checkpoint``) over a
                   corpus of KB-scale pages registered as several snapshots.
``interval_ticks`` open loop: snapshot k of small pages is due at
                   ``t0 + k * interval`` whatever the ticks do; each tick
                   runs the CLI's sequence over a routed history much larger
                   than the batch, followed by one closed-loop round of
                   point lookups.

Every ``backfill`` unit starts a fresh Spark session (``cli.main`` stops its
session when it returns, as the process would), so each unit is preceded
by its own set-up, and the first unit, over a small corpus, is a warm-up
excluded from every metric. ``setup_s`` comes from set-ups repeated on
their own afterwards. ``interval_ticks`` sets up once; that history build
runs every call a tick makes, so it is the warm-up and every tick is timed.
The traced run ends with a noop ladder over one snapshot of the workload's
corpus, including a streaming drain (the streaming layer's only
measurement) and the aggregate cost at growing history sizes.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from decimal import Decimal
from pathlib import Path

import corpus as C
import probes
from spans import Tracer

import access_log_aggregator_spark.cli as cli
import access_log_aggregator_spark.plans.checkpoint as checkpoint
import access_log_aggregator_spark.plans.pipeline as pipeline
import access_log_aggregator_spark.session as session
import access_log_aggregator_spark.sources.tableio as tableio
import access_log_aggregator_spark.streaming.stream as stream
from access_log_aggregator_spark.sources.pages import generate_host_lookup

#: corpora at scale 1.0, as pages per snapshot (each snapshot is split over
#: ``nproc`` files) and boilerplate lines per page. Backfill: 30k KB-scale
#: pages, enough that ``process_batch`` is most of a warm CLI run, and a
#: small warm-up corpus of the same shape for the cold first CLI run. History:
#: 50k short-page rows, 50x a tick's batch. Both are bounded by the run
#: budget (see README.md).
BATCH_SNAPSHOTS = (15_000, 15_000)
WARMUP_SNAPSHOTS = (1_000,)
BATCH_LINES = (15, 40)
HISTORY_SNAPSHOTS = (50_000,)
HISTORY_LINES = (2, 6)
TICK_PAGES = 1000
TICK_LINES = (2, 6)
#: the open loop's period: a tick plus its lookup round takes 4-6 s on a
#: busy 4-core box, so the loop stays below the rate the program sustains
TICK_INTERVAL_S = 8.0
#: lookup rounds after the timed window in the traced run (backfill: the
#: only ones); an untraced run makes the one round its correctness check
#: needs, since lookup latency is a per-layer metric
LOOKUP_ROUNDS = 4
#: set-up-only repetitions per backfill run; setup_s is their median
SETUPS = 7
HEAP = "2g"


@dataclass
class Run:
    """Everything one invocation measures, before reduction to metrics."""

    workload: str
    seed: int
    seconds: float
    work: Path
    nproc: int
    tracer: Tracer
    traced: bool
    scale: float = 1.0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    setup_s: list = field(default_factory=list)
    unit_s: list = field(default_factory=list)          # timed unit walls
    unit_traced: list = field(default_factory=list)     # parallel: traced?
    fresh_s: list = field(default_factory=list)
    pages_done: int = 0
    cpu: probes.Cpu | None = None                       # summed over units
    gc_s: float = 0.0
    lookups: dict = field(default_factory=dict)         # class -> [s]
    lookup_counts: dict = field(default_factory=dict)   # class -> [rows]
    plan: dict = field(default_factory=dict)            # class -> [s]
    kept: dict = field(default_factory=dict)            # class -> ratio
    sink_bytes_per_page: float = 0.0
    producer_late_s: list = field(default_factory=list)
    producer_append_s: list = field(default_factory=list)
    backlog_end: int = 0
    ladder: dict = field(default_factory=dict)
    manifest_kb: float = 0.0
    routed_files_per_batch: float = 0.0
    phases: list = field(default_factory=list)          # (name, wall at end)

    def phase(self, name: str) -> None:
        """Mark the end of a phase of the run (printed for attribution)."""
        self.phases.append((name, probes.wall()))

    # -- correctness gate -------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def op(self) -> None:
        self.attempted += 1

    def timed_unit(self, wall_s: float, fresh_s: list | float, pages: int,
                   cpu: probes.Cpu, gc_s: float, traced: bool) -> None:
        """Book one timed unit (never the warm-up)."""
        self.unit_s.append(wall_s)
        self.unit_traced.append(traced)
        self.fresh_s.extend(fresh_s if isinstance(fresh_s, list) else [fresh_s])
        self.pages_done += pages
        self.cpu = cpu if self.cpu is None else self.cpu + cpu
        self.gc_s += gc_s


# -- session ------------------------------------------------------------------
def spark_conf(work: Path) -> dict[str, str]:
    """Session sized for a small shared box: a fixed, pre-sized heap that
    must fit the memory available now, local dirs inside the work dir."""
    avail_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    heap_gb = int(HEAP.rstrip("g"))
    if avail_kb < (heap_gb + 2) * 1024 * 1024:
        raise RuntimeError(
            f"{avail_kb // 1024} MB available; the benchmark's {HEAP} heap "
            "plus Python workers needs at least "
            f"{(heap_gb + 2) * 1024} MB")
    return {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions":
            # no hsperfdata files outside the work dir
            f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }


def start_session(run: Run):
    with run.tracer.span("session.start"):
        return session.get_spark(
            app_name=f"perfbench-{run.workload}", master=f"local[{run.nproc}]",
            shuffle_partitions=run.nproc, extra_conf=spark_conf(run.work))


def lookup_dim(spark, seed: int):
    return spark.createDataFrame(generate_host_lookup(seed=seed))


# -- tracing --------------------------------------------------------------------
def install_spans(tr: Tracer) -> None:
    """Spans around every public call into the layers the benchmark names."""
    tr.wrap(session, "get_spark", "session.get_spark")
    tr.wrap(tableio.SnapshotTable, "add_files", "tableio.add_files")
    tr.wrap(tableio.SnapshotTable, "analyze", "tableio.analyze",
            on_result=lambda a, n, _args: a.update(files=n))
    tr.wrap(pipeline.Pipeline, "process_batch", "pipeline.process_batch",
            meter=lambda: probes.Cpu.now().total)
    tr.wrap(pipeline.Pipeline, "write_aggregates", "pipeline.write_aggregates",
            on_result=lambda a, _out, args: a.update(
                routed_rows=args[0].routed_table.row_count()))
    tr.wrap(pipeline, "summary_text_from_agg", "pipeline.summary")
    tr.wrap(checkpoint, "run_incremental", "checkpoint.run_incremental")
    tr.wrap(stream, "run_streaming", "stream.run_streaming")
    tr.wrap(cli, "main", "cli.main")


@contextlib.contextmanager
def traced_unit(run: Run, on: bool):
    """Install the span wrappers for one unit of the traced run; a unit run
    with ``on=False`` executes the program untouched (tracing overhead)."""
    if not on:
        prev, run.tracer.enabled = run.tracer.enabled, False
        try:
            yield
        finally:
            run.tracer.enabled = prev
        return
    install_spans(run.tracer)
    try:
        yield
    finally:
        run.tracer.uninstall()


# -- correctness helpers ----------------------------------------------------------
def check_agg(run: Run, out: Path, expected: dict, label: str) -> None:
    """``agg_by_host`` against the oracle, read with pyarrow (no Spark)."""
    import pyarrow.parquet as pq

    t = tableio.SnapshotTable(out / "agg_by_host")
    rows = ([r for f in t.data_files() for r in pq.read_table(f).to_pylist()]
            if t.exists() else [])
    got = {r["host"]: r for r in rows}
    want = expected["hosts"]
    ok = set(got) == set(want)
    if ok:
        for h, (n, n2, dec, fl) in want.items():
            r = got[h]
            if (r["total_requests"] != n or r["requests_2xx"] != n2
                    or r["sum_duration_dec"] != Decimal(dec)
                    or not math.isclose(float(r["sum_duration_s"]), fl,
                                        rel_tol=1e-9, abs_tol=1e-9)):
                ok = False
                break
    run.check(ok, f"{label}: agg_by_host differs from the oracle")


def check_counts(run: Run, rows_in: int, counts: dict, expected: dict,
                 label: str) -> None:
    run.check(rows_in == expected["rows"],
              f"{label}: rows_in {rows_in} != corpus pages {expected['rows']}")
    run.check(sum(counts.values()) == rows_in,
              f"{label}: sink counts {counts} do not sum to rows_in {rows_in}")
    want = {c: expected["classes"].get(c, 0) for c in counts}
    run.check(counts == want and set(counts) == set(expected["classes"]),
              f"{label}: sink counts {counts} != oracle {expected['classes']}")


def check_summary(run: Run, text: str, expected: dict, label: str) -> None:
    from access_log_aggregator_spark.oracle.summaries import (
        Summaries,
        Summary,
        format_summaries,
    )

    ss = Summaries()
    for h, (n, n2, _dec, fl) in expected["hosts"].items():
        ss.by_host[h] = Summary(request_total=n, request_2xx=n2,
                                duration_total=fl)
    # the header line carries wall-clock time; every other line must match
    want = [ln for ln in format_summaries(ss).splitlines()
            if ln and "***" not in ln]
    got = [ln for ln in text.splitlines() if ln and "***" not in ln]
    run.check(got == want, f"{label}: summary table differs from the oracle")


def routed_class_counts(pipe) -> tuple[int, dict]:
    df = pipe.routed()
    counts = {c: 0 for c in ("parsed", "unparsed", "bot", "error")}
    if df is not None:
        for r in df.groupBy("match_class").count().collect():
            counts[r["match_class"]] = r["count"]
    return sum(counts.values()), counts


def live_bytes(out: Path) -> int:
    total = 0
    for name in ("routed", *pipeline.AGG_TABLES):
        t = tableio.SnapshotTable(out / name)
        if t.exists():
            total += sum(os.path.getsize(f) for f in t.data_files())
    return total


# -- lookups ----------------------------------------------------------------------
def lookup_round(run: Run, spark, routed: tableio.SnapshotTable,
                 hosts: dict[str, str]) -> None:
    """One closed-loop round: a point lookup per host class, one at a time."""
    live = len(routed.data_files())
    for cls, h in hosts.items():
        where = [("host", "=", h)]
        t0 = probes.wall()
        with run.tracer.span(f"lookup.plan.{cls}"):
            kept = len(routed.data_files(where=where))
        t1 = probes.wall()
        with run.tracer.span(f"lookup.{cls}"):
            df = routed.read(spark, where=where)
            n = df.count() if df is not None else 0
        t2 = probes.wall()
        run.op()
        run.plan.setdefault(cls, []).append(t1 - t0)
        run.lookups.setdefault(cls, []).append(t2 - t1)
        run.kept.setdefault(cls, []).append(kept / max(1, live))
        run.lookup_counts.setdefault(cls, []).append(n)


def check_lookups(run: Run, spark, routed: tableio.SnapshotTable,
                  hosts: dict[str, str]) -> None:
    """Each lookup's count equals a full scan plus filter (once per run,
    outside the timed window)."""
    from pyspark.sql import functions as F

    full = routed.read(spark)
    scan = {} if full is None else {
        r["host"]: r["count"] for r in full.filter(
            F.col("host").isin(list(hosts.values()))).groupBy("host").count().collect()}
    for cls, h in hosts.items():
        want = scan.get(h, 0)
        got = run.lookup_counts[cls][-1]
        run.check(got == want,
                  f"lookup {cls} ({h}): count {got} != full scan {want}")


# -- units ----------------------------------------------------------------------
class _SummaryClock(io.StringIO):
    """Captured stdout that notes when the summary table is written."""

    def __init__(self):
        super().__init__()
        self.summary_at = None

    def write(self, s):
        if "*** Access Log Summary" in s and self.summary_at is None:
            self.summary_at = probes.wall()
        return super().write(s)


def add_snapshot(run: Run, pages: tableio.SnapshotTable, files, marker: str,
                 due: float) -> None:
    """Commit one generated snapshot with ``add_files``; its lateness is the
    time from ``due`` until the commit."""
    t0 = probes.wall()
    pages.add_files(files, marker=marker)
    t1 = probes.wall()
    run.producer_append_s.append(t1 - t0)
    run.producer_late_s.append(t1 - due)


def register_pages(run: Run, root: Path, corp: C.Corpus) -> tableio.SnapshotTable:
    """Register every generated snapshot; all are due when registration
    starts."""
    pages = tableio.SnapshotTable.create(root, "pages")
    due = probes.wall()
    for i, files in enumerate(corp.snapshots):
        add_snapshot(run, pages, files, f"gen-{i}", due)
    return pages


def _layout(snapshot_pages, n_files: int, lines, scale: float, start: int = 0):
    """FileSpecs for snapshots of the given page counts, each split over
    ``n_files`` files, rows numbered consecutively from ``start``."""
    out = []
    for pages in snapshot_pages:
        per = max(10, int(pages * scale) // n_files)
        out.append([C.FileSpec(start + f * per, per, lines) for f in range(n_files)])
        start += n_files * per
    return out


def batch_corpus(run: Run, snapshots, key: str = "batch") -> C.Corpus:
    # one core is left to the JVM launching beside the generation
    return C.build(run.work, key, run.seed,
                   _layout(snapshots, run.nproc, BATCH_LINES, run.scale),
                   max(1, run.nproc - 1))


def _units(run: Run, do_unit, min_units: int) -> None:
    """Warm-up unit, then timed units until ``seconds`` of them have run
    (at least ``min_units``). In the traced run, timed units alternate
    traced / untraced so the tracing overhead is measured in one process."""
    do_unit(0, run.traced)
    run.phase("unit0")
    t_end = probes.wall() + run.seconds
    i = 1
    while i <= min_units or probes.wall() < t_end:
        do_unit(i, not run.traced or i % 2 == 1)
        run.phase(f"unit{i}")
        i += 1


def prepare_backfill(run: Run) -> dict:
    # the warm-up unit's set-up is in no timed number, so its session (the
    # JVM launch) starts while the inputs are generated
    launch = threading.Thread(target=start_session, args=(run,))
    launch.start()
    try:
        # the warm-up unit runs the same plans over a small corpus: the cold
        # cost is class loading and code generation, not volume
        return {"corp": batch_corpus(run, BATCH_SNAPSHOTS),
                "warm": batch_corpus(run, WARMUP_SNAPSHOTS, "warmup")}
    finally:
        launch.join()


def check_session(run: Run) -> None:
    """``cli.main`` calls ``get_spark(master=None)`` on the live session,
    which re-applies the package's import-time defaults: they must match
    the benchmark's session, or timed CLI runs use another configuration."""
    spark = session.get_spark()
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    master = spark.sparkContext.master
    run.check(parts == str(run.nproc) and master == f"local[{run.nproc}]",
              f"cli session runs {master} with {parts} shuffle partitions, "
              f"not local[{run.nproc}] with {run.nproc}")


def backfill(run: Run, inp: dict) -> None:
    full, warm = inp["corp"], inp["warm"]
    hosts = C.lookup_hosts(full.expected())
    last_out = None

    def unit(i: int, trace: bool) -> None:
        nonlocal last_out
        corp = warm if i == 0 else full
        expected, n_pages = corp.expected(), corp.pages()
        rep = run.work / "runs" / f"backfill-{i}"
        shutil.rmtree(rep, ignore_errors=True)
        with traced_unit(run, trace and run.traced):
            with run.tracer.span("setup"):
                start_session(run)
                register_pages(run, rep / "pages", corp)
            if i == 0:
                check_session(run)
            else:
                probes.full_gc()
            cpu0, gc0 = probes.Cpu.now(), probes.gc_seconds()
            buf = _SummaryClock()
            t2 = probes.wall()
            with run.tracer.span("unit" if i else "warmup"), \
                    contextlib.redirect_stdout(buf):
                rc = cli.main(["--pages-table", str(rep / "pages"),
                               "--out", str(rep / "out"),
                               "--checkpoint", str(rep / "checkpoint.json"),
                               "--seed", str(run.seed)])
            t3 = probes.wall()
            cpu, gc = probes.Cpu.now() - cpu0, probes.gc_seconds() - gc0
        run.op()
        if i > 0:
            run.timed_unit(t3 - t2, (buf.summary_at or t3) - t2, n_pages,
                           cpu, gc, trace and run.traced)
        # correctness, outside the timed window
        label = f"backfill unit {i}"
        run.check(rc == 0, f"{label}: cli.main returned {rc}")
        out_text = buf.getvalue()
        head = next((ln for ln in out_text.splitlines() if ln.startswith("{")), "{}")
        res = json.loads(head)
        check_counts(run, res.get("rows_in", -1), res.get("sink_counts", {}),
                     expected, label)
        check_summary(run, out_text[out_text.index(head) + len(head):]
                      if head != "{}" else "", expected, label)
        check_agg(run, rep / "out", expected, label)
        if last_out is not None:
            shutil.rmtree(last_out.parent, ignore_errors=True)
        last_out = rep / "out"

    _units(run, unit, min_units=2 if run.traced else 1)
    # set-up alone, repeated: setup_s is the median of these samples only,
    # never of the set-ups that precede a CLI run; the last session stays up
    # for the lookups
    rep = run.work / "runs" / "backfill-setup"
    probes.full_gc()
    for k in range(SETUPS):
        shutil.rmtree(rep, ignore_errors=True)
        with traced_unit(run, run.traced):
            t0 = probes.wall()
            with run.tracer.span("setup"):
                spark = start_session(run)
                register_pages(run, rep / "pages", full)
            run.setup_s.append(probes.wall() - t0)
        if k < SETUPS - 1:
            spark.stop()
    run.phase("setups")
    finish(run, spark, last_out, hosts, full.pages(), warm=True)
    run.phase("lookups")
    if run.traced:
        with traced_unit(run, True):
            ladder(run, spark, full.snapshots[0])
        run.phase("ladder")
    spark.stop()


def finish(run: Run, spark, out: Path, hosts: dict, n_pages: int,
           warm: bool) -> None:
    """Closed-loop lookup rounds, their correctness check, sink size and
    table-layer counts on a finished sink. With ``warm``, the traced run
    first makes one untimed round to warm the read path of a fresh
    session."""
    routed = tableio.SnapshotTable(out / "routed")
    rounds = LOOKUP_ROUNDS if run.traced else 1
    if warm and run.traced:
        probes.full_gc()
        lookup_round(run, spark, routed, hosts)
        for samples in (run.lookups, run.plan, run.kept):
            for v in samples.values():
                v.pop()
    for _ in range(rounds):
        lookup_round(run, spark, routed, hosts)
    check_lookups(run, spark, routed, hosts)
    run.sink_bytes_per_page = live_bytes(out) / n_pages
    snaps = [s for s in routed.snapshots() if s.operation == "append"]
    run.routed_files_per_batch = statistics.median(len(s.files) for s in snaps)
    run.manifest_kb = (routed.root / "manifest.json").stat().st_size / 1024.0


def prepare_ticks(run: Run) -> dict:
    """The history corpus, plus every tick snapshot the run can reach,
    loaded into memory so the producer only commits at due time."""
    import pyarrow.parquet as pq

    hist = C.build(run.work, "history", run.seed,
                   _layout(HISTORY_SNAPSHOTS, run.nproc, HISTORY_LINES, run.scale),
                   run.nproc)
    n_ticks = int(run.seconds / TICK_INTERVAL_S) + 3
    tick_rows = max(10, int(TICK_PAGES * run.scale))
    ticks = C.build(run.work, "ticks", run.seed,
                    _layout([tick_rows] * n_ticks, 1, TICK_LINES, 1.0, 10**8),
                    run.nproc)
    frames = [pq.read_table(files[0]).to_pandas() for files in ticks.snapshots]
    return {"hist": hist, "ticks": ticks, "frames": frames,
            "tick_rows": tick_rows}


def interval_ticks(run: Run, inp: dict) -> None:
    hist, ticks, tick_frames = inp["hist"], inp["ticks"], inp["frames"]
    tick_rows, n_ticks = inp["tick_rows"], len(inp["frames"])
    rep = run.work / "runs" / "ticks"
    shutil.rmtree(rep, ignore_errors=True)

    def tick():
        checkpoint.run_incremental(spark, pages, pipe, cp)
        pipe.write_aggregates()
        pipe.routed_table.analyze(spark)
        agg_t = tableio.SnapshotTable(rep / "out" / "agg_by_host")
        return pipeline.summary_text_from_agg(agg_t.read(spark))

    # set-up builds the history as one catch-up tick, which runs every call
    # a tick makes, so it is also the warm-up and every tick is timed
    with traced_unit(run, run.traced):
        t0 = probes.wall()
        with run.tracer.span("setup"):
            spark = start_session(run)
            lookup = lookup_dim(spark, run.seed)
            pages = tableio.SnapshotTable.create(rep / "pages", "pages")
            pipe = pipeline.Pipeline(spark, rep / "out", lookup)
            cp = checkpoint.Checkpoint(rep / "checkpoint.json")
            for i, files in enumerate(hist.snapshots):
                add_snapshot(run, pages, files, f"gen-{i}", probes.wall())
            checkpoint.run_incremental(spark, pages, pipe, cp)
            pipe.routed_table.set_properties(bloom_cols="host")
            pipe.write_aggregates()
            pipe.routed_table.analyze(spark)
        run.setup_s.append(probes.wall() - t0)
    run.phase("setup")
    rt = pipe.routed_table
    hosts = C.lookup_hosts(hist.expected())
    run.producer_append_s.clear()
    run.producer_late_s.clear()
    # one untimed lookup round warms the read path
    lookup_round(run, spark, rt, hosts)
    for samples in (run.lookups, run.plan, run.kept):
        samples.clear()

    t_start = probes.wall()
    due = [t_start + k * TICK_INTERVAL_S for k in range(n_ticks)]
    deadline = t_start + run.seconds
    # every snapshot due inside the window is aggregated, however late: an
    # overloaded program shows as freshness and backlog, not as lost ticks
    in_window = sum(1 for d in due if d < deadline)
    committed = processed = 0
    k_tick = 0
    text = ""
    while probes.wall() < deadline or processed < in_window:
        now = probes.wall()
        while committed < in_window and due[committed] <= now:
            a0 = probes.wall()
            pages.append_pandas(tick_frames[committed], marker=f"tick-{committed}")
            a1 = probes.wall()
            run.producer_append_s.append(a1 - a0)
            run.producer_late_s.append(a1 - due[committed])
            committed += 1
        if processed == committed:
            nxt = due[committed] if committed < in_window else deadline
            time.sleep(max(0.0, min(nxt, deadline) - probes.wall()))
            continue
        trace = run.traced and k_tick % 2 == 0
        with traced_unit(run, trace):
            cpu0, gc0 = probes.Cpu.now(), probes.gc_seconds()
            s0 = probes.wall()
            with run.tracer.span("unit"):
                text = tick()
            s1 = probes.wall()
            cpu, gc = probes.Cpu.now() - cpu0, probes.gc_seconds() - gc0
            run.op()
            run.timed_unit(s1 - s0,
                           [s1 - due[k] for k in range(processed, committed)],
                           (committed - processed) * tick_rows, cpu, gc, trace)
            lookup_round(run, spark, rt, hosts)
        processed = committed
        k_tick += 1
    end = probes.wall()
    run.phase("ticks")
    run.backlog_end = sum(1 for d in due if d <= end) - processed

    # the sink must hold exactly the snapshots the ticks processed
    expected = C.merge_folds([hist.expected(), ticks.expected(processed)])
    rows, counts = routed_class_counts(pipe)
    check_counts(run, rows, counts, expected, "interval_ticks")
    check_agg(run, rep / "out", expected, "interval_ticks")
    check_summary(run, text, expected, "interval_ticks")
    run.phase("checks")
    finish(run, spark, rep / "out", hosts, rows, warm=False)
    run.phase("lookups")
    if run.traced:
        with traced_unit(run, True):
            ladder(run, spark, hist.snapshots[-1])
        run.phase("ladder")
    spark.stop()


# -- the noop ladder (traced run only) ------------------------------------------
def ladder(run: Run, spark, files: list[Path]) -> None:
    """Cumulative noop rungs over one snapshot of the workload's corpus,
    registered as a pages table of its own, at the end of the run when the
    JIT is as warm as this process gets: scan, +parse, +enrich, +route
    (``build_routed``), then ``process_batch`` into a fresh sink, then a
    streaming drain (AvailableNow, one file per micro-batch) into another,
    then the same files as one batch each with ``write_aggregates`` after
    every batch (the aggregate slope)."""
    from access_log_aggregator_spark.operators.enrich import enrich
    from access_log_aggregator_spark.operators.parse import parse_stage

    root = run.work / "runs" / "ladder"
    shutil.rmtree(root, ignore_errors=True)
    pages = tableio.SnapshotTable.create(root / "pages", "pages")
    pages.add_files(files, marker="ladder")
    lookup = lookup_dim(spark, run.seed)
    df = pages.read(spark)
    sink = root / "sink"

    def noop(build):
        return lambda: build().write.format("noop").mode("overwrite").save()

    def batch():
        shutil.rmtree(sink, ignore_errors=True)
        pipeline.Pipeline(spark, sink, lookup).process_batch(df, "ladder")

    def drain():
        shutil.rmtree(sink, ignore_errors=True)
        stream.run_streaming(spark, pages, pipeline.Pipeline(spark, sink, lookup),
                             sink / "stream_ckpt", max_files_per_trigger=1)

    def grow():
        # one batch per file into a fresh sink, write_aggregates after
        # each: the aggregate cost at several history sizes, JIT warm
        shutil.rmtree(sink, ignore_errors=True)
        pipe = pipeline.Pipeline(spark, sink, lookup)
        for k, f in enumerate(files):
            pipe.process_batch(spark.read.parquet(str(f)), f"grow-{k}")
            pipe.write_aggregates()

    rungs = {
        "scan": noop(lambda: df),
        "parse": noop(lambda: parse_stage(df)),
        "enrich": noop(lambda: enrich(parse_stage(df), lookup)),
        "route": noop(lambda: pipeline.build_routed(df, lookup)),
        "process_batch": batch,
        "stream": drain,
        "aggregates": grow,
    }
    for name, go in rungs.items():
        c0, t0 = probes.Cpu.now(), probes.wall()
        with run.tracer.span(f"ladder.{name}"):
            go()
        run.ladder[name] = (probes.wall() - t0, probes.Cpu.now() - c0)
    run.ladder["pages"] = df.count()
    shutil.rmtree(root, ignore_errors=True)


#: name -> (input preparation, outside every timed number; the run)
WORKLOADS = {
    "backfill": (prepare_backfill, backfill),
    "interval_ticks": (prepare_ticks, interval_ticks),
}
