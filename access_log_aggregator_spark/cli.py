"""spark-submit entry point.

Mirrors the reference CLI's flag surface (internal/config/flags.go:10-14)
on Spark terms:

    -file (repeatable)  ->  --log-file PATH (repeatable): the LITERAL
                            analog — raw newline-JSON logs, parsed
                            directly, summary to stdout (optionally routed
                            to sinks with --out); or --pages-table DIR
                            (the snapshot table replaces the tailed-file
                            list; partition-parallel scan replaces
                            goroutine fan-in, incremental cursors replace
                            seek-to-end)
    -from-start         ->  --from-start        (ignore checkpoint, process
                            every snapshot from the beginning)
    -interval           ->  one invocation == one batch tick; schedule
                            invocations (or use the streaming mode) for the
                            periodic-emit behavior

``main`` runs five phases in order, each a function below: parse and
validate (no Spark; a layout another input mode owns is refused here, by
``plans.checkpoint.check_sink_owner``) -> open the tables and generate ->
ingest (batch, stream drain, live ticker, or the --log-file scan) ->
maintain -> report (aggregate fold, routed-sink heal, counts JSON line,
summary table).

Run:  spark-submit --py-files alas.zip -m access_log_aggregator_spark.cli ...
or:   python -m access_log_aggregator_spark.cli --generate 20000 ...
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path


def _compact_reporting(table, label: str, rows_per_file: int,
                       retries: int = 5,
                       sort_by: list[str] | None = None,
                       zorder_by: list[str] | None = None,
                       spark=None) -> None:
    """Run ``table.compact`` with the retry the CommitConflict contract
    prescribes: a concurrent ingest committing between compaction's base
    capture and its CAS commit aborts the rewrite cleanly, and the next
    attempt rewrites against the advanced base. FileNotFoundError is the
    same race seen one stage earlier — a concurrent truncate/expire
    unlinked a file between compaction's listing and its footer/content
    reads — so it retries identically (the re-listing heals it) instead
    of propagating a traceback that would also skip the aggregate heal
    and summary below. Bounded so a hot writer cannot livelock a
    maintenance run — exhaustion is reported as a clean outcome (the
    data is intact, only the rewrite was skipped). A short jittered
    sleep between attempts keeps a retry from re-doing the full
    footer-read + rewrite I/O on the exact timing that just lost."""
    import random
    import time

    from .sources.tableio import CommitConflict

    last_exc: Exception | None = None
    for attempt in range(retries):
        try:
            sid = table.compact(rows_per_file=rows_per_file,
                                sort_by=sort_by, zorder_by=zorder_by,
                                spark=spark)
            print(f"compacted {label} -> snapshot {sid}" if sid
                  else f"{label} already compact", file=sys.stderr)
            return
        except ValueError as e:
            # a caller error (e.g. --compact-sort-by typo), not a race: no
            # retry would change it, and a traceback here would also skip
            # the aggregate heal and summary that follow in main()
            print(f"compaction of {label} skipped: {e}", file=sys.stderr)
            return
        except (CommitConflict, FileNotFoundError) as e:
            last_exc = e
            if attempt < retries - 1:
                time.sleep(0.05 * (attempt + 1) + random.random() * 0.1)
            continue
    cause = ("concurrent commits kept advancing the table"
             if isinstance(last_exc, CommitConflict)
             else "concurrent maintenance kept unlinking listed files "
                  f"({last_exc})")
    print(f"compaction of {label} skipped: {cause} ({retries} attempts); "
          "rerun when the concurrent writer/maintenance is idle",
          file=sys.stderr)


def _drain_live_query(q, timeout_s: float = 300.0) -> None:
    """Stop a live streaming query at the next micro-batch boundary — the
    Spark analog of the reference's drain (aggregate.go:28-41): stop
    READING new input, finish what is in flight, then stop.

    Not ``processAllAvailable()`` (under continuous appends that never
    returns) and not a bare ``isTriggerActive`` poll (under back-to-back
    triggers the inter-batch False gap is milliseconds, so 0.2 s polls
    land inside active triggers and the loop keeps ingesting NEW batches
    until the deadline). Instead the bound is the batch itself: capture
    ``lastProgress.batchId`` at the signal and stop as soon as a NEWER
    batch commits — the batch in flight at the signal is then done, and
    anything the next trigger started after the operator asked to stop is
    cancelled safely (sink idempotence markers make a replay a no-op —
    durable even across routed-sink maintenance, because
    expire_snapshots retains expired snapshots' markers). The deadline
    is a backstop for a stuck batch, not the expected path; the
    ``q.stop()`` below is itself bounded by
    ``spark.sql.streaming.stopTimeout`` (set in session.get_spark —
    Spark's default 0 waits forever), so a batch wedged in a
    non-interruptible call raises a TimeoutException instead of hanging
    the shutdown past both bounds. Deadline on the MONOTONIC clock: a
    wall-clock step during shutdown must not stretch or collapse it.

    A query that FAILED (rather than drained) must not look like a clean
    shutdown: re-raise its exception so the run exits nonzero instead of
    printing a healthy summary over a crashed stream."""
    import time

    p0 = q.lastProgress
    sig_batch = p0["batchId"] if p0 else -1
    deadline = time.monotonic() + timeout_s
    while q.isActive and time.monotonic() < deadline:
        if not q.status.get("isTriggerActive"):
            break  # between micro-batches: stop starts no new work
        p = q.lastProgress
        if p is not None and p["batchId"] > sig_batch:
            break  # the batch in flight at the signal has committed
        time.sleep(0.2)
    q.stop()
    exc = q.exception()
    if exc is not None:
        raise exc


def _parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="access-log-aggregator-spark")
    ap.add_argument("--log-file", action="append", metavar="PATH",
                    help="raw newline-JSON access-log file (repeatable) — "
                         "the reference's -file analog (flags.go:10): parse "
                         "the lines directly and print the summary table; "
                         "add --out (or --data-dir) to also route to sinks. "
                         "Empty lines count as malformed and an "
                         "unterminated final line is held back, matching "
                         "the reference tailer's delimiter semantics")
    ap.add_argument("--pages-table", help="pages SnapshotTable root dir")
    ap.add_argument("--out", help="output root (routed sink + aggregates)")
    ap.add_argument("--checkpoint", help="checkpoint JSON path")
    ap.add_argument("--from-start", action="store_true",
                    help="ignore checkpoint; process all snapshots (flags.go:11 analog)")
    ap.add_argument("--generate", type=int, metavar="N",
                    help="synthesize an N-row pages corpus first (seeded)")
    ap.add_argument("--data-dir", help="root dir when using --generate")
    ap.add_argument("--snapshots", type=int, default=4,
                    help="number of snapshots to split --generate data into")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--salt-buckets", type=int, default=None,
                    help="salt the summary-only --log-file aggregation "
                         "over N buckets (skewed hosts); runs that write "
                         "aggregate tables (--out/--data-dir/--pages-table/"
                         "--stream) fold them unsalted and refuse it")
    ap.add_argument("--write-partitions", type=int, default=None, metavar="N",
                    help="explicit repartition(N, url) before the sink write "
                         "(balances write tasks / bounds file count under skew)")
    ap.add_argument("--compact", action="store_true",
                    help="after processing, compact the routed sink's small "
                         "files into one replace snapshot (maintenance job; "
                         "incremental cursors unaffected)")
    ap.add_argument("--compact-rows-per-file", type=int, default=1_000_000,
                    metavar="N", help="target rows per compacted file")
    ap.add_argument("--compact-sort-by", action="append", default=None,
                    metavar="COL",
                    help="cluster rewritten rows by COL (repeatable) during "
                         "--compact/--compact-pages — the Iceberg "
                         "sort-strategy rewrite analog: output files then "
                         "cover disjoint ranges of COL, keeping manifest "
                         "bounds tight so predicate reads still prune after "
                         "compaction (use the dominant scan column, e.g. "
                         "warc_ts)")
    ap.add_argument("--compact-zorder-by", action="append", default=None,
                    metavar="COL",
                    help="cluster rewritten rows along a Morton curve over "
                         "the listed COLs (repeatable; 1-4 columns, though "
                         "a single column is just a coarser sort — prefer "
                         "--compact-sort-by there; "
                         "mutually exclusive with --compact-sort-by) — the "
                         "Iceberg z-order rewrite analog: every listed "
                         "column's per-file bounds stay tight, so predicate "
                         "reads prune on ANY of them (use when two "
                         "independent predicates matter, e.g. host AND "
                         "warc_ts)")
    ap.add_argument("--expire-snapshots", action="store_true",
                    help="after compacting, delete data files only reachable "
                         "from pre-compaction snapshots (disk reclaim; "
                         "refuses while a stream checkpoint is registered)")
    ap.add_argument("--stream", action="store_true",
                    help="Structured Streaming mode: foreachBatch fan-out with "
                         "a streaming checkpoint (drains all unseen snapshots)")
    ap.add_argument("--retire-stream", action="store_true",
                    help="declare this checkpoint's PAGES-table stream "
                         "permanently done: remove its marker so "
                         "--expire-pages-snapshots is no longer blocked by "
                         "it (works with or without --stream; do NOT pass "
                         "this if the checkpoint will resume — the marker "
                         "protects appends committed between drains from "
                         "being compacted+expired unseen)")
    ap.add_argument("--compact-pages", action="store_true",
                    help="compact the PAGES table's small files into a "
                         "replace snapshot (safe beside streams: they glob "
                         "part-* and compaction writes compact-*)")
    ap.add_argument("--expire-pages-snapshots", action="store_true",
                    help="delete PAGES-table data files only reachable from "
                         "pre-compaction snapshots (refuses while a stream "
                         "checkpoint marker is registered on the pages "
                         "table — see --retire-stream)")
    ap.add_argument("--analyze-pages", action="store_true",
                    help="record column statistics (min/max/null bounds) "
                         "for PAGES-table files committed without them — "
                         "Spark-written snapshots skip footer reads at "
                         "commit time; the stats sweep runs as a "
                         "distributed job and enables file pruning for "
                         "predicate reads (read(where=...))")
    ap.add_argument("--maintenance-only", action="store_true",
                    help="run only the maintenance flags (--compact*, "
                         "--expire*, --analyze-pages, --retire-stream) "
                         "without processing "
                         "any pages: required when the layout is managed "
                         "by a --stream checkpoint, because a batch run "
                         "would re-route already-streamed rows under "
                         "different idempotence markers")
    ap.add_argument("--trigger-interval", default=None, metavar="DUR",
                    help="with --stream: processingTime trigger, e.g. '10 seconds' "
                         "(the -interval ticker analog, flags.go:13); default is "
                         "an AvailableNow drain")
    ap.add_argument("--master", default=None)
    return ap


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    """Phase 1, no Spark: parse and validate the command line, derive the
    layout paths, and refuse a layout another input mode owns
    (:func:`~.plans.checkpoint.check_sink_owner`). Every exit-2 error
    happens here, before a session starts or ``--generate`` writes."""
    from .plans.checkpoint import SinkOwnershipError, check_sink_owner
    from .sources.logfiles import canonical_paths

    ap = _parser()
    args = ap.parse_args(argv)
    if args.salt_buckets is not None and (
            args.out or args.data_dir or args.pages_table or args.stream):
        # fail fast, not inert: the aggregate tables come from the
        # grouping-sets fold, which does not salt
        ap.error("--salt-buckets only salts the summary-only --log-file "
                 "aggregation: runs with --out/--data-dir/--pages-table/"
                 "--stream fold the aggregate tables unsalted, so the "
                 "option would have no effect")
    if args.compact_sort_by and args.compact_zorder_by:
        # fail fast: compact() raises ValueError for this combination, but
        # _compact_reporting downgrades maintenance errors to a "compaction
        # skipped" stderr note and the run would continue WITHOUT compacting
        ap.error("--compact-sort-by and --compact-zorder-by are mutually "
                 "exclusive: a z-order curve over the sort columns replaces "
                 "the linear sort (pick one clustering strategy)")
    root = Path(args.data_dir) if args.data_dir else None
    if args.log_file:
        if (args.generate or args.stream or args.maintenance_only
                or args.pages_table):
            ap.error("--log-file is its own input mode: it cannot combine "
                     "with --generate/--pages-table/--stream/"
                     "--maintenance-only")
        if (args.compact or args.expire_snapshots or args.retire_stream
                or args.compact_pages or args.expire_pages_snapshots
                or args.analyze_pages):
            # fail loud, not silent: these run in the snapshot-pipeline path
            # only, and the --log-file path skipping them would drop the
            # user's requested maintenance with no indication
            ap.error("--log-file does not run maintenance flags (--compact/"
                     "--expire-snapshots/--retire-stream/--compact-pages/"
                     "--expire-pages-snapshots/--analyze-pages): its routed "
                     "sink is rebuilt per run, so there is nothing to "
                     "compact, expire or analyze — "
                     "run them with --pages-table/--data-dir")
        args.log_paths = canonical_paths(args.log_file)
        missing = [str(p) for p in args.log_paths if not p.exists()]
        if missing:
            ap.error(f"--log-file path(s) not found: {missing}")
        args.out = args.out or (str(root / "out") if root else None)
        args.stream_ckpt = None
        mode = "logfiles" if args.out else None
    else:
        if args.generate and not root:
            ap.error("--generate requires --data-dir")
        if root:
            # --data-dir derives the three paths with or without
            # --generate, so maintenance-only runs (--retire-stream /
            # --compact* / --expire*) address the same layout a
            # --generate run created
            args.pages_table = args.pages_table or str(root / "pages")
            args.out = args.out or str(root / "out")
            args.checkpoint = args.checkpoint or str(root / "checkpoint.json")
        if not (args.pages_table and args.out and args.checkpoint):
            ap.error("--pages-table, --out and --checkpoint are required "
                     "(or use --generate)")
        # the streaming modes' checkpoint, derived the same way for
        # --retire-stream in maintenance-only runs
        args.stream_ckpt = Path(args.checkpoint).with_suffix(".stream_ckpt")
        mode = (None if args.maintenance_only
                else "stream" if args.stream else "batch")
    if mode:
        try:
            check_sink_owner(mode, args.out, pages=args.pages_table,
                             checkpoint=args.checkpoint,
                             from_start=args.from_start,
                             stream_checkpoint=args.stream_ckpt)
        except SinkOwnershipError as e:
            ap.error(str(e))
    return args


def _lookup(spark, args):
    """The host dimension the enrich stage joins."""
    from .sources.pages import generate_host_lookup

    return spark.createDataFrame(generate_host_lookup(seed=args.seed))


def _pipeline(spark, args):
    """The routed sink + aggregate tables under ``args.out``."""
    from .plans.pipeline import Pipeline

    return Pipeline(spark, args.out, _lookup(spark, args),
                    write_partitions=args.write_partitions)


def _open_tables(spark, args):
    """Phase 2: open the pages table (appending the ``--generate`` corpus
    first) and the routed sink."""
    from .sources.pages import generate_pages
    from .sources.tableio import SnapshotTable

    pages_table = SnapshotTable.create(args.pages_table, "pages")
    if args.generate:
        pdf = generate_pages(args.generate, seed=args.seed)
        step = (len(pdf) + args.snapshots - 1) // args.snapshots
        before = pages_table.current_snapshot_id() or 0
        for lo in range(0, len(pdf), step):
            pages_table.append_pandas(pdf.iloc[lo: lo + step],
                                      marker=f"gen-{args.seed}-{lo}")
        new = (pages_table.current_snapshot_id() or 0) - before
        if new:
            print(f"generated {len(pdf)} pages into {new} snapshots",
                  file=sys.stderr)
        else:
            # same seed + same offsets => same idempotence markers: the
            # whole generate was deduplicated against earlier commits
            print(f"generate: all {args.snapshots} snapshots already "
                  f"committed (markers gen-{args.seed}-*), nothing "
                  "appended", file=sys.stderr)
    return pages_table, _pipeline(spark, args)


def _ingest(spark, args, pages_table, pipe) -> list:
    """Phase 3: route the unprocessed snapshots — batch (the checkpointed
    cursor), stream drain, or the live ticker; nothing in a
    maintenance-only run. Returns this run's BatchResults."""
    if args.maintenance_only:
        return []
    if not args.stream:
        from .plans.checkpoint import Checkpoint, run_incremental

        return run_incremental(spark, pages_table, pipe,
                               Checkpoint(args.checkpoint),
                               from_start=args.from_start)
    if not args.trigger_interval:
        from .streaming.stream import run_streaming

        return run_streaming(spark, pages_table, pipe, args.stream_ckpt)
    # live ticker: run until SIGINT/SIGTERM, then drain the in-flight
    # batch before the final summary (the reference's signal.NotifyContext
    # + drain loop, main.go:23 + aggregate.go:28-41). A handler + 1 s
    # awaitTermination poll keeps the signal out of the blocking py4j call.
    import signal

    from .streaming.stream import start_live_stream

    stopping: list[int] = []
    for sig in (signal.SIGINT, signal.SIGTERM):
        signal.signal(sig, lambda signum, _frame: stopping.append(signum))
    q, processed = start_live_stream(spark, pages_table, pipe,
                                     args.stream_ckpt,
                                     processing_time=args.trigger_interval)
    while q.isActive and not stopping:
        q.awaitTermination(1)
    if not stopping:
        # the query terminated on its own: a failure landing between
        # awaitTermination's timeout return and the isActive check exits
        # the loop without raising — surface it instead of printing a
        # healthy summary
        exc = q.exception()
        if exc is not None:
            raise exc
        return processed
    print("Gracefully shutting down...", file=sys.stderr)
    # a second Ctrl-C/TERM now force-interrupts: the drain below must
    # never leave the process unkillable
    for sig in (signal.SIGINT, signal.SIGTERM):
        signal.signal(sig, signal.SIG_DFL)
    # stop() alone would CANCEL the in-flight micro-batch (its rows would
    # miss the final summary, though the idempotence markers keep the
    # resume safe); the drain helper stops at the micro-batch boundary
    # instead and re-raises a stream failure as a failure.
    _drain_live_query(q)
    return processed


def _expire_reporting(table, label: str, flag: str) -> None:
    """Run ``table.expire_snapshots``. A registered stream checkpoint
    makes expiry refuse (it would delete part-* files the checkpoint may
    still need); that is a clean maintenance outcome, not a crash —
    report and move on."""
    try:
        gone = table.expire_snapshots()
        print(f"expired {len(gone)} {label}data file(s)", file=sys.stderr)
    except RuntimeError as e:
        print(f"{flag} refused: {e}", file=sys.stderr)


def _maintain(spark, args, pages_table, pipe) -> None:
    """Phase 4: the maintenance flags, in a fixed order. No cursor moves.
    (--compact/--expire-snapshots target the ROUTED sink; the pages table
    the CLI's own stream reads is --compact-pages/--expire-pages-snapshots.)"""
    layout = dict(sort_by=args.compact_sort_by,
                  zorder_by=args.compact_zorder_by, spark=spark)
    if args.compact:
        # no marker: compaction is safe to redo — a directory is only
        # rewritten when it holds >= 2 files below the target size, so a
        # compacted table is a true no-op (no growth); a constant marker
        # would silently turn every later run into a no-op
        _compact_reporting(pipe.routed_table, "routed sink",
                           args.compact_rows_per_file, **layout)
    if args.retire_stream:
        # works in maintenance-only runs too (no --stream): the marker
        # belongs to the PAGES table
        removed = pages_table.unregister_stream(args.stream_ckpt)
        print(f"retired stream checkpoint {args.stream_ckpt}" if removed
              else f"no stream marker for {args.stream_ckpt}",
              file=sys.stderr)
    if args.expire_snapshots:
        _expire_reporting(pipe.routed_table, "", "expire-snapshots")
    if args.compact_pages:
        _compact_reporting(pages_table, "pages table",
                           args.compact_rows_per_file, **layout)
    if args.expire_pages_snapshots:
        _expire_reporting(pages_table, "pages ", "expire-pages-snapshots")
    if args.analyze_pages:
        n_analyzed = pages_table.analyze(spark)
        print(f"analyzed {n_analyzed} pages data file(s)", file=sys.stderr)


def _ingest_log_files(spark, args):
    """Phase 3 of the reference's literal input mode: ``accessAgg -file
    a.log`` -> ``--log-file a.log``. Lines parse through the SAME
    parse/validate/route chain as pages (extraction is the identity on
    a bare log line — byte-parity pinned on the reference corpus). With
    --out (or --data-dir) the batch commits to the routed sink under an
    idempotence marker derived from the files' (path, size, mtime)
    signature, so re-running over unchanged files is a no-op and
    appending to a log re-commits exactly the new state. Returns
    ``(pipe, results, summary)``: the pipeline (None when summary-only),
    this run's BatchResults, and the summary text when it is not read
    from the aggregate table."""
    import hashlib

    from pyspark.sql import functions as F

    from .functions import extract as X
    from .operators.aggregate import aggregate_by_host
    from .plans.checkpoint import mint_marker
    from .plans.pipeline import (
        BatchResult,
        build_routed,
        observe_routed_classes,
        summary_text_from_agg,
    )
    from .sources.logfiles import read_log_files

    pages = read_log_files(spark, args.log_paths)
    if args.out:
        # Sink semantics mirror the reference's -from-start rebuild: each
        # run represents the files' CURRENT full state, so a changed state
        # truncates and re-commits (old lines would otherwise duplicate),
        # while an UNCHANGED state is a marker no-op. Incremental tailing
        # of growing logs is the SnapshotTable/--stream path, not this
        # mode. Sorted by the SAME canonical string embedded in the hash,
        # so flag order / spelling cannot change the marker.
        pipe = _pipeline(spark, args)
        marker = mint_marker("logfiles", hashlib.md5("|".join(
            f"{p}:{p.stat().st_size}:{p.stat().st_mtime_ns}"
            for p in sorted(args.log_paths)).encode()).hexdigest()[:12])
        if marker in pipe.routed_table.committed_markers():
            return pipe, [], None
        pipe.routed_table.truncate()
        return pipe, [pipe.process_batch(pages, batch_id=marker)], None
    # summary-only (the reference's exact behavior: no sinks) — class
    # counts ride the aggregation job via observe(), so the files scan
    # once (with --out they come from the write tasks' file records; a
    # test pins that both report the same counts)
    routed, obs = observe_routed_classes(
        build_routed(pages, _lookup(spark, args)), "logfile_counts")
    valid = routed.filter(
        F.col("match_class").isin(X.CLASS_PARSED, X.CLASS_BOT))
    summary = summary_text_from_agg(
        aggregate_by_host(valid, args.salt_buckets))
    got = obs.get
    counts = {c: int(got.get(c, 0)) for c in X.ALL_CLASSES}
    return None, [BatchResult("summary-only", None, counts,
                              rows_in=int(got.get("rows_in", 0)))], summary


def _analyze_routed(rt, spark) -> None:
    """Heal the routed sink's statless files: files this release writes
    carry their stats and host blooms from the write tasks' own records
    (``SnapshotTable.append_spark``), so this is one manifest read and
    no Spark job unless files committed statless by an earlier release
    remain; those get min/max/null bounds + host equality blooms from a
    DISTRIBUTED sweep, so downstream point lookups
    (read(where=[("host", "=", v)])) prune without a manual analyze. The
    ``bloom_cols`` default (``DEFAULT_ROUTED_BLOOM_COLS``, the columns the
    write tasks bloom while the property is unset) is persisted only
    after the sweep succeeded, so a failed sweep leaves the table's
    properties as they were."""
    from .plans.pipeline import DEFAULT_ROUTED_BLOOM_COLS

    try:
        default = "bloom_cols" not in rt.properties()
        n_swept = rt.analyze(
            spark,
            bloom_cols=list(DEFAULT_ROUTED_BLOOM_COLS) if default else None)
        if default:
            rt.set_properties(bloom_cols=",".join(DEFAULT_ROUTED_BLOOM_COLS))
        if n_swept:
            print(f"analyzed {n_swept} routed sink file(s) "
                  "(stats + host blooms)", file=sys.stderr)
    except Exception as e:  # noqa: BLE001 - default-on optimization
        # the sweep is an OPTIMIZATION over already-committed data:
        # a transient failure (executor loss, a file expired by
        # concurrent maintenance between manifest read and footer
        # task) must not crash an otherwise-successful run after
        # its rows are durably committed, nor skip the summary
        # JSON — reads fail open on missing stats, and the
        # next run's sweep (or --analyze-pages-style rerun) heals
        print(f"routed sink analyze skipped: {e}", file=sys.stderr)


def _report(spark, line: dict, results: list, pipe, summary) -> int:
    """Phase 5: fold the aggregate tables (every run: folds this run's
    batches, heals a previous run that crashed after its routed commit,
    and is idle — no Spark job — when the tables already cover the sink),
    heal the routed sink's statless files, print the counts JSON line,
    then the reference's final summary table (print.go:26-49), rendered
    from the just-folded agg_by_host table — a tiny scan — instead of
    re-aggregating the whole routed sink. ``line`` holds the mode's
    leading key; ``summary`` is the text when there is no pipeline."""
    from .functions import extract as X
    from .plans.pipeline import summary_text_from_agg
    from .sources.tableio import SnapshotTable

    counts = {c: 0 for c in X.ALL_CLASSES}
    for r in results:
        for k, v in r.sink_counts.items():
            counts[k] += v
    line.update(rows_in=sum(r.rows_in for r in results), sink_counts=counts,
                malformed=counts[X.CLASS_UNPARSED] + counts[X.CLASS_ERROR],
                aggregate_tables={})
    if pipe is not None:
        line["aggregate_tables"] = pipe.write_aggregates()
        _analyze_routed(pipe.routed_table, spark)
        agg_t = SnapshotTable(pipe.out_root / "agg_by_host")
        summary = summary_text_from_agg(
            agg_t.read(spark) if agg_t.exists() else None)
    print(json.dumps(line))
    print(summary)
    return 0


def main(argv: list[str] | None = None) -> int:
    """Run the phases in order: parse and validate (no Spark) -> open the
    tables and generate -> ingest -> maintain -> report."""
    args = _parse_args(argv)
    from .session import get_spark

    spark = get_spark(master=args.master)
    try:
        if args.log_file:
            pipe, results, summary = _ingest_log_files(spark, args)
            line = {"files": len(args.log_file)}
        else:
            pages_table, pipe = _open_tables(spark, args)
            results = _ingest(spark, args, pages_table, pipe)
            _maintain(spark, args, pages_table, pipe)
            line, summary = {"batches": len(results)}, None
        return _report(spark, line, results, pipe, summary)
    finally:
        spark.stop()


if __name__ == "__main__":
    if __package__ in (None, ""):
        # spark-submit runs this file as a plain script: resolve the package
        # from --py-files (already on sys.path) or from the repo checkout.
        sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
        from access_log_aggregator_spark.cli import main as _pkg_main

        sys.exit(_pkg_main())
    sys.exit(main())
