"""The table-maintenance surface of the CLI: ``--compact-pages``,
``--expire-pages-snapshots`` and ``--retire-stream`` run the full
compact -> refuse-while-streamed -> retire -> expire lifecycle against
the pages table, in the same process layout a deployment would use
(fresh interpreter per invocation, paths derived from ``--data-dir``).

The library-level lifecycle is covered in test_tableio.py /
test_streaming.py; this exercises the operational wiring on top.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _run_cli(*argv: str, expect_rc: int = 0) -> subprocess.CompletedProcess:
    out = subprocess.run(
        [sys.executable, "-m", "access_log_aggregator_spark.cli",
         "--master", "local[4]", *argv],
        capture_output=True, text=True, timeout=420, cwd=str(REPO),
    )
    assert out.returncode == expect_rc, out.stderr[-3000:]
    return out


def _routed_rows(data_dir: str) -> int:
    m = json.loads((Path(data_dir) / "out" / "routed" /
                    "manifest.json").read_text())
    return sum(s["row_count"] for s in m["snapshots"]
               if s["operation"] == "append")


def test_pages_maintenance_lifecycle(tmp_path):
    data_dir = str(tmp_path / "data")

    # 1) generate + stream-drain, then compact the pages table; expiry must
    #    REFUSE because this run's own stream checkpoint is still registered
    out1 = _run_cli("--generate", "400", "--snapshots", "2",
                    "--data-dir", data_dir, "--stream",
                    "--compact-pages", "--compact-sort-by", "warc_ts",
                    "--expire-pages-snapshots")
    d1 = json.loads([l for l in out1.stdout.splitlines()
                     if l.startswith('{"batches')][-1])
    assert d1["rows_in"] == 400
    assert sum(d1["sink_counts"].values()) == 400
    assert "compacted pages table -> snapshot" in out1.stderr
    assert "expire-pages-snapshots refused" in out1.stderr
    # pre-compaction part-* files still on disk (expiry was refused)
    pages_root = Path(data_dir) / "pages"
    assert list(pages_root.rglob("part-*"))

    # 2) drain again (idle), declare the stream done, expire: now the
    #    pre-compaction files are reclaimed and the retire is acknowledged
    out2 = _run_cli("--data-dir", data_dir, "--stream",
                    "--retire-stream", "--expire-pages-snapshots")
    d2 = json.loads([l for l in out2.stdout.splitlines()
                     if l.startswith('{"batches')][-1])
    assert d2["rows_in"] == 0  # checkpoint already covers every snapshot
    assert "retired stream checkpoint" in out2.stderr
    assert "expired" in out2.stderr and "refused" not in out2.stderr
    assert not list(pages_root.rglob("part-*"))  # only compact-* files live
    assert list(pages_root.rglob("compact-*"))

    # 3) maintenance-only invocation (no --stream/--generate): compacting an
    #    already-compact table is a no-op, expiry finds nothing to reclaim —
    #    rerunning maintenance does not grow the table (ADVICE r2: bounded
    #    growth under routine maintenance) and, critically, does NOT process
    #    pages: batch mode's independent cursor would re-route every
    #    already-streamed row under pages-snap-* markers
    before = sorted(p.name for p in pages_root.rglob("compact-*"))
    routed_before = _routed_rows(data_dir)
    out3 = _run_cli("--data-dir", data_dir, "--maintenance-only",
                    "--compact-pages", "--expire-pages-snapshots")
    d3 = json.loads([l for l in out3.stdout.splitlines()
                     if l.startswith('{"batches')][-1])
    assert d3["rows_in"] == 0 and d3["batches"] == 0
    assert "pages table already compact" in out3.stderr
    assert "expired 0 pages data file(s)" in out3.stderr
    assert sorted(p.name for p in pages_root.rglob("compact-*")) == before
    assert _routed_rows(data_dir) == routed_before


def test_batch_mode_refuses_stream_managed_layout(tmp_path):
    """A fresh-cursor batch run over a stream-drained layout would duplicate
    every routed row (different idempotence markers); the CLI must refuse."""
    data_dir = str(tmp_path / "data")
    _run_cli("--generate", "300", "--snapshots", "2",
             "--data-dir", data_dir, "--stream")
    out = _run_cli("--data-dir", data_dir, expect_rc=2)  # argparse error exit
    assert "managed by stream checkpoint(s)" in out.stderr
    assert _routed_rows(data_dir) == 300  # nothing was duplicated


def test_batch_mode_fails_closed_on_unreadable_stream_checkpoint(tmp_path):
    """A registered stream whose checkpoint dir is GONE (deleted/moved)
    has an unknowable drain state: assuming 'drained nothing' would
    re-route every streamed row. The guard must refuse — fail closed, not
    open — until the checkpoint is restored or the stream retired."""
    import shutil

    data_dir = str(tmp_path / "data")
    _run_cli("--generate", "300", "--snapshots", "2",
             "--data-dir", data_dir, "--stream")
    ckpt_dir = Path(data_dir) / "checkpoint.stream_ckpt"
    assert ckpt_dir.is_dir()
    shutil.rmtree(ckpt_dir)

    out = _run_cli("--data-dir", data_dir, expect_rc=2)
    assert "drain state cannot be read" in out.stderr
    assert _routed_rows(data_dir) == 300  # nothing was duplicated

    # --retire-stream acknowledges the stream is done and clears the
    # refusal (the error message directs the operator to audit the sink's
    # stream-* markers before batch-processing history)
    _run_cli("--data-dir", data_dir, "--maintenance-only", "--retire-stream")
    assert _routed_rows(data_dir) == 300


def test_stream_mode_refuses_batch_managed_layout(tmp_path):
    """The mirror of the batch-side guard: a fresh stream checkpoint lists
    EVERY part-* file of the pages table, so streaming a layout whose sink
    already holds batch-committed rows (pages-snap-* markers) would
    re-route all of them as duplicates under stream-* markers."""
    data_dir = str(tmp_path / "data")
    _run_cli("--generate", "300", "--snapshots", "2", "--data-dir", data_dir)
    assert _routed_rows(data_dir) == 300
    out = _run_cli("--data-dir", data_dir, "--stream", expect_rc=2)
    assert "already holds batch-committed rows" in out.stderr
    assert _routed_rows(data_dir) == 300  # nothing was duplicated


def test_snapshot_modes_refuse_logfile_managed_sink(tmp_path):
    """--log-file refuses a snapshot-pipeline sink (tested in
    test_logfiles); the guard must hold in the OTHER direction too:
    batch/stream runs must not append pages rows into a sink --log-file
    owns — the mix would corrupt before the next --log-file run errors."""
    log = tmp_path / "a.log"
    log.write_text('{"time":"2026-01-02T03:04:05Z","host":"h.example",'
                   '"status_code":200,"duration":0.5}\n')
    out_dir = str(tmp_path / "shared_out")
    _run_cli("--log-file", str(log), "--out", out_dir)

    data_dir = str(tmp_path / "data")
    out = _run_cli("--generate", "100", "--data-dir", data_dir,
                   "--out", out_dir, expect_rc=2)
    assert "managed by --log-file" in out.stderr
    # the log-file sink is untouched
    m = json.loads((Path(out_dir) / "routed" / "manifest.json").read_text())
    assert all(s["marker"].startswith("logfiles-") for s in m["snapshots"])


def test_log_file_rejects_maintenance_flags(tmp_path):
    """--log-file must fail loud on maintenance flags it cannot run, not
    silently drop the user's requested compaction/expiry."""
    log = tmp_path / "a.log"
    log.write_text("{}\n")
    out = _run_cli("--log-file", str(log), "--compact", expect_rc=2)
    assert "does not run maintenance flags" in out.stderr


def test_crashed_aggregate_write_heals_on_rerun(tmp_path):
    """Finding: the aggregate tables live OUTSIDE the sink's idempotence-
    marker domain — a crash after the routed commit but before (or during)
    write_aggregates left them stale forever, because the marker no-op
    re-run skipped the write. The staleness stamp (routed-state
    fingerprint on each aggregate table) makes an idle re-run heal them."""
    import shutil

    data_dir = str(tmp_path / "data")
    _run_cli("--generate", "300", "--snapshots", "2", "--data-dir", data_dir)
    # simulate the crash window: the routed sink is committed but the
    # aggregate tables never landed
    shutil.rmtree(Path(data_dir) / "out" / "agg_by_host")
    shutil.rmtree(Path(data_dir) / "out" / "agg_by_window")

    out = _run_cli("--data-dir", data_dir)  # idle: no new snapshots
    d = json.loads([l for l in out.stdout.splitlines()
                    if l.startswith('{"batches')][-1])
    assert d["rows_in"] == 0 and d["batches"] == 0
    assert d["aggregate_tables"].get("agg_by_host", 0) > 0  # healed
    assert (Path(data_dir) / "out" / "agg_by_window").is_dir()
    # and the final summary rendered from the healed table has data rows
    # (a concrete corpus host, not just the header)
    assert "Host" in out.stdout and "chatgpt.com" in out.stdout

    # a further idle re-run is a true no-op: stamps match, nothing rewritten
    out2 = _run_cli("--data-dir", data_dir)
    d2 = json.loads([l for l in out2.stdout.splitlines()
                     if l.startswith('{"batches')][-1])
    assert d2["aggregate_tables"] == {}


def test_batch_mode_refuses_stale_cursor_behind_stream(tmp_path):
    """ADVICE r3: a STALE batch checkpoint (cursor behind what the stream
    drained) duplicates just like a fresh one — batch would resume at its
    old cursor and re-route stream-drained snapshots under pages-snap-*
    markers the sink has never seen. The guard reads the drained set from
    the stream checkpoint's file-source metadata log, so it must refuse the
    stale shape too, and must NOT refuse a caught-up batch cursor."""
    data_dir = str(tmp_path / "data")
    _run_cli("--generate", "300", "--snapshots", "2",
             "--data-dir", data_dir, "--stream")
    ckpt = Path(data_dir) / "checkpoint.json"

    # stale cursor: pretends a pre-stream batch era processed snapshot 1
    # only; the stream has since drained snapshots 1 AND 2
    ckpt.write_text(json.dumps({"last_snapshot_id": 1, "batches": []}))
    out = _run_cli("--data-dir", data_dir, expect_rc=2)
    assert "ahead of the batch cursor (1" in out.stderr
    assert _routed_rows(data_dir) == 300

    # --from-start ignores the cursor entirely: same refusal
    out = _run_cli("--data-dir", data_dir, "--from-start", expect_rc=2)
    assert "ahead of the batch cursor (0" in out.stderr

    # caught-up cursor (= everything the stream drained): batch may run —
    # it has nothing to re-route, and new appends belong to whoever takes
    # them first
    ckpt.write_text(json.dumps({"last_snapshot_id": 2, "batches": []}))
    out = _run_cli("--data-dir", data_dir)
    d = json.loads([l for l in out.stdout.splitlines()
                    if l.startswith('{"batches')][-1])
    assert d["rows_in"] == 0 and d["batches"] == 0
    assert _routed_rows(data_dir) == 300


def test_compact_reporting_retries_conflicts(capsys):
    """The CLI's compact wrapper follows the CommitConflict contract:
    retry (a concurrent ingest advanced the base), and report exhaustion
    as a clean outcome — a traceback would also skip the aggregate heal
    and the JSON summary that follow it in main()."""
    from access_log_aggregator_spark.cli import _compact_reporting
    from access_log_aggregator_spark.sources.tableio import CommitConflict

    class Flaky:
        def __init__(self, failures):
            self.failures, self.calls = failures, 0

        def compact(self, rows_per_file, sort_by=None, zorder_by=None,
                    spark=None):
            self.calls += 1
            self.sort_by = sort_by
            if self.calls <= self.failures:
                raise CommitConflict("table advanced")
            return 7

    t = Flaky(failures=2)
    _compact_reporting(t, "routed sink", 1000, sort_by=["warc_ts"])
    assert t.calls == 3
    assert t.sort_by == ["warc_ts"]  # --compact-sort-by reaches compact()
    assert "compacted routed sink -> snapshot 7" in capsys.readouterr().err

    t = Flaky(failures=99)
    _compact_reporting(t, "routed sink", 1000, retries=4)
    assert t.calls == 4
    err = capsys.readouterr().err
    assert "skipped: concurrent commits" in err and "4 attempts" in err


def test_compact_reporting_reports_caller_errors_clean(capsys):
    """A ValueError out of compact() (e.g. a --compact-sort-by typo) is a
    caller error, not a race: no retry would change it, and a traceback
    would skip the aggregate heal and summary that follow in main()."""
    from access_log_aggregator_spark.cli import _compact_reporting

    class Bad:
        calls = 0

        def compact(self, rows_per_file, sort_by=None, zorder_by=None,
                    spark=None):
            self.calls += 1
            raise ValueError("compact sort_by column(s) ['warcts'] not in "
                             "the table schema")

    t = Bad()
    _compact_reporting(t, "pages table", 1000, sort_by=["warcts"])
    assert t.calls == 1  # not retried
    err = capsys.readouterr().err
    assert "skipped" in err and "warcts" in err


def test_compact_reporting_retries_missing_files(capsys):
    """FileNotFoundError out of compact() is the CAS race seen one stage
    earlier — a concurrent truncate/expire unlinked a file between the
    listing and the footer reads — and must retry like CommitConflict
    (the re-listing heals it), never propagate a traceback that skips
    the aggregate heal and summary."""
    from access_log_aggregator_spark.cli import _compact_reporting

    class Flaky:
        def __init__(self, failures):
            self.failures, self.calls = failures, 0

        def compact(self, rows_per_file, sort_by=None, zorder_by=None,
                    spark=None):
            self.calls += 1
            if self.calls <= self.failures:
                raise FileNotFoundError("data/part-dead.parquet")
            return 3

    t = Flaky(failures=2)
    _compact_reporting(t, "routed sink", 1000)
    assert t.calls == 3
    assert "compacted routed sink -> snapshot 3" in capsys.readouterr().err


class _FakeQuery:
    """Duck-typed StreamingQuery for the drain helper: scripted
    (isTriggerActive, lastProgress batchId) observations per poll."""

    def __init__(self, frames, exception=None):
        self.frames = list(frames)
        self.i = 0
        self.stopped = False
        self._exc = exception

    def _frame(self):
        return self.frames[min(self.i, len(self.frames) - 1)]

    @property
    def isActive(self):
        return not self.stopped and self._frame() is not None

    @property
    def status(self):
        f = self._frame()
        return {"isTriggerActive": f[0]} if f else {"isTriggerActive": False}

    @property
    def lastProgress(self):
        f = self._frame()
        if f is None or f[1] is None:
            return None
        return {"batchId": f[1]}

    def stop(self):
        self.stopped = True

    def exception(self):
        return self._exc


def test_drain_stops_at_batch_boundary_under_backtoback_triggers(monkeypatch):
    """Back-to-back triggers: isTriggerActive never reads False at a poll,
    so the drain must bound itself by the batchId — stop as soon as a
    batch NEWER than the one in flight at the signal commits, instead of
    ingesting new batches until the deadline."""
    from access_log_aggregator_spark import cli

    polls = {"n": 0}

    def fake_sleep(_s):
        polls["n"] += 1
        q.i += 1

    # signal lands mid-batch-8 (lastProgress still 7); batch 8 commits two
    # polls later but the next trigger is ALREADY active at every poll
    q = _FakeQuery([(True, 7), (True, 7), (True, 8), (True, 9), (True, 10)])
    monkeypatch.setattr("time.sleep", fake_sleep)
    cli._drain_live_query(q, timeout_s=60)
    assert q.stopped
    assert q._frame()[1] == 8  # stopped when 8 committed, not at deadline


def test_drain_stops_immediately_between_batches():
    from access_log_aggregator_spark import cli

    q = _FakeQuery([(False, 4)])
    cli._drain_live_query(q, timeout_s=60)
    assert q.stopped and q.i == 0


def test_drain_reraises_stream_failure(monkeypatch):
    """A query that FAILED during the drain window must not look like a
    graceful shutdown: the helper re-raises so main() exits nonzero
    instead of printing a healthy summary over a crashed stream."""
    import pytest

    from access_log_aggregator_spark import cli

    boom = RuntimeError("sink write failed")
    # one active poll, then the query dies (isActive False via None frame)
    q = _FakeQuery([(True, 7), None], exception=boom)
    monkeypatch.setattr("time.sleep", lambda _s: setattr(q, "i", q.i + 1))
    with pytest.raises(RuntimeError, match="sink write failed"):
        cli._drain_live_query(q, timeout_s=60)
    assert q.stopped


def test_sort_by_and_zorder_by_conflict_fails_fast():
    """--compact-sort-by + --compact-zorder-by must die at argparse time
    (rc 2, before a SparkSession exists): compact() raises ValueError for
    the combination, but _compact_reporting downgrades maintenance errors
    to a stderr 'skipped' note — the old behavior silently ran WITHOUT
    compacting (ADVICE r4)."""
    out = _run_cli("--generate", "10", "--data-dir", "/tmp/never-created",
                   "--compact-pages", "--compact-sort-by", "warc_ts",
                   "--compact-zorder-by", "host", expect_rc=2)
    assert "mutually exclusive" in out.stderr
    assert not Path("/tmp/never-created").exists()


def test_routed_sink_carries_stats_and_blooms_by_default(tmp_path):
    """Every live routed-sink file carries manifest stats + host equality
    blooms, so a downstream point lookup prunes with NO manual analyze —
    the write tasks return both with their file records, and the commit
    stays zero-footer-read."""
    import sys as _sys
    from pathlib import Path as _P

    _sys.path.insert(0, str(REPO))
    from access_log_aggregator_spark.sources.tableio import SnapshotTable

    data_dir = str(tmp_path / "data")
    _run_cli("--generate", "600", "--data-dir", data_dir, "--from-start")
    t = SnapshotTable(_P(data_dir) / "out" / "routed")
    assert t.bloom_cols() == ["host"]
    live = t.data_files()
    stats = t._file_stats()
    assert live and all(f in stats for f in live)
    for rec in stats.values():
        assert "host" in rec.get("bloomed", []), rec.get("bloomed")
    # blooms prove absence where min/max bounds cannot: a host name that
    # falls inside every file's lexical [min, max] but exists nowhere
    # plans ZERO files (deterministic — no dependence on which hosts
    # landed in which file)
    assert t.data_files(where=[("host", "=", "host00.example.net")]) == []
    # and a real host still reads correctly through the pruned path
    import duckdb
    con = duckdb.connect()
    some_host = con.sql(
        f"select min(host) from read_parquet('{t.root}/data/*/*.parquet')"
    ).fetchone()[0]
    planned = t.data_files(where=[("host", "=", some_host)])
    assert 0 < len(planned) <= len(live)


def test_failed_routed_sweep_leaves_properties_unchanged(tmp_path,
                                                         monkeypatch):
    """The default ``bloom_cols=host`` property persists only once a sweep
    built the blooms: when ``analyze`` raises, the routed table's
    properties stay as they were (and the run goes on)."""
    import pandas as pd

    sys.path.insert(0, str(REPO))
    from access_log_aggregator_spark.cli import _analyze_routed
    from access_log_aggregator_spark.sources.tableio import SnapshotTable

    t = SnapshotTable.create(tmp_path / "routed", "routed")
    t.append_pandas(pd.DataFrame({"host": ["a.example", "b.example"]}))
    before = t.properties()

    def boom(self, spark, parallelism=None, bloom_cols=None):
        raise RuntimeError("executor lost")

    monkeypatch.setattr(SnapshotTable, "analyze", boom)
    _analyze_routed(t, spark=None)
    assert t.properties() == before
    monkeypatch.setattr(SnapshotTable, "analyze",
                        lambda self, spark, parallelism=None, bloom_cols=None:
                        len(bloom_cols or []))
    _analyze_routed(t, spark=None)
    assert t.bloom_cols() == ["host"]


def test_salt_buckets_refused_where_it_has_no_effect(tmp_path, capsys):
    """--salt-buckets only salts the summary-only --log-file aggregation:
    combined with a run that writes aggregate tables (which the fold
    computes unsalted) it exits 2 before any Spark work."""
    import pytest

    sys.path.insert(0, str(REPO))
    from access_log_aggregator_spark.cli import main

    log = tmp_path / "a.log"
    log.write_text("{}\n")
    for extra in (["--log-file", str(log), "--out", str(tmp_path / "o")],
                  ["--log-file", str(log), "--data-dir", str(tmp_path / "d")],
                  ["--pages-table", str(tmp_path / "p"), "--out",
                   str(tmp_path / "o"), "--checkpoint", str(tmp_path / "c")],
                  ["--generate", "10", "--data-dir", str(tmp_path / "d")],
                  ["--data-dir", str(tmp_path / "d"), "--stream"]):
        with pytest.raises(SystemExit) as ei:
            main([*extra, "--salt-buckets", "4"])
        assert ei.value.code == 2, extra
        assert "--salt-buckets only salts" in capsys.readouterr().err
    assert not any(tmp_path.glob("[odpc]"))


def test_log_file_counts_agree_with_and_without_sinks(tmp_path):
    """The summary-only --log-file path counts classes with observe()
    metrics, --log-file --out with the write tasks' file records: on a log
    with parsed, unparsed and bot lines both report the same rows_in and
    sink_counts, and the salted summary equals the sink-backed one. (A
    log line cannot reach the error class: its html is the line itself.)"""
    log = tmp_path / "a.log"
    good = ('{"time":"2025-01-01T00:00:%02dZ","host":"%s",'
            '"status_code":%d,"duration":0.25}')
    lines = [(good % (i, f"h{i % 3}.com", 200 + 100 * (i % 2))).encode()
             for i in range(9)]
    lines += [b"not json", b"", b'{"time":"x"}',
              (good % (0, "crawler.example.ai", 200)).encode()]
    log.write_bytes(b"\n".join(lines) + b"\n")

    def run(*extra):
        out = _run_cli("--log-file", str(log), *extra)
        counts, *table = out.stdout.strip().splitlines()
        # the table's title carries the wall-clock time
        return json.loads(counts), [ln for ln in table
                                    if "Summary as of" not in ln]

    alone, table_alone = run("--salt-buckets", "4")
    sunk, table_sunk = run("--out", str(tmp_path / "out"))
    assert alone["rows_in"] == sunk["rows_in"] == len(lines)
    assert alone["sink_counts"] == sunk["sink_counts"]
    c = alone["sink_counts"]
    assert c == {"parsed": 9, "unparsed": 3, "bot": 1, "error": 0}
    assert table_alone == table_sunk
