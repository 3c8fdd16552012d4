"""Raw log-file ingestion (`--log-file`, sources/logfiles.py): the
reference's literal `-file a.log` input mode through the Spark pipeline —
line-delimiter semantics (empty lines malformed, unterminated tail held,
tailer.go:13-25), and the reference corpus end-to-end."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from access_log_aggregator_spark.operators.aggregate import aggregate_by_host
from access_log_aggregator_spark.plans.pipeline import build_routed
from access_log_aggregator_spark.sources.logfiles import (
    _unterminated_tail,
    canonical_paths,
    read_log_files,
)

REF_LOG = Path("/root/reference/test/testdata/log.log")

GOOD = (b'{"time":"2025-01-01T00:00:%02dZ","host":"%s",'
        b'"status_code":%d,"duration":0.25}')


def _line(i=0, host=b"a.com", status=200) -> bytes:
    return GOOD % (i % 60, host, status)


def _routed_counts(spark, lookup_sdf, paths):
    routed = build_routed(read_log_files(spark, paths), lookup_sdf)
    rows = routed.groupBy("match_class").agg(F.count("*").alias("n")).collect()
    return {r["match_class"]: r["n"] for r in rows}


def test_empty_lines_are_malformed_records(tmp_path, spark, lookup_sdf):
    """ReadBytes('\\n') delivers empty lines to json.Unmarshal, which
    fails -> malformed (model.go:18); read.text + the parse stage agree."""
    p = tmp_path / "a.log"
    p.write_bytes(_line(0) + b"\n\n" + _line(1) + b"\n\n\n")
    got = _routed_counts(spark, lookup_sdf, [p])
    assert got.get("parsed", 0) == 2
    assert got.get("unparsed", 0) == 3  # three empty lines, each a record


def test_unterminated_final_line_is_held(tmp_path, spark, lookup_sdf):
    """tailer.go:13-25 returns EOF without delivering a partial final
    line; once the newline arrives the line is a record. The hold drops
    exactly ONE occurrence even when an earlier complete line has
    identical text."""
    dup = _line(7)
    p = tmp_path / "a.log"
    p.write_bytes(dup + b"\n" + _line(8) + b"\n" + dup)  # no trailing \n
    got = _routed_counts(spark, lookup_sdf, [p])
    assert sum(got.values()) == 2  # the partial dup-text tail is held
    assert got.get("parsed", 0) == 2

    p.write_bytes(p.read_bytes() + b"\n")  # the newline lands
    got = _routed_counts(spark, lookup_sdf, [p])
    assert got.get("parsed", 0) == 3

    assert _unterminated_tail(p) is None
    empty = tmp_path / "empty.log"
    empty.write_bytes(b"")
    assert _unterminated_tail(empty) is None
    part = tmp_path / "part.log"
    part.write_bytes(b'{"partial')
    assert _unterminated_tail(part) == '{"partial'


def test_huge_unterminated_tail_is_exact(tmp_path, spark, lookup_sdf):
    """A partial line longer than the backward-scan chunk is recovered in
    FULL, so the hold still matches on equality. Two shapes the old
    fixed-probe endswith fallback got wrong:

    - a complete earlier line sharing the final probe-length suffix was
      ALSO dropped (data loss of a terminated record);
    - a multi-byte UTF-8 char spanning the probe boundary made the probe
      decode start with U+FFFD, the endswith missed, and the partial
      line LEAKED through as a record attempt."""
    from access_log_aggregator_spark.sources.logfiles import _TAIL_PROBE

    # filler: >1 chunk of newline-free bytes, with a multi-byte char
    # placed to span every possible chunk boundary alignment
    filler = ("é" * ((_TAIL_PROBE // 2) + 3)).encode("utf-8")
    partial = b'{"p":"' + filler  # unterminated, no closing quote/brace
    complete = b'X' + partial     # terminated line sharing the full suffix
    p = tmp_path / "huge.log"
    p.write_bytes(complete + b"\n" + partial)  # no trailing \n

    tail = _unterminated_tail(p)
    assert tail == partial.decode("utf-8")  # exact, not a suffix

    rows = [r["text"] for r in read_log_files(spark, [p]).collect()]
    assert len(rows) == 1                   # partial held, complete kept
    assert rows[0] == complete.decode("utf-8")


def test_cr_is_not_a_record_delimiter(tmp_path, spark, lookup_sdf):
    """The reference delimiter is ReadBytes('\\n') — a \\r is line CONTENT,
    not a delimiter (the scan pins lineSep='\\n'; Spark's default would
    split on \\r too). Three shapes:
    - CRLF line endings: the record carries a trailing \\r, which the
      parse grammar ignores as trailing whitespace exactly like Go's
      json.Unmarshal — valid records;
    - 'a\\rb' with no newline at all: ONE unterminated line to the
      reference, so the whole file is held — zero records;
    - a file ending in a bare \\r: still unterminated (held)."""
    crlf = tmp_path / "crlf.log"
    crlf.write_bytes(_line(0) + b"\r\n" + _line(1) + b"\r\n")
    got = _routed_counts(spark, lookup_sdf, [crlf])
    assert got == {"parsed": 2}

    mid_cr = tmp_path / "midcr.log"
    mid_cr.write_bytes(_line(2) + b"\r" + _line(3))  # no \n anywhere
    got = _routed_counts(spark, lookup_sdf, [mid_cr])
    assert got == {}  # the single partial line is held in full

    bare_cr = tmp_path / "barecr.log"
    bare_cr.write_bytes(_line(4) + b"\r")
    assert _unterminated_tail(bare_cr) is not None  # \r does not terminate
    got = _routed_counts(spark, lookup_sdf, [bare_cr])
    assert got == {}


def test_symlinked_path_still_holds_tail(tmp_path, spark, lookup_sdf):
    """input_file_name() reports the path AS GIVEN (symlinks un-followed);
    the held-tail rows must be keyed the same way, or the hold silently
    never matches. canonical_paths uses abspath, not resolve()."""
    real = tmp_path / "real.log"
    real.write_bytes(_line(0) + b"\n" + b'{"partial')
    link = tmp_path / "link.log"
    link.symlink_to(real)
    got = _routed_counts(spark, lookup_sdf, [link])
    assert got == {"parsed": 1}  # partial tail held, complete line kept


def test_duplicate_paths_read_once(tmp_path, spark, lookup_sdf):
    """The same file listed twice (twice literally, or via ./ spelling) is
    scanned once — a double-listed unterminated file would otherwise get
    duplicate held rows whose broadcast join MULTIPLIES every line."""
    p = tmp_path / "a.log"
    p.write_bytes(_line(0) + b"\n" + _line(1) + b"\n" + b'{"partial')
    assert len(canonical_paths([p, str(p), f"{tmp_path}/./a.log"])) == 1
    got = _routed_counts(spark, lookup_sdf, [p, str(p)])
    assert got == {"parsed": 2}


def test_multiple_files_fan_in(tmp_path, spark, lookup_sdf):
    a, b = tmp_path / "a.log", tmp_path / "b.log"
    a.write_bytes(b"\n".join(_line(i, b"a.com") for i in range(5)) + b"\n")
    b.write_bytes(b"\n".join(_line(i, b"b.com", 404) for i in range(3)) + b"\n")
    routed = build_routed(read_log_files(spark, [a, b]), lookup_sdf)
    valid = routed.filter(F.col("match_class").isin("parsed", "bot"))
    rows = {r["host"]: r for r in aggregate_by_host(valid).collect()}
    assert rows["a.com"]["total_requests"] == 5
    assert rows["a.com"]["requests_2xx"] == 5
    assert rows["b.com"]["total_requests"] == 3
    assert rows["b.com"]["requests_2xx"] == 0
    # per-file lineage in the adapted url column
    srcs = {r["url"] for r in routed.select("url").distinct().collect()}
    assert srcs == {f"log://{a.resolve().as_uri()}",
                    f"log://{b.resolve().as_uri()}"}


@pytest.mark.skipif(not REF_LOG.exists(), reason="reference corpus absent")
def test_reference_corpus_through_log_source(spark, lookup_sdf):
    """The reference's own 1000-line fixture via the RAW-FILE source (not
    page embedding): per-host aggregate == the oracle fold == goldens."""
    from access_log_aggregator_spark.oracle import Summaries

    oracle = Summaries()
    for line in REF_LOG.read_bytes().split(b"\n"):
        if line:
            oracle.aggregate_raw(line)

    routed = build_routed(read_log_files(spark, [REF_LOG]), lookup_sdf)
    valid = routed.filter(F.col("match_class").isin("parsed", "bot"))
    rows = {r["host"]: r for r in aggregate_by_host(valid).collect()}
    assert set(rows) == set(oracle.by_host)
    for host, s in oracle.by_host.items():
        r = rows[host]
        assert (r["total_requests"], r["requests_2xx"]) == (
            s.request_total, s.request_2xx)
        assert abs(float(r["sum_duration_s"]) - s.duration_total) < 1e-9


def test_cli_log_file_mode_sink_idempotence(tmp_path):
    """--log-file with --out commits under a (path,size,mtime) marker:
    re-running over unchanged files is a sink no-op; appending a line
    re-commits the new state. Subprocess per run (the CLI owns and stops
    its SparkSession — in-process it would stop the shared fixture)."""
    import subprocess
    import sys as _sys

    from access_log_aggregator_spark.sources.tableio import SnapshotTable

    repo = Path(__file__).resolve().parent.parent
    p = tmp_path / "a.log"
    b = tmp_path / "b.log"
    p.write_bytes(b"\n".join(_line(i) for i in range(4)) + b"\n")
    b.write_bytes(_line(5, b"b.com") + b"\n")
    out = tmp_path / "out"

    def run(*log_files):
        flags = []
        for f in log_files or (p, b):
            flags += ["--log-file", str(f)]
        r = subprocess.run(
            [_sys.executable, "-m", "access_log_aggregator_spark.cli",
             *flags, "--out", str(out), "--master", "local[2]"],
            capture_output=True, text=True, timeout=420, cwd=str(repo),
        )
        assert r.returncode == 0, r.stderr[-3000:]
        return json.loads(r.stdout.strip().splitlines()[0])

    first = run(p, b)
    assert first["rows_in"] == 5 and first["sink_counts"]["parsed"] == 5
    routed = SnapshotTable(out / "routed")
    agg = SnapshotTable(out / "agg_by_host")
    assert routed.row_count() == 5
    assert first["aggregate_tables"]["agg_by_host"] == agg.row_count() == 2

    # unchanged files, REVERSED flag order: same canonical signature, so
    # the marker dedupes and nothing is truncated or recommitted
    second = run(b, p)
    assert routed.row_count() == 5
    assert second["rows_in"] == 0  # duplicate commit reports a no-op

    with open(p, "ab") as f:
        f.write(_line(9, b"c.com") + b"\n")
    third = run(p, b)
    # -from-start rebuild semantics: the NEW full state replaces the old
    # (truncate + commit), so the grown file does not duplicate old lines
    assert third["rows_in"] == 6
    assert routed.row_count() == 6
    assert agg.row_count() == 3  # a.com, b.com, c.com

    # logrotate-copytruncate shape: files empty out -> the rebuild commits
    # the EMPTY state and the aggregate tables truncate with it instead of
    # reporting the previous run
    p.write_bytes(b"")
    b.write_bytes(b"")
    fourth = run(p, b)
    assert fourth["rows_in"] == 0 and fourth["sink_counts"]["parsed"] == 0
    assert routed.row_count() == 0
    assert agg.row_count() == 0
    assert fourth["aggregate_tables"].get("agg_by_host") == 0


def test_cli_log_file_refuses_pipeline_managed_out(tmp_path):
    """--log-file REBUILDS the routed sink (truncate + recommit): pointing
    --out at a layout the snapshot pipeline owns would destroy its rows
    while its checkpoint still claims them routed. The CLI must refuse
    (before creating a SparkSession, so this test is cheap)."""
    from access_log_aggregator_spark.cli import main
    from access_log_aggregator_spark.sources.tableio import SnapshotTable

    out = tmp_path / "out"
    t = SnapshotTable.create(out / "routed", "routed")
    t._commit_files([], 0, marker="pages-snap-3")
    log = tmp_path / "a.log"
    log.write_bytes(_line(0) + b"\n")
    with pytest.raises(SystemExit) as ei:
        main(["--log-file", str(log), "--out", str(out)])
    assert ei.value.code == 2  # argparse error exit


#: host bytes that are not valid UTF-8: lone bytes, truncated 2/3/4-byte
#: sequences, an overlong, a surrogate and an out-of-range code point
_INVALID_HOSTS = [b"\xff\xfe.com", b"a\x80.com", b"b\xc3.com",
                  b"c\xe2\x82.com", b"d\xf0\x9f\x98.com", b"e\xc0\xaf.com",
                  b"f\xed\xa0\x80.com", b"g\xf4\x90\x80\x80.com"]


def test_invalid_utf8_tail_is_held_then_routed(tmp_path, spark, lookup_sdf):
    """An unterminated final line holding invalid bytes is held back like
    any other (the driver-side tail decode and the scan replace invalid
    bytes the same way); once its newline lands it routes as parsed with
    the host the oracle decodes (U+FFFD per invalid sequence)."""
    from access_log_aggregator_spark.oracle.parser import go_parse_record

    for host in _INVALID_HOSTS:
        p = tmp_path / "a.log"
        tail = _line(1, host)
        p.write_bytes(_line(0) + b"\n" + tail)
        assert _routed_counts(spark, lookup_sdf, [p]) == {"parsed": 1}, host

        p.write_bytes(p.read_bytes() + b"\n")
        routed = build_routed(read_log_files(spark, [p]), lookup_sdf)
        rows = routed.select("match_class", "host").collect()
        assert sorted((r["match_class"], r["host"]) for r in rows) == sorted(
            [("parsed", "a.com"),
             ("parsed", go_parse_record(tail).host)]), host


def test_cli_log_file_routes_invalid_utf8_like_the_oracle(tmp_path):
    """A log line with invalid UTF-8 used to crash the Arrow parse path
    (``ArrowException: Wrapping ... failed``). Summary-only and --out runs
    now report the oracle's counts, and the --out run's agg_by_host table
    holds the oracle's per-host totals; both print the oracle's table."""
    import subprocess
    import sys as _sys

    import pyarrow.parquet as pq

    from access_log_aggregator_spark.oracle.summaries import (
        Summaries,
        format_summaries,
    )
    from access_log_aggregator_spark.sources.tableio import SnapshotTable

    repo = Path(__file__).resolve().parent.parent
    lines = [_line(i, b"h%d.com" % (i % 2), 200 + 300 * (i % 2))
             for i in range(4)]
    lines += [_line(10 + i, h) for i, h in enumerate(_INVALID_HOSTS)]
    lines += [b"not json \xff", b"", _line(30, b"crawler.example.ai")]
    log = tmp_path / "a.log"
    log.write_bytes(b"\n".join(lines) + b"\n")

    oracle = Summaries()
    for ln in lines:
        oracle.aggregate_raw(ln)

    def table(text):
        return [ln for ln in text.splitlines() if "Summary as of" not in ln]

    def run(*extra):
        r = subprocess.run(
            [_sys.executable, "-m", "access_log_aggregator_spark.cli",
             "--log-file", str(log), *extra, "--master", "local[2]"],
            capture_output=True, text=True, timeout=420, cwd=str(repo),
        )
        assert r.returncode == 0, r.stderr[-3000:]
        first, rest = r.stdout.split("\n", 1)
        counts = json.loads(first)
        assert counts["rows_in"] == len(lines)
        assert counts["malformed"] == oracle.malformed
        c = counts["sink_counts"]
        assert c["parsed"] + c["bot"] == len(lines) - oracle.malformed
        assert table(rest) == table(format_summaries(oracle) + "\n")
        return counts

    alone = run()
    out = tmp_path / "out"
    sunk = run("--out", str(out))
    assert alone["sink_counts"] == sunk["sink_counts"]
    agg = SnapshotTable(out / "agg_by_host")
    got = {r["host"]: (r["total_requests"], r["requests_2xx"],
                       float(r["sum_duration_s"]))
           for r in pq.read_table(agg.data_files()).to_pylist()}
    assert got == {h: (s.request_total, s.request_2xx, s.duration_total)
                   for h, s in oracle.by_host.items()}
