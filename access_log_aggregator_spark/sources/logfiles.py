"""Raw access-log files as a Spark source — the reference's literal input.

The reference CLI is ``accessAgg -file a.log -file b.log`` over
newline-delimited JSON access logs (internal/config/flags.go:10-43,
internal/app/tail.go:19-43). This module maps that input mode onto a
distributed scan: ``spark.read.text`` splits each file into line rows at
HDFS-block granularity (parallel across executors, no driver loop), and
:func:`read_log_files` adapts the rows to the pages schema so the ENTIRE
existing pipeline — extraction (identity on a bare log line; byte-parity
proven on the reference corpus in tests/test_reference_corpus.py), the
dual parse engines, validation, enrich/route, salted aggregation —
runs unchanged on raw logs.

Semantics matched to the reference tailer:

- ``\\n`` is THE record delimiter and nothing else is: the reference reads
  ``ReadBytes('\\n')`` (tailer/tailer.go:14), so a ``\\r`` is ordinary line
  content (Go's ``json.Unmarshal`` then ignores it as trailing whitespace
  in the CRLF case). The scan sets ``lineSep="\\n"`` explicitly because
  ``spark.read.text``'s DEFAULT splits on ``\\r`` and ``\\r\\n`` too, which
  would both emit records the reference never sees (``a\\rb`` is ONE
  incomplete line to the reference, two rows to the default) and break the
  driver-side unterminated-tail probe below;
- the reference hands the line to ``json.Unmarshal`` INCLUDING the
  delimiter (and any CR before it), and Go's scanner skips exactly
  ``space \\t \\r \\n`` at both ends — so this source ``btrim``s that
  four-char set off each line before the pipeline's anchored extraction
  (``LINE_PATTERN`` requires the object flush at ``^``/``$``).
  Observationally identical to Go on every input: edge whitespace is
  ignored there, interior whitespace is untouched here;
- every delivered line is a record attempt — empty lines reach the parser
  and count as malformed, exactly like ``json.Unmarshal("")`` failing in
  ``model.go:18`` (``spark.read.text`` yields ``""`` for them);
- invalid UTF-8 becomes U+FFFD: the text source keeps a line's raw
  bytes, so the scan applies ``make_valid_utf8`` to each line before
  anything else reads it (Go's encoding/json substitutes the same
  replacement rune inside string values, and the oracle decodes with
  ``errors="replace"``), so the malformed/valid split agrees
  byte-for-byte and the Arrow parse path never meets invalid bytes;
- an UNTERMINATED final line is held back, not processed:
  ``tailer.go:13-25`` returns EOF without delivering a partial line (the
  newline is the record delimiter — the line may still be mid-write), so
  :func:`read_log_files` recovers each file's complete unterminated tail
  driver-side (one backward chunk scan per FILE, not per row; usually a
  single 1 MB read) and drops exactly one occurrence of that exact line
  from that file. The drop uses a row_number window over rows identical
  in (file, text) — any one of them is the same row, so the
  nondeterministic pick does not affect results — and the window only
  ever runs when an unterminated file exists at all.

Paths are canonicalized with ``os.path.abspath`` — NOT ``resolve()`` —
and deduplicated before the scan: the held-tail join matches on
``input_file_name()``, which reports the path AS HANDED to the reader
(symlinks un-followed), so building the held rows from a symlink-resolved
path would silently never match and the partial line would leak through.
Listing the same file twice reads it once (the reference would tail a
double-listed file twice and double-count it — a degenerate shape; the
dedupe is the deliberate divergence).

At 100 TB: text-file splitting is per-block, so one huge log file still
scans wide; the hold-back check normally reads ONE ``_TAIL_PROBE`` chunk
per file on the driver (file COUNT-proportional, like any listing) and
only scans further back for the pathological no-newline-in-the-last-MB
tail, where it reads exactly the partial line the reference tailer would
buffer in RAM anyway; all downstream processing is the audited pipeline
(PLANS.md).
"""

from __future__ import annotations

import os
from pathlib import Path
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: chunk size for the backward scan that recovers an unterminated tail;
#: most files resolve in ONE tail read of this size (the common case: the
#: last chunk either ends in \n — nothing held — or contains the \n that
#: starts the partial line)
_TAIL_PROBE = 1 << 20


def canonical_paths(paths: Iterable[str | Path]) -> list[Path]:
    """Absolute (but NOT symlink-resolved — see module docstring), order-
    preserving, deduplicated path list: the single canonical form shared
    by the scan, the held-tail join and the CLI's idempotence marker."""
    return [Path(p) for p in dict.fromkeys(os.path.abspath(p) for p in paths)]


def _unterminated_tail(path: Path) -> str | None:
    """The file's COMPLETE trailing bytes after the last newline, decoded
    as the scan sees them (invalid UTF-8 -> U+FFFD) — or None when the
    file is empty or newline-terminated (nothing held). A trailing ``\\r`` does NOT
    terminate: the reference's delimiter is ``\\n`` alone.

    Scans backward in ``_TAIL_PROBE`` chunks until a newline (or BOF), so
    the held tail is always EXACT and the drop matches on equality. A
    fixed-size probe matched on ``endswith`` — the previous design — is
    unsound in both directions for a partial line longer than the probe:
    the probe window can open mid-UTF-8-sequence (its decode then starts
    with U+FFFDs the full line's decode does not contain, so the partial
    line LEAKS), and an earlier complete line sharing the probe-length
    suffix also matches (a terminated record is wrongly DROPPED). Reading
    back to the real newline removes both: the decode starts at a char
    boundary, and only the partial line itself can equal the full tail.
    Memory is O(tail length) on the driver — the reference tailer holds
    the same partial line in one buffer (tailer.go ReadBytes), and the
    text source materializes any line as one row value anyway."""
    size = path.stat().st_size
    if size == 0:
        return None
    buf = b""
    end = size
    with open(path, "rb") as f:
        while True:
            start = max(0, end - _TAIL_PROBE)
            f.seek(start)
            chunk = f.read(end - start)
            if not buf and chunk.endswith(b"\n"):
                return None  # final byte is the delimiter: nothing held
            buf = chunk + buf
            if b"\n" in chunk or start == 0:
                break
            end = start
    tail = buf.rsplit(b"\n", 1)[-1]
    # the replacement the scan applies with make_valid_utf8
    return tail.decode("utf-8", errors="replace")


def read_log_files(spark: SparkSession, paths: Iterable[str | Path],
                   hold_unterminated: bool = True) -> DataFrame:
    """Raw newline-JSON access-log files -> a pages-shaped DataFrame.

    Output schema matches the pages table (url, warc_ts, html, text,
    lang): ``text`` is the line with invalid UTF-8 replaced by U+FFFD
    (the same replacement :func:`_unterminated_tail` applies, so the held
    tail still matches), ``url`` is ``log://<file>`` lineage, ``html``
    re-encodes the line, ``warc_ts`` is the epoch placeholder (the
    reference carries no per-file event time; the record's OWN ``time``
    field is what validation/aggregation read downstream), ``lang`` null.
    """
    paths = canonical_paths(paths)
    df = (spark.read.option("lineSep", "\n")  # \n ONLY — tailer parity
          .text([str(p) for p in paths])
          .select(F.make_valid_utf8("value").alias("text"),
                  F.input_file_name().alias("_src")))

    if hold_unterminated:
        held = [(p.as_uri(), t)
                for p in paths
                for t in [_unterminated_tail(p)] if t is not None]
        if held:
            held_df = spark.createDataFrame(held, "_src string, _tail string")
            df = df.join(F.broadcast(held_df), on="_src", how="left")
            affected = F.col("_tail").isNotNull() & (
                F.col("text") == F.col("_tail")
            )
            # Split so the row_number shuffle carries ONLY the rows whose
            # text equals an unterminated file's tail (normally exactly
            # one row per held file) — a single conditional window over
            # the whole frame would hash-shuffle every line of every
            # file. Rows identical in (_src, text) are interchangeable,
            # so the unordered pick drops "the" partial tail
            # deterministically in effect: exactly one copy per file.
            rest = df.where(~affected)
            w = Window.partitionBy("_src", "text").orderBy(F.lit(1))
            extra_copies = (
                df.where(affected)
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") > 1)
                .drop("_rn")
            )
            df = rest.unionByName(extra_copies).drop("_tail")

    # Go-whitespace trim (see module docstring) AFTER the hold logic: the
    # held tail is matched against the raw line bytes, not the trim
    line = F.btrim(F.col("text"), F.lit(" \t\r\n"))
    return df.select(
        F.concat(F.lit("log://"), F.col("_src")).alias("url"),
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz").alias("warc_ts"),
        F.encode(line, "UTF-8").alias("html"),
        line.alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
