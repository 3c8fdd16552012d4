"""Parse stage: extraction -> field capture -> validation, all declarative.

Re-expresses the reference's per-line NewRecord path
(internal/accesslog/model.go:16-29) as Catalyst expressions over the
extracted payload column:

- FAST PATH: ``regexp_extract`` with the canonical FIELD_PATTERN (JVM-side,
  whole-stage-codegen friendly — the projection-at-parse analog of the
  reference's struct tags, model.go:9-14), gated by the dup-primary-key
  count check (functions/extract.py PRIMARY_KEY_PATTERN). The gated pattern
  only matches lines Go's json.Unmarshal accepts with identical values
  (fixed key order, each primary key exactly once, escape-free strings,
  strict JSON numbers, well-formed flat extras) — the overwhelming majority
  of any real access-log corpus.
- WIDE-GRAMMAR FALLBACK (rows that miss the fast path): the full
  json.Unmarshal grammar — reordered keys, interstitial whitespace, escaped
  strings, duplicate keys (last wins), trailing-content rejection
  (model_test.go:30), strict field typing — decoded by
  :func:`...functions.parse_udf.extract_parse_udf`: extraction AND fallback
  in ONE ArrowEvalPython node, exact Go semantics via the shared
  ``go_unmarshal_fields`` primitive. The fast-path check is vectorized RE2,
  so per-row Python touches only the rare remainder.
- validation: the model.go:24 predicate, with present-but-zero handled
  exactly (``status_code == 0`` / ``duration == 0.0`` reject);
- timestamp: RFC3339 with optional 1-9 digit fraction; nanoseconds truncate
  to Spark's microsecond TimestampType (SURVEY.md §7.3 — aggregation never
  reads sub-second precision).

Column pruning note: this stage reads ``text`` and ``html`` once each
(extraction + UTF-8 validity); everything downstream selects narrow columns
so the wide page body never crosses a shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import extract as X
from ..functions.parse_udf import extract_parse

_TS_BASE_RE = r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})"
_TS_FRAC_RE = r"^[^.]*\.(\d{1,9})"
_TS_OFF_RE = r"(Z|[+-]\d{2}:\d{2})$"
_GO_ZERO = "0001-01-01T00:00:00+00:00"

def _log_ts(time_str: Column) -> Column:
    """RFC3339 string -> TimestampType (UTC instant, micros, null if invalid).

    try_to_timestamp also rejects impossible calendar dates (Feb 30), the
    analog of Go time.Parse failing inside json unmarshal.

    The zone offset is applied by explicit arithmetic, not the pattern's
    ``xxx`` directive: java.time caps ZoneOffset at +/-18:00 while Go's
    strict RFC3339 decoder (parseRFC3339, the time.Time.UnmarshalJSON path)
    accepts hours 00-23 / minutes 00-59 — ``+19:30`` is a VALID offset to
    the reference and ``+24:00`` / ``+05:99`` are unmarshal errors. The
    base always parses at +00:00 (session-timezone-independent); the
    offset's signed minutes fold into ONE timestamp_add together with the
    fractional micros (east of UTC subtracts), null when out of Go's
    bounds.

    Code-size note: this whole expression lands inside ONE generated
    ``processNext`` method for the parse stage; keep it lean. A branchier
    formulation (separate Z/offset timestamp_adds) pushed that method past
    HotSpot's 8000-byte JIT limit and the stage silently ran interpreted
    at ~2x JVM CPU — tests/test_plans.py pins the compiled method size.
    """
    base = F.regexp_extract(time_str, _TS_BASE_RE, 1)
    off = F.regexp_extract(time_str, _TS_OFF_RE, 1)
    frac = F.regexp_extract(time_str, _TS_FRAC_RE, 1)
    ts0 = F.try_to_timestamp(
        F.concat(base, F.lit("+00:00")),
        F.lit("yyyy-MM-dd'T'HH:mm:ssxxx"),
    )
    oh = F.substring(off, 2, 2).cast("int")
    om = F.substring(off, 5, 2).cast("int")
    # signed offset minutes: 0 for Z, null (-> null instant) beyond Go's
    # hh<=23 / mm<=59 bounds; east of UTC is a POSITIVE offset
    offmin = (
        F.when(off == "Z", F.lit(0))
        .when(
            (oh <= 23) & (om <= 59),
            F.when(F.substring(off, 1, 1) == "-", -1).otherwise(1)
            * (oh * 60 + om),
        )
    )
    # "" (no fraction) rpads to "000000" -> 0, so no branch is needed
    micros = F.rpad(F.substring(frac, 1, 6), 6, "0").cast("long")
    return F.timestamp_add(
        "MICROSECOND", micros - offmin.cast("long") * 60_000_000, ts0
    )


def parse_stage(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> parsed frame with validity flags.

    Output columns: url, warc_ts, lang, html_valid, extracted_text,
    log_time_str, host, status_code, duration, log_ts, record_valid,
    parse_reason (null when record_valid), source_partition (lineage).
    """
    df = pages.withColumn("html_valid", F.is_valid_utf8(F.col("html")))
    # ONE ArrowEvalPython node: extraction + rare-row json fallback
    df = df.withColumn("_ex", extract_parse(F.col("text")))
    df = df.withColumn("extracted_text", F.col("_ex.line"))

    et = F.col("extracted_text")
    # Gate on one anchored rlike, then pack all four capture groups in a
    # SINGLE regexp_replace pass (separator \x01 — structurally unreachable:
    # FIELD_PATTERN's capture classes exclude ALL control chars, which Go's
    # json.Unmarshal rejects unescaped anyway; a smuggled \x01 line simply
    # misses the fast path). 3 regex evaluations per row instead of 6
    # (rlike + dup-key count + 4 regexp_extract). The regexp_count gate
    # routes lines whose extras tail RE-specifies a primary key to the
    # last-wins fallback (first-wins fast captures would diverge from Go).
    field_matched = et.rlike(X.FIELD_PATTERN) & (
        F.regexp_count(et, F.lit(X.PRIMARY_KEY_PATTERN)) == X.PRIMARY_KEY_COUNT
    )
    df = df.withColumn("field_matched", F.coalesce(field_matched, F.lit(False)))
    df = df.withColumn(
        "_packed",
        F.when(
            F.col("field_matched"),
            F.regexp_replace(et, X.FIELD_PATTERN, "$1\x01$2\x01$3\x01$4"),
        ),
    )
    for i, name in enumerate(["_time_fast", "_host_fast", "_status_fast", "_dur_fast"]):
        df = df.withColumn(name, F.split(F.col("_packed"), "\x01").getItem(i))

    # wide-grammar fallback fields, computed inside the Arrow UDF
    df = df.withColumn(
        "_fb",
        F.struct(*[F.col(f"_ex.{c}").alias(c) for c in
                   ("time_str", "host", "status_code", "duration", "json_ok")]),
    ).drop("_ex")
    fb_ok = F.coalesce(F.col("_fb.json_ok"), F.lit(False))

    # unified record fields (fast captures are escape-free: raw == Go value)
    df = (
        df.withColumn("parse_ok", F.col("field_matched") | fb_ok)
        .withColumn(
            "log_time_str",
            F.when(F.col("field_matched"), F.col("_time_fast"))
            .when(fb_ok, F.col("_fb.time_str")),
        )
        .withColumn(
            "host_raw",
            F.when(F.col("field_matched"), F.col("_host_fast"))
            .when(fb_ok, F.col("_fb.host")),
        )
        .withColumn(
            "status_code",
            F.when(F.col("field_matched"), F.col("_status_fast").try_cast("long"))
            .when(fb_ok, F.col("_fb.status_code")),
        )
        .withColumn(
            "duration",
            F.when(F.col("field_matched"), F.col("_dur_fast").try_cast("double"))
            .when(fb_ok, F.col("_fb.duration")),
        )
    )
    df = df.withColumn("_log_ts_all", _log_ts(F.col("log_time_str")))

    time_ok = (
        F.col("log_time_str").rlike(X.TIME_PATTERN)
        & F.col("_log_ts_all").isNotNull()
        & (
            (F.col("_log_ts_all")
             != F.to_timestamp(F.lit(_GO_ZERO), "yyyy-MM-dd'T'HH:mm:ssxxx"))
            # Go IsZero is NANOSECOND precision: an instant that truncates
            # to the zero micros but carries a nonzero sub-micro fractional
            # digit (…00.0000001Z) is NOT the zero time to the reference.
            # One rlike == "a nonzero digit at fraction position 7-9"
            # (equivalent to substring(frac, 7, 3) rlike [1-9], with far
            # less generated code — see the _log_ts code-size note)
            | F.col("log_time_str").rlike(r"\.\d{6}\d{0,2}[1-9]")
        )
    )
    record_valid = (
        F.col("parse_ok")
        & time_ok
        & (F.col("host_raw") != "")
        & F.col("status_code").isNotNull()
        & (F.col("status_code") != 0)
        & F.col("duration").isNotNull()
        & (F.col("duration") != 0.0)
    )
    df = df.withColumn("record_valid", F.coalesce(record_valid, F.lit(False)))
    # the reference never materializes a timestamp for rejected records;
    # nulling here also keeps Go-zero-time instants (year 1) out of sinks
    df = df.withColumn(
        "log_ts", F.when(F.col("record_valid"), F.col("_log_ts_all"))
    )
    df = df.withColumn(
        "parse_reason",
        F.when(F.col("record_valid"), F.lit(None).cast("string"))
        .when(et.isNull(), F.lit(X.REASON_NO_PAYLOAD))
        .when(~F.col("parse_ok"), F.lit(X.REASON_BAD_RECORD))
        .otherwise(F.lit(X.REASON_INVALID_FIELD)),
    )
    df = df.withColumn("host", F.when(F.col("record_valid"), F.col("host_raw")))
    # per-partition lineage (north_rule: per-partition lineage + metrics)
    df = df.withColumn("source_partition", F.spark_partition_id())
    return df.drop(
        "host_raw", "field_matched", "parse_ok", "_packed", "_fb",
        "_time_fast", "_host_fast", "_status_fast", "_dur_fast", "_log_ts_all",
    )


#: The narrow column set that survives past the parse stage — html/text are
#: dropped here so the multi-KB page body never reaches a shuffle or sink.
NARROW_COLUMNS = [
    "url", "warc_ts", "lang", "html_valid", "extracted_text", "log_time_str",
    "host", "status_code", "duration", "log_ts", "record_valid",
    "parse_reason", "source_partition",
]


def narrow(parsed: DataFrame) -> DataFrame:
    return parsed.select(*NARROW_COLUMNS)
