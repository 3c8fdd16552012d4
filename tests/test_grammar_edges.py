"""Go-exactness regression vectors for the review-found grammar edges:

- zone offsets: Go's strict RFC3339 decoder (parseRFC3339, the
  time.Time.UnmarshalJSON path since Go 1.20) accepts hours 00-23 /
  minutes 00-59 — beyond java.time's +/-18:00 ZoneOffset cap — and
  REJECTS +24:00 / +05:99 as unmarshal errors (the +24:00 shape used to
  CRASH parse_rfc3339 with an uncaught ValueError from timezone());
- zero time at nanosecond precision: ...T00:00:00.0000001Z is NOT Go's
  zero instant even though it truncates to it at microseconds;
- duplicate keys decode per-occurrence: Go saves the decode error of ANY
  occurrence (bad-then-good is malformed), a JSON null occurrence is a
  NO-OP (value-then-null keeps the value), the survivor is the last
  non-null occurrence;
- unpaired surrogate escapes become U+FFFD like Go's decoder (and must
  not crash the Arrow serialization of the UDF output).

Each vector is asserted against the EXPECTED Go behavior in pure Python,
then all vectors run through the Spark parse stage and must agree with the
oracle classification per line.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from access_log_aggregator_spark.functions import extract as X
from access_log_aggregator_spark.oracle import classify_page

OK = '"host":"a.com","status_code":200,"duration":0.25'


def _t(time_s: str) -> str:
    return '{"time":"%s",%s}' % (time_s, OK)


def test_offset_bounds_match_go():
    # valid to Go, beyond java.time's ZoneOffset +/-18:00 cap
    assert X.parse_rfc3339("2025-01-01T00:00:00+19:30") is not None
    assert X.parse_rfc3339("2025-01-01T00:00:00-23:59") is not None
    assert X.parse_rfc3339("2025-01-01T00:00:00+18:30") is not None
    # unmarshal errors to Go; +24:00 used to raise ValueError here
    assert X.parse_rfc3339("2025-01-01T00:00:00+24:00") is None
    assert X.parse_rfc3339("2025-01-01T00:00:00+05:99") is None
    c = classify_page(None, _t("2025-01-01T00:00:00+24:00"))  # no crash
    assert c.match_class == "unparsed"


def test_zero_time_is_nanosecond_precision():
    assert X.is_zero_time("0001-01-01T00:00:00Z")
    assert X.is_zero_time("0001-01-01T00:00:00.000000000Z")
    assert X.is_zero_time("0001-01-01T00:30:00+00:30")  # same instant
    # nsec=100: Go IsZero is false, the record is VALID to the reference
    assert not X.is_zero_time("0001-01-01T00:00:00.0000001Z")
    assert classify_page(
        None, _t("0001-01-01T00:00:00.0000001Z")).match_class == "parsed"
    assert classify_page(
        None, _t("0001-01-01T00:00:00Z")).match_class == "unparsed"


def test_duplicate_keys_decode_every_occurrence():
    g = X.go_unmarshal_fields
    # Go decodes "bad" into time.Time FIRST and saves that error — the
    # later valid duplicate does not rescue the record
    assert g('{"time":"bad","time":"2024-01-02T03:04:05Z",%s}' % OK) is None
    # same the other way: any occurrence failing => error
    assert g('{"time":"2024-01-02T03:04:05Z","time":"bad",%s}' % OK) is None
    assert g('{%s,"status_code":"x"}' % OK) is None  # dup wrong type
    # null occurrence is a NO-OP (keeps the previous value)...
    assert g('{%s,"host":null}' % OK)[1] == "a.com"
    # ...and a lone null leaves the zero value
    assert g('{"time":null,%s}' % OK)[0] == X.GO_ZERO_TIME
    # last NON-NULL occurrence wins
    assert g('{"host":"x","host":"y",%s}' % OK.replace('"host":"a.com",', ""))[1] == "y"


def test_lone_surrogates_become_ufffd():
    g = X.go_unmarshal_fields
    line = '{"time":"2024-01-02T03:04:05Z","host":"\\ud800","status_code":200,"duration":1}'
    out = g(line)
    assert out is not None and out[1] == "�"  # Go: RuneError
    # a VALID surrogate pair is one astral character, untouched
    pair = line.replace('\\ud800', '\\ud83d\\ude00')
    assert g(pair)[1] == "\U0001f600"
    assert classify_page(None, line).match_class == "parsed"


# -- 3-way engine agreement on every vector -----------------------------------

VECTORS = [
    _t("2025-01-01T00:00:01Z"),                     # sanity: plain valid
    _t("2025-01-01T00:00:00+19:30"),                # valid beyond +/-18:00
    _t("2025-01-01T00:00:00-23:59"),
    _t("2025-01-01T00:00:00+24:00"),                # Go offset-hour bound
    _t("2025-01-01T00:00:00+05:99"),                # Go offset-minute bound
    _t("0001-01-01T00:00:00.0000001Z"),             # sub-micro non-zero
    _t("0001-01-01T00:00:00Z"),                     # exact zero time
    _t("0001-01-01T00:30:00+00:30"),                # zero instant via offset
    '{"time":"bad","time":"2024-01-02T03:04:05Z",%s}' % OK,
    '{"time":"2024-01-02T03:04:05Z","time":"bad",%s}' % OK,
    '{%s,"status_code":"x"}' % OK,                  # dup wrong type
    '{%s,"host":null}' % OK,                        # null no-op
    '{"time":null,%s}' % OK,                        # null -> zero value
    '{"host":"x","host":"y","time":"2024-01-02T03:04:05Z","status_code":200,"duration":1}',
    '{"time":"2024-01-02T03:04:05Z","host":"\\ud800","status_code":200,"duration":1}',
    '{"time":"2024-01-02T03:04:05Z","host":"\\ud83d\\ude00","status_code":200,"duration":1}',
]


# one parse engine; the "arrow" id keeps this test's name stable
@pytest.mark.parametrize("engine", ["arrow"])
def test_engines_match_oracle_on_edge_vectors(spark, engine):
    from access_log_aggregator_spark.operators.parse import parse_stage

    rows = [
        (f"v{i}", line.encode("utf-8"), line) for i, line in enumerate(VECTORS)
    ]
    pages = spark.createDataFrame(
        rows, "url string, html binary, text string"
    ).select(
        "url",
        F.lit("2025-01-01 00:00:00").cast("timestamp_ntz").alias("warc_ts"),
        "html", "text", F.lit(None).cast("string").alias("lang"),
    )
    got = {
        r["url"]: r
        for r in parse_stage(pages)
        .select("url", "record_valid", "host", "status_code", "duration")
        .collect()
    }
    for i, line in enumerate(VECTORS):
        c = classify_page(None, line)
        r = got[f"v{i}"]
        assert r["record_valid"] == (c.record is not None), line
        if c.record is not None:
            assert r["host"] == c.record.host, line
            assert r["status_code"] == c.record.status_code, line
            assert r["duration"] == c.record.duration, line
