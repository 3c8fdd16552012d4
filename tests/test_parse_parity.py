"""Spark parse stage vs oracle: byte-identical extraction + identical
classification per url (the BASELINE.json per-row invariant)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from access_log_aggregator_spark.operators.enrich import enrich
from access_log_aggregator_spark.operators.parse import parse_stage
from access_log_aggregator_spark.operators.route import route


def _routed(pages_df, lookup_sdf):
    return route(enrich(parse_stage(pages_df), lookup_sdf))


# one parse engine; the "arrow_udf" id keeps these tests' names stable
@pytest.fixture(scope="module", params=["arrow_udf"])
def spark_rows(pages_df, lookup_sdf):
    df = _routed(pages_df, lookup_sdf)
    rows = df.select(
        "url", "extracted_text", "match_class", "reject_reason",
        "host", "status_code", "duration", "log_ts",
    ).collect()
    return {r["url"]: r for r in rows}


def test_extraction_byte_identical(spark_rows, corpus):
    """For EVERY url: Spark extracted_text == oracle extracted bytes."""
    mismatches = []
    for page, c in zip(corpus.pages.itertuples(), corpus.classifications):
        got = spark_rows[page.url]["extracted_text"]
        got_b = got.encode("utf-8") if got is not None else None
        if got_b != c.extracted_text:
            mismatches.append((page.url, got_b, c.extracted_text))
    assert not mismatches, f"{len(mismatches)} extraction mismatches, first: {mismatches[:3]}"


def test_classification_identical(spark_rows, corpus):
    """match_class and reject_reason agree with the oracle for every url."""
    bad = []
    for page, c in zip(corpus.pages.itertuples(), corpus.classifications):
        r = spark_rows[page.url]
        if (r["match_class"], r["reject_reason"]) != (c.match_class, c.reject_reason):
            bad.append((page.url, r["match_class"], r["reject_reason"],
                        c.match_class, c.reject_reason))
    assert not bad, f"{len(bad)} classification mismatches, first: {bad[:5]}"


def test_parsed_fields_identical(spark_rows, corpus):
    """host/status/duration/log_ts agree with the oracle on valid records."""
    bad = []
    for page, c in zip(corpus.pages.itertuples(), corpus.classifications):
        if c.record is None:
            continue
        r = spark_rows[page.url]
        ts = r["log_ts"].replace(tzinfo=c.record.time.tzinfo) if r["log_ts"] else None
        if (
            r["host"] != c.record.host
            or r["status_code"] != c.record.status_code
            or r["duration"] != c.record.duration
            or ts != c.record.time
        ):
            bad.append((page.url, r, c.record))
    assert not bad, f"{len(bad)} field mismatches, first: {bad[:3]}"


def test_row_conservation(spark_rows, corpus):
    assert len(spark_rows) == len(corpus.pages)


# --------------------------------------------------------------------------
# Wide-grammar equivalence: lines beyond the fast-path regex (reordered keys,
# whitespace, escapes, type errors) classify identically to the Go oracle.
# --------------------------------------------------------------------------

_T = '"time":"2025-09-28T17:12:09Z"'
_H = '"host":"grok.com"'
_S = '"status_code":200'
_D = '"duration":0.5'

#: wide-grammar vectors the fallback must classify like Go
WIDE_LINES = [
    "{%s,%s,%s,%s}" % (_H, _T, _D, _S),                    # reordered
    "{%s,%s,%s,%s}" % (_D, _S, _T, _H),                    # reordered 2
    '{"time" : "2025-09-28T17:12:09Z" , %s , %s , %s}' % (_H, _S, _D),
    '{%s,"host":"a\\"b.com",%s,%s}' % (_T, _S, _D),        # escaped quote
    '{%s,"host":"a\\\\b.com",%s,%s}' % (_T, _S, _D),       # escaped backslash
    '{%s,"host":"gr\\u006fk.com",%s,%s}' % (_T, _S, _D),   # unicode escape
    "{%s,%s,%s}" % (_H, _S, _D),                           # time missing
    "{%s,%s,%s}" % (_T, _S, _D),                           # host missing
    '{%s,"host":null,%s,%s}' % (_T, _S, _D),               # null host
    '{%s,%s,"status_code":0,%s}' % (_H, _T, _D),           # zero status, reordered
    '{"duration":0.0,%s,%s,%s}' % (_T, _H, _S),            # zero duration, reordered
    '{%s,%s,"status_code":"200",%s}' % (_T, _H, _D),       # string status
    '{%s,%s,"status_code":200.5,%s}' % (_T, _H, _D),       # float status
    '{%s,%s,"status_code":2e2,%s}' % (_T, _H, _D),         # exp status
    '{%s,%s,"status_code":9223372036854775807,%s}' % (_T, _H, _D),  # int64 max: VALID
    '{%s,%s,"status_code":9223372036854775808,%s}' % (_T, _H, _D),  # overflow
    '{%s,"host":123,%s,%s}' % (_T, _S, _D),                # number host
    '{%s,"host":true,%s,%s}' % (_T, _S, _D),               # bool host
    '{"time":123,%s,%s,%s}' % (_H, _S, _D),                # number time
    '{%s,%s,%s,"duration":"0.5"}' % (_T, _H, _S),          # string duration
    '{%s,%s,%s,"duration":3}' % (_T, _H, _S),              # integer duration: VALID
    '{%s,%s,%s,"duration":1e400}' % (_T, _H, _S),          # float64 overflow
    '{%s,%s,%s,"duration":NaN}' % (_T, _H, _S),            # non-standard literal
    "{%s,%s,%s,%s},%s" % (_T, _H, _S, _D, '{"x":1}'),      # trailing content
    '{"garbage":true,"noise":42}',                         # foreign object
    '{"a":',                                               # not extractable (no })
    '{%s,%s,%s,%s,"extra":{"nested":{"deep":1}}}' % (_T, _H, _S, _D),  # nested extra
    '{%s,%s,%s,%s,"note":"a\\"quote"}' % (_T, _H, _S, _D),  # escaped extra value
    # review-found vectors: each previously diverged somewhere in the triangle
    '{%s,"time":"not-a-date",%s,%s}' % (_H, _S, _D),       # reordered bad time: unmarshal err
    '{%s,%s,%s,"duration":1e400}' % (_H, _T, _S),          # reordered float64 overflow
    '{%s,%s,%s,"duration":%s}' % (_T, _H, _S, "9" * 400),  # huge-int duration: float() overflow
    '{%s,%s,%s,"duration":9999999999999999999999}' % (_T, _H, _S),  # 22 digits: finite, VALID
    '{%s,"host":"a\x07b.com",%s,%s}' % (_T, _S, _D),       # raw control char: Go rejects
    '{%s,%s,"status_code":2٣,%s}' % (_T, _H, _D),     # unicode digit: invalid JSON
    # duplicate keys: Go last-wins
    '{"host":"x.com",%s,%s,%s,%s}' % (_H, _T, _S, _D),     # dup key: last wins
    '{%s,%s,%s,%s,"x":{"a":{"b":{"c":1}}}}' % (_T, _H, _S, _D),  # depth-4 extra
    '{%s,%s,%s,%s,"x":{"a":{"b":{"c":{"d":{"e":1}}}}}}' % (_T, _H, _S, _D),  # depth-6
    # ADVICE medium fix: fast-path-shaped head + re-specified primary key in
    # the extras tail — first-wins fast captures would diverge from Go
    '{%s,%s,%s,%s,"status_code":0}' % (_T, _H, _S, _D),    # last-wins 0: INVALID
    '{%s,%s,%s,%s,"duration":0.0}' % (_T, _H, _S, _D),     # last-wins 0.0: INVALID
    '{%s,%s,%s,"duration":0.25,"duration":0.5}' % (_T, _H, _S),  # last valid: 0.5
    '{%s,%s,%s,%s,"host":"other.com"}' % (_T, _H, _S, _D),  # last host wins
    '{%s,%s,%s,%s,"time":"2026-01-01T00:00:00Z"}' % (_T, _H, _S, _D),  # last time
    '{%s,%s,%s,%s,"status_code":0},{"x":1}' % (_T, _H, _S, _D),  # dup + trailing
]


def _wide_pages(spark, lines):
    rows = [
        (f"https://w{i}.test/p", f"some words\n{line}\nmore words")
        for i, line in enumerate(lines)
    ]
    return spark.createDataFrame(
        [(u, None, b"<html>ok</html>", t, "en") for u, t in
         [(u, t) for u, t in rows]],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


# one parse engine; the "arrow_udf" id keeps this test's name stable
@pytest.mark.parametrize("engine", ["arrow_udf"])
def test_wide_grammar_matches_oracle(spark, lookup_sdf, engine):
    from access_log_aggregator_spark.oracle import classify_page

    lines = WIDE_LINES
    df = _routed(_wide_pages(spark, lines), lookup_sdf)
    got = {r["url"]: r for r in df.select(
        "url", "match_class", "reject_reason", "host", "status_code", "duration"
    ).collect()}
    bad = []
    for i, line in enumerate(lines):
        url = f"https://w{i}.test/p"
        want = classify_page(b"<html>ok</html>", f"some words\n{line}\nmore words")
        r = got[url]
        if (r["match_class"], r["reject_reason"]) != (want.match_class, want.reject_reason):
            bad.append((line, r["match_class"], r["reject_reason"],
                        want.match_class, want.reject_reason))
            continue
        if want.record is not None and (
            r["host"] != want.record.host
            or r["status_code"] != want.record.status_code
            or r["duration"] != want.record.duration
        ):
            bad.append((line, r, want.record))
    assert not bad, f"{len(bad)} wide-grammar mismatches: {bad[:5]}"


def test_byte_level_extraction_rule(corpus):
    """Byte-parity is DEFINED on bytes (functions/extract.py): LINE_RE over
    the raw UTF-8 bytes of ``text`` (extract_line_bytes) yields exactly the
    oracle's extracted bytes for every page — the same rule, evaluated at
    the byte level, with no str/bytes drift."""
    from access_log_aggregator_spark.functions.extract import extract_line_bytes

    for page, c in zip(corpus.pages.itertuples(), corpus.classifications):
        got = extract_line_bytes(page.text.encode("utf-8")) if page.text is not None else None
        assert got == c.extracted_text, page.url
