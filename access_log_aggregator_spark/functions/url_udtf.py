"""Python UDTF surface: a table function expanding url query params.

One url row -> N (param, value) rows via a lateral join — the UDTF shape
(SURVEY §2.6 "UDF/UDAF/UDTF surface"; the scalar-UDF and grouped-map
surfaces live in parse_udf.py / aggregate.robust_stats_by_group). Python
UDTFs evaluate row-at-a-time, so this is a DEMO of the extension surface,
not a hot-path operator: at scale, prefer the equivalent Catalyst
explode(str_to_map(...)) — the registry query's DuckDB oracle re-derives
the same expansion with pure string SQL, which is also the proof that this
particular function never NEEDED Python.

Grammar (owned by this repo — the reference has no URL operator, so the
spec is defined here and implemented identically in BOTH engines, exact
on all inputs, not just the corpus):

1. strip the fragment first: everything from the first ``#`` is ignored
   (so a ``?`` inside a fragment starts no query string);
2. the query string is everything after the first remaining ``?``;
3. pairs split on ``&``; a pair without ``=`` is dropped;
4. param/value split on the FIRST ``=``;
5. pairs with an empty value are dropped (parse_qsl's
   keep_blank_values=False); an empty PARAM is kept;
6. no %xx / '+' unescaping — params are compared as raw bytes. (stdlib
   parse_qsl would unescape; DuckDB 1.0 has no url_decode, and raw
   comparison keeps the Spark/oracle pair exact rather than
   corpus-coincidental.)
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


def iter_url_params(url: str | None):
    """The grammar above as a plain generator (shared with tests)."""
    if url is None:
        return
    base = url.split("#", 1)[0]
    if "?" not in base:
        return
    for kv in base.split("?", 1)[1].split("&"):
        if "=" not in kv:
            continue
        k, v = kv.split("=", 1)
        if v:
            yield (k, v)


class UrlParams:
    """yield one (param, value) row per query parameter of ``url``."""

    def eval(self, url: str):  # noqa: D102 - contract is the module docstring
        yield from iter_url_params(url)


def url_params_udtf():
    """``UrlParams`` as a Python UDTF, built per call: a UDTF object caches
    its Java function, bound to the SparkContext live at first use, so a
    module-level one would report to a stopped context's accumulator
    server once a new session starts in the same process."""
    return udtf(UrlParams, returnType="param string, value string")
