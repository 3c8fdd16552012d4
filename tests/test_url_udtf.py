"""The url_params grammar is implemented three times (python generator,
Spark UDTF, DuckDB oracle SQL) — pin all three to the same expansion on
adversarial inputs the corpus never emits, so the registry query's
Spark/oracle agreement is exact, not corpus-coincidental."""

from __future__ import annotations

import duckdb
import pytest

from access_log_aggregator_spark.functions.url_udtf import (
    iter_url_params,
    url_params_udtf,
)

VECTORS = [
    "http://h/p?a=1&b=2",
    "http://h/p",                       # no query
    "http://h/p?",                      # empty query
    "http://h/p?a=1&bare&c=3",          # pair without '='
    "http://h/p?a=&b=2",                # empty value dropped
    "http://h/p?=v&a=1",                # empty param kept
    "http://h/p?a=x=y&b=2",             # split on FIRST '='
    "http://h/p?a=1&&b=2",              # empty pair
    "http://h/p?a=1#frag?x=9",          # '?' inside fragment is no query
    "http://h/p#frag?x=9",              # fragment BEFORE any '?'
    "http://h/p?a=%20b&c=1+2",          # no unescaping: raw bytes compared
    "http://h/p?a=1&a=2",               # repeated param: both rows
    "http://h/p?a=1\nb=2&c=3",          # newline INSIDE the query string
    "http://h/p?a=x\ny&b=2",            # newline inside a value
    None,
]

EXPECTED = {
    "http://h/p?a=1&b=2": [("a", "1"), ("b", "2")],
    "http://h/p": [],
    "http://h/p?": [],
    "http://h/p?a=1&bare&c=3": [("a", "1"), ("c", "3")],
    "http://h/p?a=&b=2": [("b", "2")],
    "http://h/p?=v&a=1": [("", "v"), ("a", "1")],
    "http://h/p?a=x=y&b=2": [("a", "x=y"), ("b", "2")],
    "http://h/p?a=1&&b=2": [("a", "1"), ("b", "2")],
    "http://h/p?a=1#frag?x=9": [("a", "1")],
    "http://h/p#frag?x=9": [],
    "http://h/p?a=%20b&c=1+2": [("a", "%20b"), ("c", "1+2")],
    "http://h/p?a=1&a=2": [("a", "1"), ("a", "2")],
    "http://h/p?a=1\nb=2&c=3": [("a", "1\nb=2"), ("c", "3")],
    "http://h/p?a=x\ny&b=2": [("a", "x\ny"), ("b", "2")],
    None: [],
}

# the oracle's CTE shape from queries._pipeline_url_params_oracle, over a
# values table instead of parquet
DUCK_SQL = """
with q as (
  select url,
         str_split(regexp_extract(split_part(url, '#', 1), '(?s)\\?(.*)$', 1),
                   '&') as kvs
  from urls where split_part(url, '#', 1) like '%?%'
),
kv as (select url, unnest(kvs) as kv from q),
p as (
  select url,
         regexp_extract(kv, '(?s)^([^=]*)=(.*)$', 1) as param,
         regexp_extract(kv, '(?s)^([^=]*)=(.*)$', 2) as value
  from kv where kv like '%=%'
)
select url, param, value from p where value <> ''
"""


def test_generator_matches_spec():
    for url in VECTORS:
        assert list(iter_url_params(url)) == EXPECTED[url], url


def test_duckdb_oracle_matches_generator():
    con = duckdb.connect()
    con.execute("create table urls(url varchar)")
    con.executemany("insert into urls values (?)",
                    [(u,) for u in VECTORS if u is not None])
    got: dict[str, list] = {u: [] for u in VECTORS if u is not None}
    for url, param, value in con.execute(DUCK_SQL).fetchall():
        got[url].append((param, value))
    for url in got:
        assert got[url] == EXPECTED[url], url


@pytest.mark.usefixtures("spark")
def test_spark_udtf_matches_generator(spark):
    spark.udtf.register("url_params_t", url_params_udtf())
    df = spark.createDataFrame(
        [(u,) for u in VECTORS if u is not None], "url string"
    )
    df.createOrReplaceTempView("_udtf_urls")
    rows = spark.sql(
        "select url, p.param, p.value "
        "from _udtf_urls, lateral url_params_t(url) p"
    ).collect()
    got: dict[str, list] = {u: [] for u in VECTORS if u is not None}
    for r in rows:
        got[r.url].append((r.param, r.value))
    for url in got:
        assert got[url] == EXPECTED[url], url
