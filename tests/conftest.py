"""Shared fixtures: one SparkSession per test session, one generated corpus
with oracle-computed goldens."""

from __future__ import annotations

import sys
from dataclasses import dataclass
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from access_log_aggregator_spark.oracle import classify_page, fold_records
from access_log_aggregator_spark.oracle.summaries import Summaries
from access_log_aggregator_spark.sources.pages import (
    generate_host_lookup,
    generate_pages,
)

N_PAGES = 2000


@pytest.fixture(scope="session")
def spark():
    from access_log_aggregator_spark.session import get_spark

    s = get_spark(app_name="alas-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@dataclass
class Corpus:
    pages: pd.DataFrame
    lookup: pd.DataFrame
    bot_hosts: frozenset[str]
    classifications: list  # oracle PageClassification per row (row order)
    golden: Summaries      # fold over valid records in row order
    golden_counts: dict[str, int]


@pytest.fixture(scope="session")
def corpus() -> Corpus:
    pages = generate_pages(N_PAGES)
    lookup = generate_host_lookup()
    bots = frozenset(lookup[lookup.is_bot_host].host)
    cls = [classify_page(r.html, r.text, bots) for r in pages.itertuples()]
    golden = fold_records(c.record for c in cls if c.record is not None)
    counts: dict[str, int] = {"parsed": 0, "unparsed": 0, "bot": 0, "error": 0}
    for c in cls:
        counts[c.match_class] += 1
    return Corpus(pages, lookup, bots, cls, golden, counts)


@pytest.fixture(scope="session")
def pages_df(spark, corpus):
    return spark.createDataFrame(corpus.pages).repartition(8)


@pytest.fixture(scope="session")
def lookup_sdf(spark, corpus):
    return spark.createDataFrame(corpus.lookup)


@pytest.fixture
def commit_statless(tmp_path):
    """``commit(table, df, marker)``: commit a Spark frame as parquet files
    WITHOUT stats, the way ``append_spark`` committed before its write
    tasks recorded them (Spark's writer, then a statless commit under
    ``df.schema``). Tables written by earlier releases hold such files;
    ``analyze`` and ``compact(spark=)`` exist to heal them."""
    import shutil
    import uuid

    def commit(table, df, marker):
        staging = tmp_path / f"statless-{uuid.uuid4().hex}"
        df.write.parquet(str(staging))
        files = []
        for p in sorted(staging.glob("*.parquet")):
            dest = table.root / "data" / f"part-{uuid.uuid4().hex}.parquet"
            shutil.move(p, dest)
            files.append(dest)
        return table._commit_files(files, df.count(), marker,
                                   schema=df.schema)

    return commit
