"""The routed sink's task-side write (SnapshotTable.append_spark with
partition_by="match_class", as Pipeline.process_batch calls it): each
write task writes its files and returns their stats and host blooms, so a
batch is one Spark job, the commit reads no footer, and analyze has
nothing left to sweep. Failed writes leave no staging behind."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from access_log_aggregator_spark.plans.pipeline import (
    DEFAULT_ROUTED_BLOOM_COLS,
    Pipeline,
)
from access_log_aggregator_spark.sources import filestats
from access_log_aggregator_spark.sources.tableio import SnapshotTable


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_committed_stats_equal_footer_and_blooms_from_disk(
        spark, corpus, lookup_sdf, tmp_path_factory):
    """Every committed record equals the footer stats plus host blooms
    re-derived from the file on disk after the commit — with the default
    bloom columns and with a ``bloom_cols`` property set."""
    root = tmp_path_factory.mktemp("taskstats")
    p = Pipeline(spark, root / "out", lookup_sdf, write_partitions=3)
    p.process_batch(spark.createDataFrame(corpus.pages.iloc[:300]), "s1")
    p.routed_table.set_properties(bloom_cols="host,geo")
    p.process_batch(spark.createDataFrame(corpus.pages.iloc[300:500]), "s2")
    t = p.routed_table
    committed = t._file_stats()
    live = t.data_files()
    assert len(live) > 4 and set(live) == set(committed)
    first = {str(t.root / f) for f in t.snapshots()[0].files}
    for f in live:
        cols = (list(DEFAULT_ROUTED_BLOOM_COLS) if f in first
                else ["host", "geo"])
        want = filestats.add_blooms_from_file(
            filestats.stats_from_footer(f), f, cols)
        assert committed[f] == want
        host = committed[f]["cols"]["host"]
        assert "host" in committed[f]["bloomed"]
        assert host.get("all_null") or "bloom" in host
        assert "match_class" not in committed[f]["schema_cols"]


def test_batch_is_two_jobs_and_analyze_after_it_none(
        spark, corpus, lookup_sdf, tmp_path_factory):
    """process_batch runs at most 2 Spark jobs (the lookup broadcast and
    the write); the analyze that follows runs none and sweeps nothing."""
    root = tmp_path_factory.mktemp("taskjobs")
    p = Pipeline(spark, root / "out", lookup_sdf)
    pages = spark.createDataFrame(corpus.pages.iloc[:200])
    res, n = _jobs_of(spark, "routed-batch",
                      lambda: p.process_batch(pages, "j1"))
    assert res.rows_in == 200 and sum(res.sink_counts.values()) == 200
    assert 0 < n <= 2
    p.routed_table.set_properties(bloom_cols="host")
    swept, n = _jobs_of(spark, "routed-analyze",
                        lambda: p.routed_table.analyze(spark))
    assert swept == 0 and n == 0


def test_empty_batch_commits_empty_snapshot(spark, corpus, lookup_sdf,
                                            tmp_path_factory):
    root = tmp_path_factory.mktemp("taskempty")
    p = Pipeline(spark, root / "out", lookup_sdf)
    pages = spark.createDataFrame(corpus.pages.iloc[:10]).limit(0)
    res = p.process_batch(pages, "e1")
    assert res.snapshot_id == 1 and res.rows_in == 0
    assert "e1" in p.routed_table.committed_markers()
    assert p.routed_table.row_count() == 0
    assert not list(p.routed_table.root.glob("_staging-*"))


def test_failed_write_leaves_no_staging_and_no_snapshot(
        spark, corpus, lookup_sdf, tmp_path_factory):
    """A write whose job raises leaves no ``_staging-*`` directory and
    commits no snapshot — on the routed sink and on append_spark."""
    root = tmp_path_factory.mktemp("taskfail")
    p = Pipeline(spark, root / "out", lookup_sdf)
    pages = spark.createDataFrame(corpus.pages.iloc[:200]).withColumn(
        "url", F.when(F.col("url") == corpus.pages.url.iloc[150],
                      F.raise_error(F.lit("injected write failure")))
        .otherwise(F.col("url")))
    with pytest.raises(Exception, match="injected write failure"):
        p.process_batch(pages, "f1")
    t = p.routed_table
    assert not list(t.root.glob("_staging-*"))
    assert t.snapshots() == [] and "f1" not in t.committed_markers()
    assert not list((t.root / "data").rglob("*.parquet"))

    st = SnapshotTable.create(root / "plain", "plain")
    df = spark.range(100).withColumn(
        "v", F.when(F.col("id") == 70, F.raise_error(F.lit("injected")))
        .otherwise(F.col("id")))
    with pytest.raises(Exception, match="injected"):
        st.append_spark(df, marker="f2")
    assert not list(st.root.glob("_staging-*"))
    assert st.snapshots() == []
