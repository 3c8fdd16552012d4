"""The aggregate fold (``Pipeline.write_aggregates``): each call folds the
routed appends past the tables' cursor into them, rebuilds when the
cursor cannot be trusted, and is idle otherwise. Every test ends on the
same check: the three tables equal the ``Pipeline.agg_by_*`` views."""

from __future__ import annotations

import itertools
import shutil
from contextlib import contextmanager
from unittest import mock

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from access_log_aggregator_spark.plans.pipeline import (
    AGG_TABLES,
    Pipeline,
    build_routed,
)
from access_log_aggregator_spark.sources.tableio import SnapshotTable


def _assert_aggs_current(p):
    """Every aggregate table equals its Spark view row for row: keys,
    counts and decimal sums exactly, the derived doubles within the
    reference's tolerance (the view sums doubles, the table derives them
    from the exact decimal sum)."""
    for name in AGG_TABLES:
        view = getattr(p, name)()
        want = [] if view is None else [r.asDict() for r in view.collect()]
        got = [r.asDict() for r in
               SnapshotTable(p.out_root / name).read(p.spark).collect()]
        assert len(got) == len(want), name
        for g, w in zip(got, want):
            assert g.keys() == w.keys(), name
            for k, v in w.items():
                if isinstance(v, float):
                    assert abs(g[k] - v) <= 1e-9 * max(1.0, abs(v)), (name, g, w)
                else:
                    assert g[k] == v, (name, g, w)


def _cursor(p):
    props = SnapshotTable(p.out_root / "agg_by_host").properties()
    return int(props["agg_through"]), int(props["agg_rows"])


class Crash(RuntimeError):
    pass


@contextmanager
def crash_after_commits(k: int):
    """Kill the fold right after its k-th table commit (k=3: after the
    last one, before it returns)."""
    real = SnapshotTable.overwrite_arrow
    done = []

    def commit(self, *a, **kw):
        out = real(self, *a, **kw)
        done.append(1)
        if len(done) == k:
            raise Crash(f"killed after table commit {k}")
        return out

    with mock.patch.object(SnapshotTable, "overwrite_arrow", commit):
        yield


def test_fold_heals_crash_windows_and_skips_maintenance(
        spark, corpus, lookup_sdf, tmp_path_factory):
    """A crash after the routed commit (no fold yet), a lost aggregate
    table, and a crash between two table commits all heal on the next
    call; compaction and expiry move no cursor, so those calls are idle."""
    root = tmp_path_factory.mktemp("aggfold")
    p = Pipeline(spark, root / "out", lookup_sdf)
    p.process_batch(spark.createDataFrame(corpus.pages.iloc[:200]),
                    batch_id="b1")
    # crash window: routed committed, the fold never ran
    assert p.write_aggregates()["agg_by_host"] > 0
    _assert_aggs_current(p)
    assert _cursor(p) == (1, 200)
    p.process_batch(spark.createDataFrame(corpus.pages.iloc[200:300]),
                    batch_id="b2")
    p.write_aggregates()
    _assert_aggs_current(p)
    assert _cursor(p) == (2, 300)
    # a lost table (crash before its first commit) rebuilds all three
    shutil.rmtree(root / "out" / "agg_by_window")
    assert p.write_aggregates()["agg_by_window"] > 0
    _assert_aggs_current(p)
    # content-preserving maintenance: idle, tables still current
    assert p.routed_table.compact(rows_per_file=10) is not None
    assert p.write_aggregates() == {}
    assert p.routed_table.expire_snapshots()
    assert p.write_aggregates() == {}
    _assert_aggs_current(p)

    # a crash after the FIRST table's commit leaves the cursors apart
    p.process_batch(spark.createDataFrame(corpus.pages.iloc[300:400]),
                    batch_id="b3")
    with crash_after_commits(1), pytest.raises(Crash):
        p.write_aggregates()
    assert p.write_aggregates()["agg_by_host"] > 0   # rebuilt
    _assert_aggs_current(p)
    assert p.write_aggregates() == {}


def test_fold_never_masks_a_concurrent_ingest_or_fold(
        spark, corpus, lookup_sdf, tmp_path_factory, monkeypatch):
    """An ingest committing while a fold runs is folded by the next call,
    never skipped; a second fold committing while the first runs makes
    the first lose its CAS and fold again from the new tables, so no
    batch is counted twice."""
    root = tmp_path_factory.mktemp("aggrace")
    p = Pipeline(spark, root / "out", lookup_sdf)
    p.process_batch(spark.createDataFrame(corpus.pages.iloc[:200]),
                    batch_id="b1")
    p.write_aggregates()
    real = SnapshotTable.changes_since
    races = []

    def racing(self, cursor):
        out = real(self, cursor)        # the fold has read its range ...
        if races:
            races.pop()()               # ... and the racer commits now
        return out

    monkeypatch.setattr(SnapshotTable, "changes_since", racing)
    races.append(lambda: p.process_batch(
        spark.createDataFrame(corpus.pages.iloc[200:260]), batch_id="race-1"))
    p.write_aggregates()
    assert _cursor(p) == (1, 200)       # folded what it read, nothing more
    assert p.write_aggregates()["agg_by_host"] > 0
    _assert_aggs_current(p)             # the raced ingest is in

    p.process_batch(spark.createDataFrame(corpus.pages.iloc[260:320]),
                    batch_id="b3")
    other = Pipeline(spark, root / "out", lookup_sdf)
    races.append(other.write_aggregates)
    p.write_aggregates()                # loses the CAS, re-reads, idles
    _assert_aggs_current(p)
    assert _cursor(p) == (3, 320)


def test_table_from_previous_release_rebuilds_once_then_folds(
        spark, corpus, lookup_sdf, tmp_path_factory, monkeypatch):
    """Tables the previous release wrote (stamped ``source_state``, no
    cursor) are rebuilt by the first call; later calls fold only the new
    appends."""
    import json

    import access_log_aggregator_spark.plans.pipeline as pl

    root = tmp_path_factory.mktemp("agglegacy")
    p = Pipeline(spark, root / "out", lookup_sdf)
    p.process_batch(spark.createDataFrame(corpus.pages.iloc[:100]),
                    batch_id="b1")
    p.write_aggregates()
    for name in AGG_TABLES:
        mf = root / "out" / name / "manifest.json"
        m = json.loads(mf.read_text())
        m["properties"] = {"source_state": "3f2a"}
        mf.write_text(json.dumps(m))
    seen = []
    real = pl.partial_aggregates
    monkeypatch.setattr(pl, "partial_aggregates",
                        lambda v: seen.append(v.count()) or real(v))
    assert p.write_aggregates()["agg_by_host"] > 0    # rebuilt
    assert p.write_aggregates() == {}                 # then current
    n1 = p.valid_records().count()
    p.process_batch(spark.createDataFrame(corpus.pages.iloc[100:150]),
                    batch_id="b2")
    p.write_aggregates()
    # the rebuild read the whole history, the fold only the new batch
    assert seen == [n1, p.valid_records().count() - n1]
    _assert_aggs_current(p)


def test_fold_converges_on_empty_routed_state(
    spark, lookup_sdf, tmp_path_factory
):
    """An empty routed state (0-row commit, no data files) converges in
    one call: empty tables with a cursor, then idle."""
    from access_log_aggregator_spark.streaming.stream import PAGES_SCHEMA

    root = tmp_path_factory.mktemp("aggempty")
    p = Pipeline(spark, root / "out", lookup_sdf)
    empty = spark.createDataFrame([], PAGES_SCHEMA)
    res = p.process_batch(empty, batch_id="e1")
    assert res.rows_in == 0
    out = p.write_aggregates()
    assert out == {"agg_by_host": 0, "agg_by_status_bucket": 0,
                   "agg_by_window": 0}
    assert p.write_aggregates() == {}    # converged after ONE call


@pytest.fixture(scope="module")
def routed_rows(spark, corpus, lookup_sdf):
    """Routed rows of 400 corpus pages (every class), parsed once: the
    property test appends slices of them straight to the routed sink."""
    routed = build_routed(spark.createDataFrame(corpus.pages.iloc[:400]),
                          lookup_sdf)
    return routed.toPandas(), routed.schema


_OPS = st.one_of(
    st.tuples(st.just("append"), st.integers(1, 150)),
    st.just(("append", 0)),
    st.just(("compact",)),
    st.just(("expire",)),
    st.tuples(st.just("truncate_rebuild"), st.integers(0, 150)),
    st.tuples(st.just("drop_table"), st.sampled_from(AGG_TABLES)),
    st.just(("fold",)),
    st.tuples(st.just("crash_fold"), st.integers(1, 3)),
)


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(ops=st.lists(_OPS, min_size=3, max_size=9))
# appends compacted and expired before they were folded
@example(ops=[("append", 100), ("fold",), ("append", 80), ("compact",),
              ("append", 50), ("expire",), ("fold",)])
# truncate + a rebuild of the same size
@example(ops=[("append", 120), ("fold",), ("truncate_rebuild", 120),
              ("fold",), ("truncate_rebuild", 0), ("fold",)])
# kills after each table commit, and a lost table
@example(ops=[("append", 100), ("crash_fold", 1), ("append", 30),
              ("crash_fold", 2), ("fold",), ("append", 20), ("crash_fold", 3),
              ("drop_table", "agg_by_host"), ("fold",)])
# plain folds across an empty append and a compaction
@example(ops=[("append", 100), ("fold",), ("append", 0), ("fold",),
              ("compact",), ("fold",), ("append", 40), ("fold",)])
def test_fold_equals_recompute(spark, lookup_sdf, routed_rows,
                               tmp_path_factory, ops):
    """Random histories of appends (empty ones too), compaction, expiry,
    truncate+rebuild, a lost table, folds, and folds killed after each
    table commit: after every completed fold the tables equal a full
    recompute. An append never followed by a fold is the kill between
    the routed commit and the fold; the closing fold heals it."""
    pdf, schema = routed_rows
    p = Pipeline(spark, tmp_path_factory.mktemp("foldprop") / "out", lookup_sdf)
    rt = p.routed_table
    pos = 0
    batch = itertools.count()

    def append(n):
        nonlocal pos
        rows = pdf.iloc[pos:pos + n]
        pos = (pos + n) % len(pdf)
        rt.append_spark(spark.createDataFrame(rows, schema),
                        marker=f"b{next(batch)}", partition_by="match_class")

    for op, *arg in ops:
        if op == "append":
            append(arg[0])
        elif op == "compact":
            rt.compact(rows_per_file=60)
        elif op == "expire":
            rt.expire_snapshots()
        elif op == "truncate_rebuild":
            rt.truncate()
            append(arg[0])
        elif op == "drop_table":
            shutil.rmtree(p.out_root / arg[0], ignore_errors=True)
        elif op == "fold":
            p.write_aggregates()
            _assert_aggs_current(p)
        else:
            try:
                with crash_after_commits(arg[0]):
                    p.write_aggregates()
            except Crash:
                pass
    p.write_aggregates()
    _assert_aggs_current(p)
    assert p.write_aggregates() == {}


def test_fold_runs_two_spark_jobs_and_idle_runs_none(
        spark, corpus, lookup_sdf, tmp_path_factory):
    """A fold over one new batch runs at most 2 Spark jobs (the
    grouping-sets shuffle and its collect); an idle call runs none and
    leaves every aggregate manifest byte-identical."""
    root = tmp_path_factory.mktemp("aggjobs")
    p = Pipeline(spark, root / "out", lookup_sdf)
    p.process_batch(spark.createDataFrame(corpus.pages.iloc[:200]),
                    batch_id="b1")
    p.write_aggregates()
    p.process_batch(spark.createDataFrame(corpus.pages.iloc[200:300]),
                    batch_id="b2")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(tracker.getJobIdsForGroup(group))

    out, n = jobs_of("fold-one-batch", p.write_aggregates)
    assert out["agg_by_host"] > 0 and 0 < n <= 2
    manifests = {name: (root / "out" / name / "manifest.json").read_bytes()
                 for name in AGG_TABLES}
    out, n = jobs_of("fold-idle", p.write_aggregates)
    assert out == {} and n == 0
    assert manifests == {
        name: (root / "out" / name / "manifest.json").read_bytes()
        for name in AGG_TABLES}
    _assert_aggs_current(p)
