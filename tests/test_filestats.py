"""Manifest column statistics + scan-planning file pruning (zone maps).

Pins the Iceberg-bounds analog (sources/filestats.py, SnapshotTable.read
``where=``): every commit path records its files' stats at write time,
statless files committed by earlier releases are back-filled by a
DISTRIBUTED ``analyze`` sweep, pruning is provably sound (a pruned read
always equals full-scan + filter) while actually skipping files, and
everything fails open when stats are missing.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from access_log_aggregator_spark.sources import filestats
from access_log_aggregator_spark.sources import tableio as tio
from access_log_aggregator_spark.sources.tableio import SnapshotTable

UTC = dt.timezone.utc


def _ts(h: int) -> dt.datetime:
    return dt.datetime(2026, 3, 1, tzinfo=UTC) + dt.timedelta(hours=h)


def _ranged_table(tmp_path, n_snaps: int = 6, rows: int = 50) -> SnapshotTable:
    """One append per hour-range: snapshot i holds warc_ts in [i*1h, i*1h+50m)
    and n in [i*rows, (i+1)*rows) — disjoint bounds, so range predicates
    have an exact file-level answer."""
    t = SnapshotTable.create(tmp_path / "ranged")
    for i in range(n_snaps):
        pdf = pd.DataFrame({
            "url": [f"http://h{i}/p{j}" for j in range(rows)],
            # micros, not pandas' default nanos: Spark's parquet reader
            # rejects TIMESTAMP(NANOS)
            "warc_ts": pd.Series(
                [_ts(i) + dt.timedelta(minutes=j) for j in range(rows)],
                dtype="datetime64[us, UTC]"),
            "n": list(range(i * rows, (i + 1) * rows)),
        })
        t.append_pandas(pdf, marker=f"m{i}")
    return t


def test_append_pandas_records_bounds(tmp_path):
    t = _ranged_table(tmp_path, n_snaps=1, rows=10)
    (snap,) = t.snapshots()
    assert snap.stats is not None
    (rec,) = snap.stats.values()
    assert rec["rows"] == 10
    assert rec["cols"]["n"] == {"type": "int", "min": 0, "max": 9}
    assert rec["cols"]["url"]["type"] == "str"
    ts = rec["cols"]["warc_ts"]
    assert ts["type"] == "ts"
    assert ts["min"] == filestats._ts_micros(_ts(0))
    assert ts["max"] == filestats._ts_micros(_ts(0) + dt.timedelta(minutes=9))


def test_pruning_skips_files_and_preserves_results(spark, tmp_path):
    t = _ranged_table(tmp_path)
    all_files = t.data_files()
    assert len(all_files) == 6
    cases = [
        ([("n", ">=", 250)], 1),          # only the last snapshot
        ([("n", "<", 50)], 1),            # only the first
        ([("n", ">=", 100), ("n", "<", 200)], 2),
        ([("warc_ts", ">=", _ts(4))], 2),
        ([("warc_ts", "<=", _ts(0) + dt.timedelta(minutes=10))], 1),
        ([("url", "=", "http://h3/p7")], 1),
        ([("n", "=", 125)], 1),
        ([("n", ">", 10_000)], 0),        # matches nothing: zero files planned
    ]
    for where, expect_files in cases:
        planned = t.data_files(where=where)
        assert len(planned) == expect_files, where
        expected = t.read(spark).filter(filestats.spark_filter(where)) \
            if expect_files else None
        got = t.read(spark, where=where)
        if expect_files == 0:
            assert got is None
        else:
            a = sorted(got.collect())
            b = sorted(expected.collect())
            assert a == b and len(a) > 0, where


def test_pruning_bounds_are_inclusive(spark, tmp_path):
    """Boundary values (= min, = max of a file) must keep the file."""
    t = _ranged_table(tmp_path, n_snaps=2)
    for v in (0, 49, 50, 99):
        rows = t.read(spark, where=[("n", "=", v)]).collect()
        assert len(rows) == 1
        assert len(t.data_files(where=[("n", "=", v)])) == 1


def test_naive_datetimes_are_utc(spark, tmp_path):
    t = _ranged_table(tmp_path, n_snaps=3)
    naive = (_ts(2)).replace(tzinfo=None)
    assert len(t.data_files(where=[("warc_ts", ">=", naive)])) == 1
    got = t.read(spark, where=[("warc_ts", ">=", naive)])
    assert got.count() == 50


def test_statless_files_fail_open(spark, tmp_path, pages_df,
                                  commit_statless):
    """Files committed without stats (by earlier releases) are never
    pruned, and a mixed table prunes only what it can."""
    t = _ranged_table(tmp_path, n_snaps=2)
    sdf = spark.createDataFrame(pd.DataFrame({
        "url": ["http://z/1"], "warc_ts": [_ts(100)], "n": [10_000]}))
    commit_statless(t, sdf, "spark")
    spark_snap = t.snapshots()[-1]
    assert spark_snap.stats is None
    # a predicate excluding every pandas file still keeps the statless one
    planned = t.data_files(where=[("n", ">=", 5_000)])
    assert planned == [str(t.root / f) for f in spark_snap.files]
    got = t.read(spark, where=[("n", ">=", 5_000)])
    assert [r.url for r in got.collect()] == ["http://z/1"]


def test_analyze_backfills_distributed_and_enables_pruning(
        spark, tmp_path, monkeypatch, commit_statless):
    """analyze() fills missing stats via a Spark job: with the DRIVER's
    pq.read_metadata poisoned, the footer reads must happen in executor
    workers — and afterwards the spark-written files prune."""
    t = SnapshotTable.create(tmp_path / "t")
    for i in range(3):
        pdf = pd.DataFrame({"url": [f"u{i}"], "warc_ts": [_ts(i)],
                            "n": [i * 100]})
        commit_statless(t, spark.createDataFrame(pdf), f"s{i}")
    assert all(s.stats is None for s in t.snapshots())

    def boom(*a, **kw):  # driver-side footer read = test failure
        raise AssertionError("driver-side pq.read_metadata during analyze")

    monkeypatch.setattr(tio.pq, "read_metadata", boom)
    monkeypatch.setattr(filestats.pq, "read_metadata", boom)
    assert t.analyze(spark) == 3
    assert t.analyze(spark) == 0  # idempotent: nothing left to fill
    monkeypatch.undo()
    assert all(s.stats for s in t.snapshots())
    assert len(t.data_files(where=[("n", ">=", 150)])) == 1
    got = t.read(spark, where=[("n", ">=", 150)])
    assert sorted(r.url for r in got.collect()) == ["u2"]


def test_all_null_column_prunes_comparisons(spark, tmp_path):
    """SQL three-valued logic: NULL <op> v is never true, so a file whose
    column is entirely null can never match a comparison on it."""
    t = SnapshotTable.create(tmp_path / "t")
    t.append_pandas(pd.DataFrame({
        "url": ["a", "b"],
        "score": pd.array([None, None], dtype="Int64")}))
    (snap,) = t.snapshots()
    (rec,) = snap.stats.values()
    assert rec["cols"]["score"] == {"all_null": True}
    assert t.data_files(where=[("score", "=", 1)]) == []
    assert t.data_files(where=[("score", "<", 10**9)]) == []
    # but predicates on other columns still plan the file
    assert len(t.data_files(where=[("url", "=", "a")])) == 1


def test_not_equal_prunes_only_constant_files(tmp_path):
    t = SnapshotTable.create(tmp_path / "t")
    t.append_pandas(pd.DataFrame({"lang": ["en"] * 5}))
    t.append_pandas(pd.DataFrame({"lang": ["en", "de"]}))
    assert len(t.data_files(where=[("lang", "!=", "en")])) == 1
    assert len(t.data_files(where=[("lang", "!=", "fr")])) == 2


def test_type_mismatch_and_unknown_column_fail_open(tmp_path):
    t = _ranged_table(tmp_path, n_snaps=2)
    assert len(t.data_files(where=[("n", ">", "zzz")])) == 2   # str vs int
    assert len(t.data_files(where=[("n", "=", True)])) == 2    # bool vs int
    with pytest.raises(ValueError):
        t.data_files(where=[("n", "LIKE", "x")])
    # tracked table + unknown column: the same error full-scan + filter
    # raises — pruning must not turn it into "no rows"
    with pytest.raises(ValueError, match="nope"):
        t.data_files(where=[("nope", "=", 1)])
    # untracked table (no schema history): unknown columns fail open
    import json
    mpath = t.root / "manifest.json"
    m = json.loads(mpath.read_text())
    m.pop("schemas"), m.pop("current_schema_id")
    mpath.write_text(json.dumps(m))
    assert len(t.data_files(where=[("nope", "=", 1)])) == 2


def test_compaction_preserves_pruning(spark, tmp_path):
    """compact() recomputes bounds for merged outputs and carries stats on
    full files; pruning stays correct across the rewrite — and the whole
    pass reads ZERO footers when every live file has manifest row counts
    (r5: outputs derive their stats from write_table's metadata_collector,
    so even the fresh files cost no read-back)."""
    t = _ranged_table(tmp_path)
    before = {tuple(r) for r in
              t.read(spark, where=[("n", ">=", 100)]).collect()}
    real_meta = tio.pq.read_metadata
    calls = []

    def counting(path, *a, **kw):
        calls.append(path)
        return real_meta(path, *a, **kw)

    import unittest.mock as mock
    with mock.patch.object(tio.pq, "read_metadata", side_effect=counting), \
            mock.patch.object(filestats.pq, "read_metadata",
                              side_effect=counting):
        sid = t.compact(rows_per_file=1_000)
    assert sid is not None
    # planning used manifest rows; outputs used the collected write-time
    # footer — no metadata read anywhere in the rewrite
    assert calls == []
    (snap,) = [s for s in t.snapshots() if s.id == sid]
    for f in snap.files:
        assert f in snap.stats, "compaction output/carry must keep stats"
    merged_rec = snap.stats[
        [f for f in snap.files if "compact-" in f][0]]
    assert merged_rec["cols"]["n"] == {"type": "int", "min": 0, "max": 299}
    after = {tuple(r) for r in
             t.read(spark, where=[("n", ">=", 100)]).collect()}
    assert after == before
    # post-compaction the table is one file: bounds now span everything,
    # so the same predicate plans it (sound, just no longer selective)
    assert len(t.data_files(where=[("n", ">=", 100)])) == 1


def test_sorted_compaction_keeps_pruning_selective(spark, tmp_path):
    """compact(sort_by=...) — the Iceberg sort-strategy rewrite analog —
    clusters the rewritten rows so each output file covers a disjoint
    range of the sort column: predicate reads stay selective AFTER
    compaction, where an unsorted rewrite would blow every file's bounds
    out to the full range."""
    t = _ranged_table(tmp_path, n_snaps=6, rows=50)  # 300 rows, 6 files
    before = {tuple(r) for r in
              t.read(spark, where=[("n", "<", 100)]).collect()}
    sid = t.compact(rows_per_file=100, sort_by=["n"])
    assert sid is not None
    (snap,) = [s for s in t.snapshots() if s.id == sid]
    assert len(snap.files) == 3  # 300 rows at 100/file
    bounds = sorted((snap.stats[f]["cols"]["n"]["min"],
                     snap.stats[f]["cols"]["n"]["max"])
                    for f in snap.files)
    assert bounds == [(0, 99), (100, 199), (200, 299)]  # disjoint, tight
    # the time-shaped column clusters identically (same generation order)
    ts_bounds = sorted((snap.stats[f]["cols"]["warc_ts"]["min"],
                        snap.stats[f]["cols"]["warc_ts"]["max"])
                       for f in snap.files)
    assert ts_bounds[0][1] < ts_bounds[1][0] < ts_bounds[2][0]
    # pruning is as selective as pre-compaction: 1 of 3 files planned
    assert len(t.data_files(where=[("n", "<", 100)])) == 1
    after = {tuple(r) for r in
             t.read(spark, where=[("n", "<", 100)]).collect()}
    assert after == before
    # re-compacting a sorted-compacted table stays a no-op (all outputs
    # are >= rows_per_file): growth-bounded idempotence is preserved
    assert t.compact(rows_per_file=100, sort_by=["n"]) is None


def test_compact_sort_by_unknown_column_fails_clean(tmp_path):
    t = _ranged_table(tmp_path, n_snaps=2, rows=5)
    with pytest.raises(ValueError, match="nope"):
        t.compact(rows_per_file=100, sort_by=["nope"])
    # nothing committed, no staged compact-* leak
    assert all("compact-" not in f for f in t.data_files())
    assert not list((t.root / "data").glob("compact-*"))
    assert t.row_count() == 10


def test_incremental_read_composes_with_pruning(spark, tmp_path):
    t = _ranged_table(tmp_path, n_snaps=4)
    cursor = t.snapshots()[1].id
    planned = t.data_files(start_after=cursor, where=[("n", ">=", 150)])
    assert len(planned) == 1
    got = t.read(spark, start_after=cursor, where=[("n", ">=", 150)])
    assert got.count() == 50


def test_zero_row_file_is_pruned(spark, tmp_path):
    t = SnapshotTable.create(tmp_path / "t")
    t.append_pandas(pd.DataFrame({"n": pd.array([], dtype="Int64")}))
    t.append_pandas(pd.DataFrame({"n": pd.array([1], dtype="Int64")}))
    assert len(t.data_files()) == 2          # full scans keep empty files
    assert len(t.data_files(where=[("n", ">=", 0)])) == 1


def test_nan_rows_are_never_pruned_away(spark, tmp_path):
    """Parquet footers EXCLUDE NaN from float min/max, but Spark and DuckDB
    order NaN greater than every other double — a NaN row matches any
    !=, > or >= predicate. Bounds therefore cannot prove absence of a
    match for those ops on float columns: the planner must fail open."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nan_src = tmp_path / "with_nan.parquet"
    plain_src = tmp_path / "plain.parquet"
    # pa.table keeps NaN as a VALUE (pandas conversion would null it out)
    pq.write_table(pa.table({"score": pa.array([1.0, float("nan")],
                                               type=pa.float64())}), nan_src)
    pq.write_table(pa.table({"score": pa.array([2.0, 3.0],
                                               type=pa.float64())}), plain_src)
    t = SnapshotTable.create(tmp_path / "t")
    t.add_files([nan_src])
    t.add_files([plain_src])
    nan_file, plain_file = (str(t.root / s.files[0]) for s in t.snapshots())
    # the footer bounds of the NaN file exclude the NaN (arrow behavior)
    rec = t.snapshots()[0].stats[t.snapshots()[0].files[0]]
    assert rec["cols"]["score"] == {"type": "float", "min": 1.0, "max": 1.0}

    # > / >= / != must keep the NaN file even though its bounds say no.
    # Spark's own parquet ROW-GROUP pushdown has the same unsoundness
    # (SPARK in-memory says NaN > 5 but the pushed filter drops the row
    # group), so run with pushdown disabled to see Spark's true filter
    # semantics — the config under which an unsound manifest prune would
    # visibly lose the NaN row.
    spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    try:
        for where in ([("score", ">", 5.0)], [("score", ">=", 5.0)],
                      [("score", "!=", 1.0)]):
            assert nan_file in t.data_files(where=where), where
            got = t.read(spark, where=where)
            vals = [r.score for r in got.collect()]
            assert any(v != v for v in vals), (where, vals)  # the NaN row
            full = t.read(spark).filter(
                filestats.spark_filter(where)).collect()
            assert len(vals) == len(full), where
    finally:
        spark.conf.set("spark.sql.parquet.filterPushdown", "true")
    # under the default pushdown config both sides agree as well (Spark
    # drops the NaN row on BOTH, so pruned ≡ full-scan + filter holds)
    where = [("score", ">", 5.0)]
    pruned = t.read(spark, where=where).collect()
    full = t.read(spark).filter(filestats.spark_filter(where)).collect()
    assert pruned == full

    # = / < / <= stay prunable: NaN can never satisfy them
    assert t.data_files(where=[("score", "=", 9.0)]) == []
    assert t.data_files(where=[("score", "<", 1.0)]) == []
    assert t.data_files(where=[("score", "<=", 0.5)]) == []
    assert t.data_files(where=[("score", "<", 2.0)]) == [nan_file]
    # a NaN predicate value fails open (every Python NaN compare is False)
    assert len(t.data_files(where=[("score", "=", float("nan"))])) == 2


def test_naive_datetime_predicates_sound_on_non_utc_driver(tmp_path):
    """Pruning interprets naive datetimes as UTC (_ts_micros); py4j's
    literal conversion uses the DRIVER's local timezone (time.mktime),
    which session timeZone=UTC does not govern. spark_filter therefore
    pins naive datetimes to UTC before building the literal — without
    that, a +05:00 driver prunes files whose rows the filter matches.
    Runs in a subprocess with TZ=Asia/Karachi, the config where the
    divergence is visible (CI's UTC driver masks it)."""
    import os
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    code = textwrap.dedent("""
        import datetime as dt, sys
        import pandas as pd
        sys.path.insert(0, %r)
        from access_log_aggregator_spark.session import get_spark
        from access_log_aggregator_spark.sources.tableio import SnapshotTable
        import pathlib
        d = pathlib.Path(%r)
        t = SnapshotTable.create(d / "t")
        UTC = dt.timezone.utc
        rows = [dt.datetime(2026, 3, 1, 8, 30, tzinfo=UTC),
                dt.datetime(2026, 3, 1, 9, 0, tzinfo=UTC)]
        t.append_pandas(pd.DataFrame({
            "url": ["a", "b"],
            "warc_ts": pd.Series(rows, dtype="datetime64[us, UTC]")}))
        spark = get_spark(app_name="tz-test", master="local[2]",
                          shuffle_partitions=2)
        # naive 08:45 means 08:45 UTC on both layers: exactly one row
        naive = dt.datetime(2026, 3, 1, 8, 45)
        where = [("warc_ts", ">=", naive)]
        pruned = t.read(spark, where=where)
        got = sorted(r.url for r in pruned.collect()) if pruned else []
        from access_log_aggregator_spark.sources import filestats
        full = sorted(r.url for r in t.read(spark)
                      .filter(filestats.spark_filter(where)).collect())
        assert got == full == ["b"], (got, full)
        print("OK")
    """) % (repo, str(tmp_path))
    env = dict(os.environ, TZ="Asia/Karachi")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=300, env=env, cwd=repo)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "OK" in out.stdout


def test_add_files_records_stats(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src.parquet"
    pq.write_table(pa.table({"n": [5, 6, 7]}), src)
    t = SnapshotTable.create(tmp_path / "t")
    t.add_files([src])
    (snap,) = t.snapshots()
    (rec,) = snap.stats.values()
    assert rec == {"rows": 3, "schema_cols": ["n"],
                   "cols": {"n": {"type": "int", "min": 5, "max": 7}}}


def test_statless_compaction_zero_driver_footer_reads(
        spark, tmp_path, monkeypatch, commit_statless):
    """compact(spark=...) on a table whose live files have NO manifest
    stats (files committed by earlier releases) auto-enqueues them
    through the distributed analyze sweep instead of paying a driver
    pq.read_metadata per file in the planning pass: with the driver's
    read_metadata poisoned, the whole rewrite stays green, and the
    rewritten table prunes."""
    t = SnapshotTable.create(tmp_path / "t")
    for i in range(4):
        pdf = pd.DataFrame({"url": [f"u{i}-{j}" for j in range(5)],
                            "warc_ts": pd.Series(
                                [_ts(i)] * 5, dtype="datetime64[us, UTC]"),
                            "n": list(range(i * 5, i * 5 + 5))})
        commit_statless(t, spark.createDataFrame(pdf), f"s{i}")
    assert all(s.stats is None for s in t.snapshots())
    before = {tuple(r) for r in t.read(spark).collect()}

    def boom(*a, **kw):  # driver-side footer read = test failure
        raise AssertionError("driver-side pq.read_metadata during compact")

    monkeypatch.setattr(tio.pq, "read_metadata", boom)
    monkeypatch.setattr(filestats.pq, "read_metadata", boom)
    sid = t.compact(rows_per_file=1_000, spark=spark)
    monkeypatch.undo()
    assert sid is not None
    (snap,) = [s for s in t.snapshots() if s.id == sid]
    # the auto-sweep also left the rewrite fully stats-covered: outputs
    # from the write-time footer, any carried files from the sweep
    assert all(f in snap.stats for f in snap.files)
    assert {tuple(r) for r in t.read(spark).collect()} == before
    assert len(t.data_files(where=[("n", ">=", 100)])) == 0  # prunable


def test_statless_compaction_without_spark_still_works(spark, tmp_path,
                                                      commit_statless):
    """No session handle -> the documented fallback: one driver footer
    read per statless file, same result."""
    t = SnapshotTable.create(tmp_path / "t")
    for i in range(2):
        pdf = pd.DataFrame({"url": [f"u{i}"], "n": [i]})
        commit_statless(t, spark.createDataFrame(pdf), f"s{i}")
    assert all(s.stats is None for s in t.snapshots())
    before = {tuple(r) for r in t.read(spark).collect()}
    sid = t.compact(rows_per_file=1_000)
    assert sid is not None
    assert {tuple(r) for r in t.read(spark).collect()} == before


def _host_frame(i: int, rows: int = 12) -> pd.DataFrame:
    return pd.DataFrame({
        "host": [f"h{(i * rows + j) % 5}.example.net" for j in range(rows)],
        "grp": [f"g{j % 2}" for j in range(rows)],
        "warc_ts": pd.Series([_ts(i) + dt.timedelta(minutes=j)
                              for j in range(rows)],
                             dtype="datetime64[us, UTC]"),
        "n": list(range(i * rows, (i + 1) * rows)),
    })


def _host_table(i: int) -> pa.Table:
    return pa.Table.from_pandas(_host_frame(i), preserve_index=False)


def _commit_append_pandas(t, spark, tmp_path):
    for i in range(2):
        t.append_pandas(_host_frame(i), marker=f"p{i}")


def _commit_append_spark(t, spark, tmp_path):
    t.append_spark(spark.createDataFrame(_host_frame(0)).repartition(3),
                   marker="s")


def _commit_append_spark_partitioned(t, spark, tmp_path):
    t.append_spark(spark.createDataFrame(_host_frame(0)).repartition(3),
                   marker="s", partition_by="grp")


def _commit_overwrite_arrow(t, spark, tmp_path):
    t.overwrite_arrow(_host_table(0), expected_current=0)


def _commit_add_files(t, spark, tmp_path):
    srcs = [tmp_path / f"src{i}.parquet" for i in range(2)]
    for i, src in enumerate(srcs):
        pq.write_table(_host_table(i), src)
    t.add_files(srcs, marker="a")


def _commit_compact(t, spark, tmp_path):
    for i in range(3):
        t.append_pandas(_host_frame(i), marker=f"p{i}")
    t.append_pandas(_host_frame(3, rows=40), marker="full")  # carried
    assert t.compact(rows_per_file=30, sort_by=["n"]) is not None


@pytest.mark.parametrize("commit,bloom_cols", [
    (_commit_append_pandas, "host"),
    (_commit_append_spark, None),
    (_commit_append_spark_partitioned, "host,grp"),
    (_commit_overwrite_arrow, "host"),
    (_commit_add_files, "host"),
    (_commit_compact, "host"),
], ids=["append_pandas", "append_spark", "append_spark_partitioned",
        "overwrite_arrow", "add_files", "compact"])
def test_every_commit_path_records_stats_at_write(spark, tmp_path, commit,
                                                  bloom_cols):
    """No commit path commits a statless file: every committed record
    equals the footer stats of the file on disk plus the blooms
    re-derived from it for the table's ``bloom_cols`` property."""
    t = SnapshotTable.create(tmp_path / "t")
    if bloom_cols:
        t.set_properties(bloom_cols=bloom_cols)
    commit(t, spark, tmp_path)
    committed = t._file_stats()
    live = t.data_files()
    assert live and set(live) <= set(committed)
    for f in live:
        want = filestats.stats_from_footer(f)
        if bloom_cols:
            want = filestats.add_blooms_from_file(want, f, t.bloom_cols())
        assert committed[f] == want, f
    assert t.analyze(spark) == 0
