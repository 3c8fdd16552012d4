"""End-to-end pipeline parity: sinks, aggregates, formatting, resumability."""

from __future__ import annotations

from datetime import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from access_log_aggregator_spark.oracle.summaries import format_summaries
from access_log_aggregator_spark.plans.checkpoint import Checkpoint, run_incremental
from access_log_aggregator_spark.plans.pipeline import Pipeline
from access_log_aggregator_spark.sources.tableio import SnapshotTable


@pytest.fixture(scope="module")
def pipe(spark, corpus, lookup_sdf, tmp_path_factory):
    """Full corpus processed as 3 incremental snapshots through a checkpoint."""
    root = tmp_path_factory.mktemp("pipe")
    pages_table = SnapshotTable.create(root / "pages", "pages")
    n = len(corpus.pages)
    for i, lo in enumerate(range(0, n, (n + 2) // 3)):
        pages_table.append_pandas(corpus.pages.iloc[lo: lo + (n + 2) // 3])
    p = Pipeline(spark, root / "out", lookup_sdf)
    cp = Checkpoint(root / "checkpoint.json")
    results = run_incremental(spark, pages_table, p, cp)
    return p, cp, pages_table, results


def test_sink_counts_match_oracle(pipe, corpus):
    p, _, _, results = pipe
    got = {c: 0 for c in corpus.golden_counts}
    for r in results:
        for c, v in r.sink_counts.items():
            got[c] += v
    assert got == corpus.golden_counts
    # and the physical sink row counts agree with the observed metrics
    for c, v in corpus.golden_counts.items():
        assert p.sink(c).count() == v


def test_sink_counts_sum_to_input(pipe, corpus):
    p, _, _, _ = pipe
    assert p.routed().count() == len(corpus.pages)


def test_routed_row_equality(pipe, corpus):
    """Set equality on url per sink (the routed-row equality gate)."""
    p, _, _, _ = pipe
    for cls in ("parsed", "unparsed", "bot", "error"):
        want = {
            page.url
            for page, c in zip(corpus.pages.itertuples(), corpus.classifications)
            if c.match_class == cls
        }
        got = {r["url"] for r in p.sink(cls).select("url").collect()}
        assert got == want, f"sink {cls}: {len(got ^ want)} urls differ"


def test_agg_by_host_matches_oracle(pipe, corpus):
    p, _, _, _ = pipe
    rows = p.agg_by_host().collect()
    golden = corpus.golden.rows()  # (host, total, 2xx, non2xx, avg) sorted
    assert [r["host"] for r in rows] == [g[0] for g in golden]
    for r, g in zip(rows, golden):
        assert r["total_requests"] == g[1]
        assert r["requests_2xx"] == g[2]
        assert r["requests_non_2xx"] == g[3]
        # float sum: reference's own tolerance (summaries_test.go:88)
        assert abs(float(r["sum_duration_s"]) - corpus.golden.by_host[g[0]].duration_total) <= 1e-9
        assert abs(float(r["avg_duration_s"]) - g[4]) <= 1e-9


def test_agg_decimal_exact(pipe, corpus):
    """Decimal sums are order-independent: exact equality vs oracle Decimal."""
    p, _, _, _ = pipe
    for r in p.agg_by_host().collect():
        host = r["host"]
        # oracle twin: sum of per-record Decimal(38,18) quantizations
        want = sum(
            Decimal(repr(c.record.duration)).quantize(Decimal("1." + "0" * 18))
            for c in corpus.classifications
            if c.record is not None and c.record.host == host
        )
        assert r["sum_duration_dec"] == want, host


def test_salted_agg_identical(pipe, spark, corpus):
    from access_log_aggregator_spark.operators.aggregate import aggregate_by_host

    p, _, _, _ = pipe
    v = p.valid_records()
    plain = aggregate_by_host(v).drop("sum_duration_s", "avg_duration_s").collect()
    salted = aggregate_by_host(v, salt_buckets=16).drop("sum_duration_s", "avg_duration_s").collect()
    assert plain == salted


def test_agg_by_status_bucket(pipe, corpus):
    p, _, _, _ = pipe
    got = {r["status_bucket"]: r["hits"] for r in p.agg_by_status_bucket().collect()}
    want: dict[int, int] = {}
    for c in corpus.classifications:
        if c.record is not None:
            want[c.record.status_code // 100] = want.get(c.record.status_code // 100, 0) + 1
    assert got == want


def test_agg_by_window(pipe, corpus):
    p, _, _, _ = pipe
    got = {(r["window_start"], r["host"]): r["hits"] for r in p.agg_by_window().collect()}
    want: dict[tuple, int] = {}
    for c in corpus.classifications:
        if c.record is not None:
            ws = c.record.time.replace(minute=0, second=0, microsecond=0, tzinfo=None)
            want[(ws, c.record.host)] = want.get((ws, c.record.host), 0) + 1
    assert got == want


def test_agg_by_window_matches_spark_window(spark):
    """The floor-division window start (chosen to stay under the JIT
    method-size cap — operators/aggregate.py) is bit-identical to
    ``F.window(...).start`` for every duration grammar the operator
    accepts, including pre-epoch timestamps (pmod vs %) and sub-second
    widths."""
    from access_log_aggregator_spark.operators.aggregate import aggregate_by_window

    rows = [
        ("h1", datetime(2026, 3, 1, 14, 59, 59, 999999)),
        ("h1", datetime(2026, 3, 1, 15, 0, 0)),
        ("h2", datetime(1969, 12, 31, 23, 59, 59)),   # pre-epoch: floor, not trunc
        ("h2", datetime(1969, 12, 31, 22, 30, 1)),
        ("h3", datetime(1970, 1, 1, 0, 0, 0)),
        ("h3", datetime(2026, 3, 1, 0, 0, 0, 1)),
    ]
    df = spark.createDataFrame(rows, "host string, log_ts timestamp")
    for duration in ("1 hour", "90 seconds", "1 hour 30 minutes",
                     "2 days", "250 milliseconds"):
        got = sorted(
            tuple(r) for r in aggregate_by_window(df, duration).collect()
        )
        want = sorted(
            tuple(r)
            for r in df.groupBy(
                F.window("log_ts", duration).alias("w"), "host"
            )
            .agg(F.count(F.lit(1)).alias("hits"))
            .select(F.col("w.start").alias("window_start"), "host", "hits")
            .collect()
        )
        assert got == want, duration

    # Documented delta on the (out-of-domain) null timestamp: F.window
    # silently drops the row; the operator groups it under a null window —
    # SQL GROUP BY semantics, what the DuckDB oracle computes.
    with_null = df.union(
        spark.createDataFrame([("h3", None)], "host string, log_ts timestamp")
    )
    agg = {(r["window_start"], r["host"]): r["hits"]
           for r in aggregate_by_window(with_null).collect()}
    assert agg[(None, "h3")] == 1


def test_window_micros_grammar():
    """The duration parser accepts F.window's day-time grammar and rejects
    what F.window rejects (unknown units, non-positive, malformed)."""
    from access_log_aggregator_spark.operators.aggregate import window_micros

    assert window_micros("1 hour") == 3_600_000_000
    assert window_micros("90 seconds") == 90_000_000
    assert window_micros("1 hour 30 minutes") == 5_400_000_000
    assert window_micros("1 week") == 7 * 86_400 * 1_000_000
    assert window_micros("250 milliseconds") == 250_000
    assert window_micros("7 microseconds") == 7
    for bad in ("0 seconds", "1 month", "hour", "1", "", "1.5 hours"):
        with pytest.raises(ValueError):
            window_micros(bad)


def test_routed_commit_reads_zero_parquet_footers(
    spark, corpus, lookup_sdf, tmp_path_factory, monkeypatch
):
    """The routed-sink commit (the HOT path — every batch) takes its row
    count and stats from the write tasks' own records, never from
    driver-side parquet footer reads: poisoning
    pyarrow.parquet.read_metadata proves process_batch commits without
    touching it (its write is tableio's append_spark, pinned the same
    way in test_tableio.py)."""
    import pyarrow.parquet as pq

    def boom(*a, **k):
        raise AssertionError("driver-side footer read on the routed commit")

    root = tmp_path_factory.mktemp("nofooter")
    p = Pipeline(spark, root / "out", lookup_sdf)
    pages = spark.createDataFrame(corpus.pages.iloc[:150])
    monkeypatch.setattr(pq, "read_metadata", boom)
    try:
        res = p.process_batch(pages, batch_id="nf-1")
    finally:
        monkeypatch.undo()
    assert res.rows_in == 150
    assert res.snapshot_id == 1
    assert p.routed().count() == 150
    assert p.routed_table.row_count() == 150


def test_checkpoint_batch_history_is_bounded(tmp_path):
    """The checkpoint cursor is last_snapshot_id; batches[] is diagnostic
    history, capped so the per-batch full-state rewrite never grows
    O(total-batches-ever)."""
    from access_log_aggregator_spark.plans.checkpoint import (
        BATCH_HISTORY_LIMIT,
        CheckpointState,
    )

    cp = Checkpoint(tmp_path / "cp.json")
    state = CheckpointState(last_snapshot_id=7)
    state.batches = [{"batch_id": f"b{i}"} for i in range(BATCH_HISTORY_LIMIT + 50)]
    cp.save(state)
    loaded = cp.load()
    assert loaded.last_snapshot_id == 7
    assert len(loaded.batches) == BATCH_HISTORY_LIMIT
    assert loaded.batches[-1]["batch_id"] == f"b{BATCH_HISTORY_LIMIT + 49}"


def test_summary_format_matches_oracle(pipe, corpus):
    p, _, _, _ = pipe
    now = datetime(2026, 1, 2, 3, 4, 5)
    assert p.summary_text(now=now) == format_summaries(corpus.golden, now=now)


def test_malformed_counter(pipe, corpus):
    _, _, _, results = pipe
    assert sum(r.malformed for r in results) == (
        corpus.golden_counts["unparsed"] + corpus.golden_counts["error"]
    )


def test_resume_is_idempotent(pipe, spark, corpus, lookup_sdf, tmp_path_factory):
    """Kill-between-batches: partial run + resumed run == single run."""
    root = tmp_path_factory.mktemp("resume")
    pages_table = SnapshotTable.create(root / "pages", "pages")
    n = len(corpus.pages)
    step = (n + 3) // 4
    for lo in range(0, n, step):
        pages_table.append_pandas(corpus.pages.iloc[lo: lo + step])

    p = Pipeline(spark, root / "out", lookup_sdf)
    cp = Checkpoint(root / "checkpoint.json")
    # process 2 of 4 batches, then "crash"
    first = run_incremental(spark, pages_table, p, cp, max_batches=2)
    assert len(first) == 2
    # resume — only the remaining 2 run
    second = run_incremental(spark, pages_table, p, cp)
    assert len(second) == 2
    # re-run again: nothing to do
    assert run_incremental(spark, pages_table, p, cp) == []

    baseline, _, _, _ = pipe
    a = p.agg_by_host().select("host", "total_requests", "requests_2xx", "sum_duration_dec")
    b = baseline.agg_by_host().select("host", "total_requests", "requests_2xx", "sum_duration_dec")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_incremental_fails_closed_on_expired_unprocessed_appends(
        spark, corpus, lookup_sdf, tmp_path_factory):
    """Appends committed after the batch cursor and then compacted +
    expired exist only in the replace base, which incremental reads skip
    by design — the next batch run must FAIL CLOSED (previously it
    silently advanced the cursor past rows it never processed), and
    --from-start must refuse a rebuild into a sink that already holds
    pre-expiry batches (duplicates) while rebuilding a FRESH sink from
    the base's full content exactly once."""
    import pytest

    root = tmp_path_factory.mktemp("expired_cursor")
    pages_table = SnapshotTable.create(root / "pages", "pages")
    pages = corpus.pages.iloc[:400]
    pages_table.append_pandas(pages.iloc[:100])
    pages_table.append_pandas(pages.iloc[100:200])
    p = Pipeline(spark, root / "out", lookup_sdf)
    cp = Checkpoint(root / "checkpoint.json")
    assert len(run_incremental(spark, pages_table, p, cp)) == 2  # cursor=2

    pages_table.append_pandas(pages.iloc[200:300])  # never batch-processed
    pages_table.append_pandas(pages.iloc[300:400])
    pages_table.compact(rows_per_file=10 ** 6)
    pages_table.expire_snapshots()

    with pytest.raises(RuntimeError, match="compacted \\+ expired"):
        run_incremental(spark, pages_table, p, cp)
    with pytest.raises(RuntimeError, match="FRESH"):
        run_incremental(spark, pages_table, p, cp, from_start=True)
    assert p.routed().count() == 200  # nothing silently advanced or lost

    p2 = Pipeline(spark, root / "out2", lookup_sdf)
    cp2 = Checkpoint(root / "checkpoint2.json")
    res = run_incremental(spark, pages_table, p2, cp2, from_start=True)
    assert sum(r.rows_in for r in res) == 400
    assert p2.routed().count() == 400
    # the rebuild is checkpointed and idempotent
    assert run_incremental(spark, pages_table, p2, cp2) == []
    assert p2.routed().count() == 400


def test_rebuild_refuses_sink_with_stream_markers(
        spark, corpus, lookup_sdf, tmp_path_factory):
    """The --from-start rebuild duplicate guard must catch rows committed
    under ANY foreign marker, not just pre-expiry pages-snap batches: a
    sink filled by a (since retired) stream holds the same rows under
    stream-N markers, so a base rebuild into it would double every row."""
    from access_log_aggregator_spark.streaming.stream import run_streaming

    root = tmp_path_factory.mktemp("stream_then_rebuild")
    pages_table = SnapshotTable.create(root / "pages", "pages")
    pages_table.append_pandas(corpus.pages.iloc[:100])
    pages_table.append_pandas(corpus.pages.iloc[100:200])
    pipe = Pipeline(spark, root / "out", lookup_sdf)
    run_streaming(spark, pages_table, pipe, root / "ckpt")
    assert pipe.routed().count() == 200

    pages_table.unregister_stream(root / "ckpt")  # stream permanently done
    pages_table.compact(rows_per_file=10 ** 6)
    pages_table.expire_snapshots()

    cp = Checkpoint(root / "checkpoint.json")  # fresh batch cursor = 0
    with pytest.raises(RuntimeError, match="stream-"):
        run_incremental(spark, pages_table, pipe, cp, from_start=True)
    assert pipe.routed().count() == 200  # nothing duplicated


def test_routed_sink_compaction_preserves_reads(pipe, spark, corpus, lookup_sdf,
                                                tmp_path_factory):
    """Compacting the hive-partitioned routed sink merges files WITHIN each
    match_class directory (partition values live in dir names): per-class
    counts and the host aggregate are unchanged, file count shrinks."""
    root = tmp_path_factory.mktemp("compact")
    p = Pipeline(spark, root / "out", lookup_sdf)
    n = len(corpus.pages)
    step = (n + 3) // 4
    for k, lo in enumerate(range(0, n, step)):
        p.process_batch(spark.createDataFrame(corpus.pages.iloc[lo: lo + step]),
                        batch_id=f"c{k}")
    before_counts = {c: p.sink(c).count() for c in corpus.golden_counts}
    before_files = len(p.routed_table.data_files())

    before_windows = p.agg_by_window().count()
    assert p.routed_table.compact() is not None
    assert len(p.routed_table.data_files()) < before_files
    assert {c: p.sink(c).count() for c in corpus.golden_counts} == before_counts
    # read EVERY column type through the compacted files — the timestamp
    # annotation must survive the pyarrow rewrite (INT96 would not)
    assert p.agg_by_window().count() == before_windows
    assert p.routed().select(*p.routed().columns).count() == sum(before_counts.values())

    baseline, _, _, _ = pipe
    a = p.agg_by_host().select("host", "total_requests", "sum_duration_dec")
    b = baseline.agg_by_host().select("host", "total_requests", "sum_duration_dec")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_duplicate_batch_commit_is_noop(pipe, spark, corpus, lookup_sdf, tmp_path_factory):
    """Sink idempotence marker: re-committing a batch id doesn't double rows."""
    root = tmp_path_factory.mktemp("dup")
    p = Pipeline(spark, root / "out", lookup_sdf)
    pages = spark.createDataFrame(corpus.pages.iloc[:200])
    r1 = p.process_batch(pages, batch_id="b1")
    n1 = p.routed().count()
    r2 = p.process_batch(pages, batch_id="b1")  # same marker => no-op
    assert r2.snapshot_id is None
    assert p.routed().count() == n1 == r1.rows_in == 200


def test_lineage_column_present(pipe):
    p, _, _, _ = pipe
    parts = p.routed().select("source_partition").distinct().count()
    assert parts >= 1


def test_write_partitions_repartition(spark, corpus, lookup_sdf, tmp_path_factory):
    """Explicit repartition(N, url) before the sink write (north_rule skew
    handling): identical routed rows and counts, file count per class
    bounded by N."""
    root = tmp_path_factory.mktemp("writeparts")
    pages_table = SnapshotTable.create(root / "pages", "pages")
    pages_table.append_pandas(corpus.pages)

    p = Pipeline(spark, root / "out", lookup_sdf, write_partitions=4)
    cp = Checkpoint(root / "checkpoint.json")
    run_incremental(spark, pages_table, p, cp)

    assert p.routed().count() == len(corpus.pages)
    for cls, want in corpus.golden_counts.items():
        assert p.sink(cls).count() == want, cls
        cls_files = [f for f in p.routed_table.data_files()
                     if f"match_class={cls}" in f]
        assert 0 < len(cls_files) <= 4, cls
