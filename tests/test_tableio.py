"""SnapshotTable semantics: atomic commits, markers, incremental ranges."""

from __future__ import annotations

import pandas as pd

from access_log_aggregator_spark.sources.tableio import SnapshotTable


def _pdf(n, base=0):
    return pd.DataFrame({"a": range(base, base + n), "b": ["x"] * n})


def test_append_and_row_count(tmp_path):
    t = SnapshotTable.create(tmp_path / "t")
    assert t.current_snapshot_id() is None
    s1 = t.append_pandas(_pdf(5))
    s2 = t.append_pandas(_pdf(3, 5))
    assert (s1, s2) == (1, 2)
    assert t.row_count() == 8
    assert t.current_snapshot_id() == 2


def test_add_files_registers_without_rewrite(tmp_path):
    """add_files (the Iceberg migration-procedure analog) links external
    parquet in-place: one snapshot, footer-derived row count, original
    files untouched, stream glob picks the linked copies up."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ext = tmp_path / "external"
    ext.mkdir()
    srcs = []
    for i in range(3):
        p = ext / f"chunk-{i}.parquet"
        pq.write_table(pa.Table.from_pandas(_pdf(4, i * 4)), p)
        srcs.append(p)

    t = SnapshotTable.create(tmp_path / "t")
    sid = t.add_files(srcs, marker="migrate-1")
    assert sid == 1
    assert t.row_count() == 12
    assert t.committed_markers() == {"migrate-1"}
    assert len(t.data_files()) == 3
    # hardlinked, not copied (same device here) and sources intact
    assert all(p.exists() for p in srcs)
    got = pd.concat(
        [pq.read_table(f).to_pandas() for f in t.data_files()]
    ).sort_values("a")["a"].tolist()
    assert got == list(range(12))
    # idempotent on marker replay
    assert t.add_files(srcs, marker="migrate-1") == 1
    assert t.row_count() == 12


def test_marker_idempotence(tmp_path):
    t = SnapshotTable.create(tmp_path / "t")
    s1 = t.append_pandas(_pdf(5), marker="batch-1")
    s1_again = t.append_pandas(_pdf(5), marker="batch-1")
    assert s1 == s1_again
    assert t.row_count() == 5
    assert t.committed_markers() == {"batch-1"}


def test_incremental_file_ranges(tmp_path):
    t = SnapshotTable.create(tmp_path / "t")
    for i in range(4):
        t.append_pandas(_pdf(2, i * 2))
    assert len(t.data_files()) == 4
    assert len(t.data_files(start_after=2)) == 2
    assert len(t.data_files(start_after=2, end=3)) == 1
    assert t.data_files(start_after=4) == []


def test_compaction_preserves_contents_and_cursors(tmp_path):
    """compact() rewrites the live file set (replace snapshot): same rows,
    fewer files; incremental cursors NEVER re-read rewritten rows; earlier
    snapshots stay readable (time travel)."""
    import pyarrow.parquet as pq

    t = SnapshotTable.create(tmp_path / "t")
    for i in range(4):
        t.append_pandas(_pdf(2, i * 2))          # snapshots 1..4, rows 0..7
    before_files = t.data_files()
    assert len(before_files) == 4

    sid = t.compact()
    assert sid == 5
    assert len(t.data_files()) == 1              # live view: one merged file
    assert t.row_count() == 8
    merged = pq.read_table(t.data_files()[0]).to_pydict()
    assert sorted(merged["a"]) == list(range(8))

    # incremental reader whose cursor predates the compaction sees NOTHING
    # new (the replace snapshot carries no new rows)
    assert t.data_files(start_after=4) == []
    # ... and a post-compaction append is seen exactly once
    t.append_pandas(_pdf(2, 8))                  # snapshot 6
    assert len(t.data_files(start_after=4)) == 1
    assert t.row_count() == 10
    assert len(t.data_files()) == 2              # merged + new append

    # time travel: the pre-compaction state is still fully readable
    assert t.data_files(end=4) == before_files
    assert t.data_files(end=2) == before_files[:2]


def test_compact_duplicate_marker_never_deletes_live_files(tmp_path):
    """Re-running compact with an already-committed marker must be a pure
    no-op: compact carries pre-existing single files into its snapshot, so
    the duplicate-commit cleanup path must never unlink live data."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pathlib import Path

    t = SnapshotTable.create(tmp_path / "t")
    d1 = t.root / "data" / "p=a"
    d2 = t.root / "data" / "p=b"
    d1.mkdir(); d2.mkdir()
    staged = []
    for d, vals in ((d1, [1, 2]), (d1, [3]), (d2, [4])):
        f = d / f"part-{len(staged)}.parquet"
        pq.write_table(pa.table({"a": vals}), f)
        staged.append(f)
    t._commit_files(staged, 4, marker=None)

    sid = t.compact(marker="m1")     # merges d1; carries d2's single file
    live = t.data_files()
    assert any("p=b" in f for f in live)

    assert t.compact(marker="m1") == sid   # duplicate: no-op, same id
    for f in live:
        assert Path(f).exists(), f"live file deleted by duplicate compact: {f}"
    assert t.data_files() == live
    # nothing new appended -> unmarked compact is a no-op too
    assert t.compact() is None


def test_compact_is_noop_on_single_file(tmp_path):
    t = SnapshotTable.create(tmp_path / "t")
    t.append_pandas(_pdf(5))
    assert t.compact() is None
    assert t.row_count() == 5


def test_truncate(tmp_path):
    t = SnapshotTable.create(tmp_path / "t")
    t.append_pandas(_pdf(5))
    t.truncate()
    assert t.row_count() == 0 and t.data_files() == []


def test_truncate_reclaims_data_files(tmp_path):
    """truncate() deletes the dropped snapshots' parquet: the aggregate
    tables and --log-file's routed sink truncate+recommit EVERY run, and
    nothing else (expire_snapshots needs a replace snapshot still in the
    manifest) could ever reclaim the orphaned generation — N runs would
    leave N dead generations on disk."""
    t = SnapshotTable.create(tmp_path / "t")
    t.append_pandas(_pdf(5))
    t.append_pandas(_pdf(3))
    assert len(list((tmp_path / "t" / "data").glob("*.parquet"))) == 2
    t.truncate()
    assert list((tmp_path / "t" / "data").glob("*.parquet")) == []
    # the table stays fully usable after a reclaiming truncate
    t.append_pandas(_pdf(4))
    assert t.row_count() == 4
    assert len(list((tmp_path / "t" / "data").glob("*.parquet"))) == 1


def test_properties_roundtrip(tmp_path):
    t = SnapshotTable.create(tmp_path / "t")
    assert t.properties() == {}
    t.set_properties(source_state="abc")
    t.set_properties(other="x")
    assert t.properties() == {"source_state": "abc", "other": "x"}
    t.truncate()  # properties survive truncation (they describe the table)
    assert t.properties()["source_state"] == "abc"


def test_create_is_reentrant(tmp_path):
    t = SnapshotTable.create(tmp_path / "t")
    t.append_pandas(_pdf(2))
    t2 = SnapshotTable.create(tmp_path / "t")  # reopen, not reset
    assert t2.row_count() == 2


# -- round-3 maintenance semantics: growth-bounded compaction, CAS commit,
# -- snapshot expiry, stream markers ----------------------------------------

def test_compact_is_idempotent_no_disk_growth(tmp_path):
    """Re-running compact on a compacted table is a no-op: a directory is
    rewritten only when it has >= 2 files below the target size, so routine
    maintenance cannot copy the table again and again (ADVICE r2)."""
    t = SnapshotTable.create(tmp_path / "t")
    for i in range(6):
        t.append_pandas(_pdf(10, i * 10))
    sid = t.compact(rows_per_file=25)  # 60 rows -> 3 files (25/25/10)
    assert sid is not None
    files_on_disk = sorted((tmp_path / "t" / "data").glob("*.parquet"))
    assert t.compact(rows_per_file=25) is None  # nothing mergeable left
    assert sorted((tmp_path / "t" / "data").glob("*.parquet")) == files_on_disk
    assert t.row_count() == 60
    # full files carried; only the one small remainder (10 rows) is small
    import pyarrow.parquet as pq

    small = [f for f in t.data_files()
             if pq.read_metadata(f).num_rows < 25]
    assert len(small) <= 1


def test_compact_merges_only_small_files(tmp_path):
    """Already-full files (previous compaction outputs) are carried, new
    small appends merge among themselves."""
    t = SnapshotTable.create(tmp_path / "t")
    for i in range(4):
        t.append_pandas(_pdf(10, i * 10))
    t.compact(rows_per_file=20)  # -> 2 full files of 20
    full_before = {f for f in t.data_files()}
    for i in range(4, 8):
        t.append_pandas(_pdf(5, i * 10))
    sid = t.compact(rows_per_file=20)
    assert sid is not None
    live = set(t.data_files())
    assert full_before <= live  # the full files were not rewritten
    assert t.row_count() == 60


def test_compact_aborts_on_concurrent_append(tmp_path):
    """An append that lands between compact's base capture and its replace
    commit must NOT be silently dropped from the live view: the commit
    validates the base under the manifest lock and raises CommitConflict;
    a retry then succeeds with all rows intact (ADVICE r2)."""
    import pytest

    from access_log_aggregator_spark.sources.tableio import CommitConflict

    t = SnapshotTable.create(tmp_path / "t")
    for i in range(3):
        t.append_pandas(_pdf(10, i * 10))

    orig = t.data_files
    state = {"done": False}

    def hooked(*a, **k):
        files = orig(*a, **k)
        if not state["done"] and not a and not k:
            state["done"] = True
            t.append_pandas(_pdf(10, 90))  # sneaks in after base capture
        return files

    t.data_files = hooked
    with pytest.raises(CommitConflict):
        t.compact(rows_per_file=100)
    t.data_files = orig
    assert t.row_count() == 40  # nothing lost, nothing duplicated
    assert t.compact(rows_per_file=100) is not None  # retry succeeds
    assert t.row_count() == 40


def test_expire_snapshots_reclaims_disk_keeps_live_view(tmp_path):
    t = SnapshotTable.create(tmp_path / "t")
    for i in range(5):
        t.append_pandas(_pdf(10, i * 10))
    n_files_before = len(list((tmp_path / "t" / "data").glob("*.parquet")))
    t.compact(rows_per_file=50)
    gone = t.expire_snapshots()
    assert len(gone) == n_files_before  # every pre-compaction file deleted
    on_disk = list((tmp_path / "t" / "data").glob("*.parquet"))
    assert sorted(str(p) for p in on_disk) == sorted(t.data_files())
    assert t.row_count() == 50
    assert t.expire_snapshots() == []  # idempotent


def test_expire_keeps_appends_after_compaction(tmp_path):
    t = SnapshotTable.create(tmp_path / "t")
    for i in range(3):
        t.append_pandas(_pdf(10, i * 10))
    t.compact(rows_per_file=50)
    t.append_pandas(_pdf(7, 100))  # post-compaction append must survive
    t.expire_snapshots()
    assert t.row_count() == 37
    assert len(t.data_files()) == 2  # compacted file + new append


def test_expire_refuses_streamed_table(tmp_path):
    import pytest

    t = SnapshotTable.create(tmp_path / "t")
    for i in range(3):
        t.append_pandas(_pdf(10, i * 10))
    t.compact(rows_per_file=50)
    t.register_stream(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="stream"):
        t.expire_snapshots()
    assert t.expire_snapshots(force=True) != []


def test_compact_warns_when_streamed(tmp_path):
    import warnings

    t = SnapshotTable.create(tmp_path / "t")
    for i in range(3):
        t.append_pandas(_pdf(10, i * 10))
    t.register_stream(tmp_path / "ckpt")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert t.compact(rows_per_file=50) is not None
    assert any("expire_snapshots" in str(x.message) for x in w)


def test_unregister_stream_unblocks_expiry(tmp_path):
    t = SnapshotTable.create(tmp_path / "t")
    for i in range(3):
        t.append_pandas(_pdf(10, i * 10))
    t.compact(rows_per_file=50)
    t.register_stream(tmp_path / "ckpt")
    assert t.stream_markers()
    assert t.unregister_stream(tmp_path / "ckpt") is True
    assert t.unregister_stream(tmp_path / "ckpt") is False  # idempotent
    assert t.stream_markers() == []
    assert t.expire_snapshots() != []  # no longer blocked


def test_expiry_records_stream_floor(tmp_path):
    t = SnapshotTable.create(tmp_path / "t")
    for i in range(3):
        t.append_pandas(_pdf(10, i * 10))
    assert t.stream_floor() is None
    replace_id = t.compact(rows_per_file=50)
    t.expire_snapshots()
    assert t.stream_floor() == replace_id


def test_truncate_refuses_streamed_table_and_resets_expiry_metadata(tmp_path):
    """truncate() deletes part-* files, so a registered stream must block
    it like expire_snapshots; and a truncate voids the expiry metadata
    (stream_floor, expired_append_ceiling) along with the rows — a stale
    floor would make a fresh post-rebuild checkpoint warn about
    compact-* rows that were deleted, not compacted."""
    import pytest

    t = SnapshotTable.create(tmp_path / "t")
    for i in range(3):
        t.append_pandas(_pdf(10, i * 10))
    t.compact(rows_per_file=50)
    t.expire_snapshots()
    assert t.stream_floor() is not None
    assert t.expired_append_ceiling() == 3  # appends 1-3 were expired
    t.register_stream(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="truncate"):
        t.truncate()
    assert t.row_count() == 30  # refused: nothing deleted
    t.unregister_stream(tmp_path / "ckpt")
    t.truncate()
    assert t.stream_floor() is None
    assert t.expired_append_ceiling() == 0


def test_stream_marker_key_is_path_spelling_independent(tmp_path, monkeypatch):
    """The same checkpoint spelled relative, absolute, or ./-prefixed maps
    to ONE marker, so --retire-stream invoked from a different cwd
    spelling actually retires it instead of leaving expiry blocked."""
    from pathlib import Path

    t = SnapshotTable.create(tmp_path / "t")
    monkeypatch.chdir(tmp_path)
    t.register_stream("ckpt")
    assert len(t.stream_markers()) == 1
    # the stored payload is absolute too: consumers (cli.py's mixed-mode
    # guard) read it back from arbitrary cwds and resolve it there
    assert Path(t.stream_markers()[0]).is_absolute()
    assert Path(t.stream_markers()[0]) == tmp_path / "ckpt"
    t.register_stream(tmp_path / "ckpt")  # absolute spelling: same marker
    assert len(t.stream_markers()) == 1
    assert t.unregister_stream("./ckpt") is True
    assert t.stream_markers() == []
    assert t.unregister_stream("ckpt") is False  # already retired


def test_markers_survive_expiry_so_replays_stay_deduped(tmp_path):
    """The checkpoint-replay safety net: a streaming sink batch whose
    snapshot was compacted + expired must STILL dedupe when the
    checkpoint replays it (Ctrl-C cancelled the epoch commit after the
    sink commit). Marker lifetime is decoupled from snapshot lifetime,
    like Iceberg's WAP/txn ids in table metadata."""
    t = SnapshotTable.create(tmp_path / "t")
    for i in range(3):
        t.append_pandas(_pdf(10, i * 10), marker=f"stream-{i}")
    replace_id = t.compact(rows_per_file=50)
    t.expire_snapshots()
    # the markers' snapshots are gone, the markers are not
    assert t.committed_markers() == {"stream-0", "stream-1", "stream-2"}
    # a replayed batch is a no-op and resolves to the live base that
    # carries its rows now
    assert t.append_pandas(_pdf(10, 0), marker="stream-1") == replace_id
    assert t.row_count() == 30
    # a deduped replay changes nothing an incremental consumer reads
    before = t.changes_since(replace_id)
    t.append_pandas(_pdf(10, 0), marker="stream-2")  # another no-op replay
    assert t.changes_since(replace_id) == before
    # repeated expiry keeps the retention set stable
    assert t.expire_snapshots() == []
    assert t.committed_markers() == {"stream-0", "stream-1", "stream-2"}


def test_expired_marker_retention_is_bounded(tmp_path, monkeypatch):
    """The retention list keeps the manifest small on a long-lived
    streamed sink: oldest expired markers age out first (replays only
    ever reference recent commits), live snapshots' markers are never
    affected."""
    from access_log_aggregator_spark.sources import tableio

    monkeypatch.setattr(tableio, "EXPIRED_MARKER_RETENTION", 3)
    t = SnapshotTable.create(tmp_path / "t")
    for i in range(5):
        t.append_pandas(_pdf(4, i * 4), marker=f"b-{i}")
    t.compact(rows_per_file=100)
    t.expire_snapshots()
    # 5 expired markers, cap 3: the NEWEST three survive, in commit order
    m = t._manifest()
    assert m["expired_markers"] == ["b-2", "b-3", "b-4"]
    assert t.committed_markers() == {"b-2", "b-3", "b-4"}
    # an aged-out marker no longer dedupes (the documented contract:
    # replays reference recent commits only) — the commit lands cleanly
    t.append_pandas(_pdf(4), marker="b-0")
    assert t.row_count() == 24


def test_truncate_voids_expired_marker_retention(tmp_path):
    """A truncate declares the content rebuilt from scratch: retained
    expired markers must go with it, or the rebuild's re-commit of the
    same logical batch would silently no-op."""
    t = SnapshotTable.create(tmp_path / "t")
    t.append_pandas(_pdf(5), marker="m-1")
    t.append_pandas(_pdf(5, 5), marker="m-2")
    t.compact(rows_per_file=50)
    t.expire_snapshots()
    assert "m-1" in t.committed_markers()
    t.truncate()
    assert t.committed_markers() == set()
    sid = t.append_pandas(_pdf(5), marker="m-1")  # re-commit really lands
    assert t.row_count() == 5 and sid is not None


def test_losing_compact_conflict_keeps_carried_files_readable(tmp_path):
    """Two compactors race with different rows_per_file: the loser passed
    a CARRIED pre-existing file in its commit list which the winner's
    replace snapshot merged away. The loser's conflict cleanup must not
    unlink it — older append snapshots still reference it (time travel,
    behind-cursor incremental reads) — while the loser's freshly staged
    compact-* output must still be reclaimed."""
    import pyarrow.parquet as pq
    import pytest
    import unittest.mock as mock

    from access_log_aggregator_spark.sources.tableio import CommitConflict

    t = SnapshotTable.create(tmp_path / "t")
    t.append_pandas(_pdf(50))       # carried by A (>= 10 rows)
    t.append_pandas(_pdf(5, 50))    # merged by A
    t.append_pandas(_pdf(5, 55))    # merged by A

    # interject at the merge's content read (r5: the planning pass no
    # longer reads footers at all — counts come from manifest stats, and
    # outputs derive theirs from the write-time metadata_collector)
    real_read = pq.read_table
    state = {"raced": False}

    def racing_read(f, *a, **kw):
        if not state["raced"]:
            state["raced"] = True
            # B commits its replace between A's base capture and A's CAS
            SnapshotTable(tmp_path / "t").compact(rows_per_file=100)
        return real_read(f, *a, **kw)

    with mock.patch.object(pq, "read_table", side_effect=racing_read):
        with pytest.raises(CommitConflict):
            t.compact(rows_per_file=10)

    # every file any snapshot references is still on disk (the carried
    # 50-row file survived the loser's cleanup), and nothing else is
    # (the loser's staged compact-* output was reclaimed)
    m = t._manifest()
    referenced = {str(tmp_path / "t" / f)
                  for s in m["snapshots"] for f in s["files"]}
    on_disk = {str(p) for p in (tmp_path / "t" / "data").glob("*.parquet")}
    assert on_disk == referenced
    # time travel to the first append still reads its rows
    first = t.snapshots()[0]
    got = pq.read_table(str(tmp_path / "t" / first.files[0]))
    assert got.num_rows == 50
    assert t.row_count() == 60  # live view intact


def test_compact_cleans_staged_outputs_on_failed_read(tmp_path):
    """A FileNotFoundError mid-compact (concurrent truncate/expire
    unlinked a listed file) must not leak the compact-* outputs already
    written for earlier directories: nothing references them, so no
    later maintenance could ever reclaim them."""
    import pyarrow.parquet as pq
    import pytest

    import pyarrow as pa

    t = SnapshotTable.create(tmp_path / "t")
    # two directories (the hive-partitioned sink layout) so the first
    # group compacts — staging a compact-* output — before the second
    # group's read fails (groups iterate in sorted order: a/ before b/)
    for sub, base in (("a", 0), ("b", 100)):
        d = tmp_path / "t" / "data" / sub
        d.mkdir(parents=True)
        files = []
        for i in range(2):
            p = d / f"part-{sub}{i}.parquet"
            pq.write_table(pa.Table.from_pandas(_pdf(5, base + i * 5)), p)
            files.append(p)
        t._commit_files(files, 10, marker=f"gen-{sub}")
    manifest_before = (tmp_path / "t" / "manifest.json").read_text()

    victim = t.data_files()[-1]  # a b/ file: read after a/ compacted
    real_read = pq.read_table

    def failing_read(f, *a, **kw):
        if str(f) == victim:
            raise FileNotFoundError(victim)
        return real_read(f, *a, **kw)

    import unittest.mock as mock

    with mock.patch.object(pq, "read_table", side_effect=failing_read):
        with pytest.raises(FileNotFoundError):
            t.compact(rows_per_file=50)
    # no orphaned compact-* outputs, manifest untouched
    assert list((tmp_path / "t" / "data").rglob("compact-*.parquet")) == []
    assert (tmp_path / "t" / "manifest.json").read_text() == manifest_before
    assert t.compact(rows_per_file=50) is not None  # retry heals


def test_crash_before_manifest_swap_leaves_table_clean(tmp_path, monkeypatch):
    """Kill the commit at the worst moment: data files staged into data/
    and the new manifest fully written to its tmp file, but the process
    dies BEFORE the atomic os.replace. The half-committed snapshot must be
    invisible (manifest unchanged, orphan data + tmp-manifest files
    ignored by every read surface), and replaying the batch under the same
    idempotence marker must commit it exactly once — the reference's
    resume-without-loss contract (tailer/tailer.go:58-72) across a
    mid-commit crash, not just between batches."""
    import os as _os

    t = SnapshotTable.create(tmp_path / "t")
    t.append_pandas(_pdf(5), marker="batch-1")

    real_replace = _os.replace

    def torn_replace(src, dst, *a, **k):
        if str(dst).endswith("manifest.json"):
            raise OSError("simulated crash before manifest rename")
        return real_replace(src, dst, *a, **k)

    monkeypatch.setattr("os.replace", torn_replace)
    try:
        t.append_pandas(_pdf(3, 5), marker="batch-2")
        raise AssertionError("commit should have crashed")
    except OSError:
        pass
    monkeypatch.setattr("os.replace", real_replace)

    # the torn commit is invisible: manifest state is the pre-crash table,
    # the orphan data file and the tmp manifest are ignored
    assert t.current_snapshot_id() == 1
    assert t.row_count() == 5
    assert len(t.data_files()) == 1
    assert list((tmp_path / "t").glob("manifest.json.*.tmp"))  # torn tmp exists
    orphans = {p.name for p in (tmp_path / "t" / "data").glob("*.parquet")}
    assert len(orphans) == 2  # committed + orphan on disk ...
    assert len(t.data_files()) == 1  # ... but only the committed one is live

    # replay is clean and the marker dedupes exactly once
    sid = t.append_pandas(_pdf(3, 5), marker="batch-2")
    assert sid == 2
    assert t.row_count() == 8
    assert t.append_pandas(_pdf(3, 5), marker="batch-2") == 2
    assert t.row_count() == 8


def test_crash_mid_manifest_write_preserves_old_manifest(tmp_path, monkeypatch):
    """Crash WHILE writing the tmp manifest (partial JSON on disk, rename
    never reached): the live manifest is untouched, readers see the old
    snapshot, and a later commit succeeds and ignores the garbage tmp."""
    import json as _json

    t = SnapshotTable.create(tmp_path / "t")
    t.append_pandas(_pdf(4), marker="b1")

    real_dump = _json.dump

    def torn_dump(obj, fh, **k):
        fh.write('{"name": "t", "snapsho')  # half-written JSON
        raise OSError("simulated crash mid manifest write")

    monkeypatch.setattr("json.dump", torn_dump)
    try:
        t.append_pandas(_pdf(2, 4), marker="b2")
        raise AssertionError("commit should have crashed")
    except OSError:
        pass
    monkeypatch.setattr("json.dump", real_dump)

    assert t.current_snapshot_id() == 1
    assert t.row_count() == 4
    sid = t.append_pandas(_pdf(2, 4), marker="b2")
    assert sid == 2 and t.row_count() == 6


def test_append_spark_commit_reads_zero_parquet_footers(tmp_path, spark, monkeypatch):
    """append_spark's committed row_count and stats come from its write
    tasks' own records (each task reads the footer it just wrote), NOT
    from driver-side footer reads — at 10^5 files/commit a serial footer
    sweep would be the last sequential stage of the pipeline. Poisoning
    pq.read_metadata proves the commit path never touches it (add_files
    keeps the footer path: it registers files without running a job)."""
    from access_log_aggregator_spark.sources import tableio as tio

    def boom(*a, **k):
        raise AssertionError("driver-side footer read on the commit path")

    t = SnapshotTable.create(tmp_path / "t")
    df = spark.range(0, 1000).selectExpr("id AS a", "'x' AS b").repartition(4)
    monkeypatch.setattr(tio.pq, "read_metadata", boom)
    sid = t.append_spark(df, marker="spark-1")
    empty = spark.range(0, 0).selectExpr("id AS a", "'x' AS b")
    sid_empty = t.append_spark(empty, marker="spark-empty")
    monkeypatch.undo()
    assert sid == 1 and sid_empty == 2
    assert t.row_count() == 1000
    assert t.read(spark).count() == 1000
    # marker replay still dedupes
    assert t.append_spark(df, marker="spark-1") == 1
    assert t.row_count() == 1000



def test_write_takes_nested_null_and_dictionary_columns(tmp_path):
    """The dictionary rule of write_parquet counts distinct values, which
    pyarrow cannot do for list, struct, map, null or dictionary columns:
    those stay out of the rule instead of failing the write."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = SnapshotTable.create(tmp_path / "nested")
    table = pa.table({
        "id": [1, 2], "v": [[1.0], [2.0, None]],
        "s": [{"a": 1, "b": "x"}, {"a": 2, "b": None}],
        "m": pa.array([[("k", 1)], []], pa.map_(pa.string(), pa.int64())),
    })
    assert t.overwrite_arrow(table, expected_current=0) == 1
    (f,) = t.data_files()
    assert pq.read_table(f).to_pylist() == table.to_pylist()

    t = SnapshotTable.create(tmp_path / "flat")
    pdf = pd.DataFrame({"c": pd.Categorical(["a", "b", "a"]),
                        "z": [None, None, None]})
    t.append_pandas(pdf)
    (f,) = t.data_files()
    back = pq.read_table(f).to_pandas()
    assert back["c"].tolist() == ["a", "b", "a"]
    assert back["z"].isna().all()


def test_append_spark_round_trips_every_spark_type(tmp_path, spark):
    """append_spark's task writer keeps every Spark type: the files read
    back with the frame's schema (footer-inferred, not just the tracked
    one) and its rows, and the tracked schema is ``df.schema``."""
    import datetime as dt
    from decimal import Decimal

    schema = (
        "k int, b byte, s short, i int, l bigint, f float, d double, "
        "dec decimal(38,18), str string, bin binary, bool boolean, "
        "dt date, ts timestamp, ntz timestamp_ntz, arr array<int>, "
        "m map<string,bigint>, st struct<x:int,y:string>")
    full = (1, -3, 300, 70_000, 2**40, 1.5, -2.25,
            Decimal("12345678901234567890.123456789012345678"), "héllo",
            b"\x00\xff", True, dt.date(2026, 3, 1),
            dt.datetime(2026, 3, 1, 12, 30, 15, 123456,
                        tzinfo=dt.timezone.utc),
            dt.datetime(2026, 3, 1, 12, 30, 15, 654321), [1, None, 3],
            {"a": 1, "b": None}, (7, "y"))
    empty = (2, *[None] * 16)
    df = spark.createDataFrame([full, empty, (3, *full[1:])], schema) \
        .repartition(2)
    t = SnapshotTable.create(tmp_path / "types")
    assert t.append_spark(df, marker="types") == 1
    assert t.table_schema() == df.schema
    inferred = spark.read.parquet(*t.data_files())
    assert inferred.schema == df.schema
    for got in (inferred, t.read(spark)):
        assert got.orderBy("k").collect() == df.orderBy("k").collect()
    assert t.row_count() == 3

_STRESS_WRITER = """
import sys, time
sys.path.insert(0, sys.argv[1])
import pandas as pd
from access_log_aggregator_spark.sources.tableio import SnapshotTable
root, w = sys.argv[2], int(sys.argv[3])
t = SnapshotTable(root)
for i in range(12):
    vals = [w * 100000 + i * 100 + k for k in range(25)]
    t.append_pandas(pd.DataFrame({"val": vals}), marker=f"w{w}-b{i}")
    time.sleep(0.01)
open(f"{root}/.done-w{w}", "w").close()
"""

_STRESS_MAINT = """
import glob, sys, time
sys.path.insert(0, sys.argv[1])
from access_log_aggregator_spark.sources.tableio import (
    CommitConflict, SnapshotTable)
root, n_writers = sys.argv[2], int(sys.argv[3])
t = SnapshotTable(root)
conflicts = compactions = 0
for i in range(400):
    try:
        if t.compact(rows_per_file=500) is not None:
            compactions += 1
    except CommitConflict:
        conflicts += 1
    if i % 10 == 9:
        t.expire_snapshots()
    if len(glob.glob(f"{root}/.done-w*")) == n_writers:
        break
    time.sleep(0.02)
# quiesced now: the CommitConflict contract is "retry", and with no
# concurrent appender the retried compaction must land
for _ in range(20):
    try:
        if t.compact(rows_per_file=500) is not None:
            compactions += 1
        break
    except CommitConflict:
        conflicts += 1
t.expire_snapshots()
print(conflicts, compactions)
"""


def test_concurrent_writers_and_maintenance_across_processes(tmp_path):
    """The manifest lock + CAS seam under REAL cross-process concurrency —
    the single-host stand-in for Iceberg's catalog compare-and-swap that
    the 100-TB story rests on. Four writer processes append 12 marked
    batches each while a fifth loops compaction (retrying on
    CommitConflict) and snapshot expiry against the moving table. No row
    may be lost or duplicated, and the final live file set must agree
    with the manifest's row count."""
    import subprocess
    import sys
    from pathlib import Path

    import pyarrow.parquet as pq

    repo = str(Path(__file__).resolve().parent.parent)
    root = tmp_path / "t"
    SnapshotTable.create(root)
    n_writers = 4
    maint = subprocess.Popen(
        [sys.executable, "-c", _STRESS_MAINT, repo, str(root), str(n_writers)],
        stdout=subprocess.PIPE, text=True)
    writers = [
        subprocess.Popen(
            [sys.executable, "-c", _STRESS_WRITER, repo, str(root), str(w)])
        for w in range(n_writers)
    ]
    for p in writers:
        assert p.wait(timeout=120) == 0
    out, _ = maint.communicate(timeout=120)
    assert maint.returncode == 0
    conflicts, compactions = map(int, out.split())
    assert compactions >= 1          # the race was actually exercised

    t = SnapshotTable(root)
    expect_rows = n_writers * 12 * 25
    expect_markers = {f"w{w}-b{i}" for w in range(n_writers) for i in range(12)}
    expect_sum = sum(w * 100000 + i * 100 + k
                     for w in range(n_writers) for i in range(12)
                     for k in range(25))
    # expiry RETAINS expired snapshots' markers (Iceberg keeps WAP/txn ids
    # in table metadata the same way), so after the dust settles every
    # writer's marker is visible — exactly once, never one nobody wrote
    assert t.committed_markers() == expect_markers
    assert t.row_count() == expect_rows
    live = t.data_files()
    assert sum(pq.read_metadata(f).num_rows for f in live) == expect_rows
    got = pd.concat([pq.read_table(f).to_pandas() for f in live])
    assert len(got) == expect_rows and int(got["val"].sum()) == expect_sum
    # the post-expiry manifest still carries the compaction base
    assert any(s.operation == "replace" for s in t.snapshots())


def test_snapshot_ids_monotonic_across_truncate(tmp_path):
    """Ids never repeat across a truncate+rebuild: the manifest carries an
    id high-water mark, so the first post-truncate commit continues the
    sequence instead of re-minting id 1. This is what makes the replace
    CAS ABA-free (see test_compact_cas_detects_truncate_rebuild)."""
    t = SnapshotTable.create(tmp_path / "t")
    assert t.append_pandas(_pdf(2)) == 1
    assert t.append_pandas(_pdf(2)) == 2
    t.truncate()
    assert t.append_pandas(_pdf(3)) == 3  # not 1: the dropped ids stay dead
    t.truncate()
    t.truncate()  # idempotent on an empty table
    assert t.append_pandas(_pdf(1)) == 4


def test_compact_cas_detects_truncate_rebuild(tmp_path):
    """The ABA shape the CAS must catch: a single-snapshot table (the
    --log-file routed sink always holds exactly one: truncate + one
    commit per rebuild) is compacted concurrently with a rebuild. With
    ids resetting to 1 on truncate, the rebuilt table would present the
    SAME current id the compaction captured, its replace would commit,
    and the live view would resurrect pre-rebuild content while
    referencing unlinked files. Monotonic ids make the CAS sound."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from access_log_aggregator_spark.sources.tableio import CommitConflict

    t = SnapshotTable.create(tmp_path / "t")
    t.append_pandas(_pdf(4))
    base = t.current_snapshot_id()  # compact() captures its base here ...
    # ... meanwhile a --log-file rebuild truncates and recommits
    t.truncate()
    t.append_pandas(_pdf(6))
    # compaction finished its rewrite against the OLD generation and now
    # tries the optimistic replace commit it validated against `base`
    staged = tmp_path / "t" / "data" / "compact-stale.parquet"
    pq.write_table(pa.Table.from_pandas(_pdf(4)), staged)
    with pytest.raises(CommitConflict):
        t._commit_files([staged], 4, None, operation="replace",
                        expected_current=base)
    # the rebuilt generation is untouched and the staged file was cleaned
    assert t.row_count() == 6
    assert not staged.exists()
