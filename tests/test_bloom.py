"""Per-file equality blooms (filestats bloom section + the `bloom_cols`
table property): the point-lookup pruning zone maps cannot do.

Every file of a log table spans 'a…'-to-'z…' hosts, so min/max bounds
never prune `host = v`; a per-file bloom over the column's distinct
values does. Soundness rule is the same as the bounds: prune only on
proof, fail open on anything missing or malformed.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pytest

from access_log_aggregator_spark.sources import filestats
from access_log_aggregator_spark.sources.tableio import SnapshotTable


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------

def test_bloom_membership_and_fpr():
    vals = [f"host{i}.example.net" for i in range(2000)]
    bl = filestats.bloom_from_values(vals)
    assert all(filestats.bloom_may_contain(bl, v) for v in vals)
    probes = [f"other{i}.example.org" for i in range(5000)]
    fp = sum(filestats.bloom_may_contain(bl, p) for p in probes)
    assert fp < 50  # design fpr ~6e-4 at 2k values; allow 20x slack


def test_bloom_caps_and_degenerates():
    assert filestats.bloom_from_values([]) is None
    over = (f"v{i}" for i in range(filestats.BLOOM_MAX_DISTINCT + 1))
    assert filestats.bloom_from_values(over) is None


def test_bloom_fails_open_on_format_drift():
    bl = filestats.bloom_from_values(["a"])
    assert not filestats.bloom_may_contain(bl, "b")
    assert filestats.bloom_may_contain({**bl, "m": 999}, "b")
    assert filestats.bloom_may_contain({**bl, "z64": "!!notb64"}, "b")


def test_add_blooms_marks_every_considered_column():
    tbl = pa.table({"s": ["x", "y", None], "n": [1, 2, 3]})
    rec = {"rows": 3, "cols": {}}
    filestats.add_blooms(rec, tbl, ["s", "n", "ghost"])
    assert rec["bloomed"] == ["ghost", "n", "s"]   # all considered
    assert "bloom" in rec["cols"]["s"]             # string col: stored
    assert "bloom" not in rec["cols"].get("n", {})  # non-string: skipped
    assert not filestats.needs_bloom_sweep(rec, ["s", "n", "ghost"])
    assert filestats.needs_bloom_sweep(rec, ["s", "new_col"])
    assert filestats.needs_bloom_sweep(None, [])


def test_file_may_match_uses_bloom_for_equality_only():
    bl = filestats.bloom_from_values(["aa", "zz"])
    # range bounds span aa..zz, so only the bloom can prune 'mm'
    rec = {"rows": 2, "schema_cols": ["h"],
           "cols": {"h": {"type": "str", "min": "aa", "max": "zz",
                          "bloom": bl}}}
    assert not filestats.file_may_match(rec, [("h", "=", "mm")])
    assert filestats.file_may_match(rec, [("h", "=", "aa")])
    # non-equality ops never consult the bloom
    assert filestats.file_may_match(rec, [("h", "<", "mm")])
    assert filestats.file_may_match(rec, [("h", "!=", "mm")])
    # a bloom-only record (unusable footer bounds) is safe and prunable
    only = {"rows": 2, "schema_cols": ["h"], "cols": {"h": {"bloom": bl}}}
    assert not filestats.file_may_match(only, [("h", "=", "mm")])
    assert filestats.file_may_match(only, [("h", "<", "mm")])


# ---------------------------------------------------------------------------
# table integration
# ---------------------------------------------------------------------------

def _host_table(tmp_path, with_property=True) -> SnapshotTable:
    """4 appends with DISJOINT host sets whose lexicographic ranges all
    overlap (a-z spread per file): bounds can never prune host equality,
    blooms always can."""
    t = SnapshotTable.create(tmp_path / "hosts")
    if with_property:
        t.set_properties(bloom_cols="host")
    for s in range(4):
        hosts = [f"{c}{s}.example.net" for c in "abcmnxyz"]
        t.append_pandas(pd.DataFrame({
            "host": hosts * 5,
            "n": list(range(40)),
        }), marker=f"h{s}")
    return t


def test_append_pandas_blooms_prune_point_lookups(spark, tmp_path):
    t = _host_table(tmp_path)
    target = "m2.example.net"   # lives only in file 2
    planned = t.data_files(where=[("host", "=", target)])
    assert len(planned) == 1
    got = t.read(spark, where=[("host", "=", target)]).collect()
    assert len(got) == 5 and all(r.host == target for r in got)
    # equality on a value NO file holds plans zero files -> read is None
    assert t.read(spark, where=[("host", "=", "nobody.example")]) is None
    # without the property: no blooms, everything scans, results equal
    t2 = _host_table(tmp_path / "plain", with_property=False)
    assert len(t2.data_files(where=[("host", "=", target)])) == 4
    got2 = t2.read(spark, where=[("host", "=", target)]).collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, got))


def test_compact_rebuilds_blooms_for_rewritten_files(spark, tmp_path):
    t = _host_table(tmp_path)
    before = {tuple(r) for r in
              t.read(spark, where=[("host", "=", "x1.example.net")]).collect()}
    sid = t.compact(rows_per_file=80, sort_by=["host"])
    assert sid is not None
    # rewritten outputs carry fresh blooms: the lookup still prunes
    planned = t.data_files(where=[("host", "=", "x1.example.net")])
    (snap,) = [s for s in t.snapshots() if s.id == sid]
    assert 0 < len(planned) < len(snap.files)
    after = {tuple(r) for r in
             t.read(spark, where=[("host", "=", "x1.example.net")]).collect()}
    assert after == before


def test_analyze_backfills_blooms_for_spark_written_files(
        spark, tmp_path, commit_statless):
    t = SnapshotTable.create(tmp_path / "sp")
    t.set_properties(bloom_cols="host")
    df = spark.createDataFrame(
        [(f"{c}.example.net", i) for i, c in enumerate("abc")],
        "host string, n int")
    commit_statless(t, df, "s1")
    # a statless commit (earlier releases' append_spark); the sweep adds
    # bounds+blooms
    assert t.analyze(spark) > 0
    assert len(t.data_files(where=[("host", "=", "a.example.net")])) >= 1
    assert t.read(spark, where=[("host", "=", "zz.example")]) is None
    # the sweep is a no-op on re-run, including the bloom condition
    assert t.analyze(spark) == 0


def test_analyze_resweeps_when_bloom_cols_added_later(spark, tmp_path):
    t = _host_table(tmp_path, with_property=False)
    assert t.analyze(spark) == 0          # bounds already recorded
    t.set_properties(bloom_cols="host")
    assert t.analyze(spark) == 4          # bloom backfill for all files
    assert len(t.data_files(where=[("host", "=", "m2.example.net")])) == 1
    assert t.analyze(spark) == 0          # and done


def test_narrow_then_rewiden_bloom_cols_keeps_old_blooms(spark, tmp_path):
    """Re-sweeping for a new bloom column must NOT drop blooms already
    built for columns no longer in the property (found in review: the
    whole-record replacement lost them, silently un-pruning host
    lookups until another full sweep)."""
    t = _host_table(tmp_path)                  # host blooms at write time
    t.add_column("lang", "string")
    t.set_properties(bloom_cols="lang")        # narrow away from host
    t.append_pandas(pd.DataFrame(
        {"host": ["q9.example.net"] * 3, "lang": ["en", "de", "en"],
         "n": [1, 2, 3]}), marker="h9")
    assert t.analyze(spark) > 0                # sweep adds lang blooms
    # host blooms from the original records survive the re-sweep
    assert len(t.data_files(where=[("host", "=", "m2.example.net")])) == 1
    # lang blooms work on the new file; old files predate the column and
    # are schema-pruned regardless, so an absent value plans NOTHING
    assert len(t.data_files(where=[("lang", "=", "en")])) == 1
    assert len(t.data_files(where=[("lang", "=", "fr")])) == 0
    assert t.analyze(spark) == 0


def test_add_files_attaches_blooms(tmp_path):
    import pyarrow.parquet as pq

    src = tmp_path / "src.parquet"
    pq.write_table(pa.table({"host": ["a.net", "b.net"], "n": [1, 2]}), src)
    t = SnapshotTable.create(tmp_path / "mig")
    t.set_properties(bloom_cols="host")
    t.add_files([src], marker="mig1")
    assert len(t.data_files(where=[("host", "=", "a.net")])) == 1
    assert len(t.data_files(where=[("host", "=", "zz.net")])) == 0


def test_high_cardinality_column_stores_no_bloom_fails_open(tmp_path):
    t = SnapshotTable.create(tmp_path / "big")
    t.set_properties(bloom_cols="u")
    n = filestats.BLOOM_MAX_DISTINCT + 10
    t.append_pandas(pd.DataFrame({"u": [f"u{i}" for i in range(n)]}),
                    marker="b1")
    # over the cap: no bloom, equality fails open (file still planned) —
    # probe a value INSIDE the min/max range so bounds cannot prune it
    assert len(t.data_files(where=[("u", "=", "u1.absent")])) == 1
    (snap,) = t.snapshots()
    (rec,) = snap.stats.values()
    assert "bloom" not in rec["cols"]["u"]
    assert rec["bloomed"] == ["u"]        # considered: analyze won't loop


def test_nan_predicate_value_fails_open():
    """A NaN predicate value proves nothing (Spark orders NaN above
    every double, so `x < NaN` matches every non-NaN row); the
    keep-oriented bounds refactor briefly flipped this into
    fail-CLOSED because `lo < nan` is Python-False (found in review)."""
    nan = float("nan")
    rec = {"rows": 5, "schema_cols": ["score"],
           "cols": {"score": {"type": "float", "min": 1.0, "max": 5.0}}}
    for op in ("=", "!=", "<", "<=", ">", ">="):
        assert filestats.file_may_match(rec, [("score", op, nan)]), op
