"""KLL quantile sketch (operators/kll.py): rank-error ceiling vs exact
quantiles, merge algebra, replay determinism, bounded state, and the
distributed plan shape. No DuckDB hash oracle BY DESIGN — a rank
sketch's retained samples are partitioning-dependent within the error
bound (see the module docstring); the bounded-error twin here is the
honest cross-check (r4 verdict #6)."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from access_log_aggregator_spark.operators.kll import (
    KLL,
    kll_merge,
    kll_quantiles,
    kll_sketch_table,
)

QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99]


@pytest.fixture(scope="module")
def latencies(spark):
    """100k deterministic skewed 'durations' with a host column — same
    generator family as test_sketch.py's, 10x bigger so the sketch is
    genuinely lossy (retained << n)."""
    return spark.range(100_000).select(
        F.expr("case pmod(id, 3) when 0 then 'a.net' when 1 then 'b.net' "
               "else 'c.net' end").alias("host"),
        F.expr("pow(pmod(id * 2654435761, 1000003) / 1000003.0, 2)")
        .alias("duration"),
    ).repartition(8, "host")


def _rank_error(values: np.ndarray, q: float, est: float) -> float:
    """|empirical rank of est - q| — THE quantity KLL bounds."""
    return abs(np.searchsorted(np.sort(values), est, side="right")
               / values.size - q)


def test_rank_error_ceiling_per_group(spark, latencies):
    per_host = {h: np.array([r.duration for r in rows])
                for h, rows in (
                    (g.host, latencies.where(F.col("host") == g.host)
                     .select("duration").collect())
                    for g in latencies.select("host").distinct().collect())}
    sk = kll_sketch_table(latencies, "duration", ["host"], k=200)
    est = {(r.host, r.q): r.quantile_est
           for r in kll_quantiles(sk, QS, ["host"]).collect()}
    worst = max(_rank_error(per_host[h], q, est[(h, q)])
                for h in per_host for q in QS)
    # k=200 targets ~O(1/k) rank error; 1.5% is a 3x slack ceiling that
    # still proves the sketch is doing rank compression, not guessing
    assert worst <= 0.015, worst


def test_extreme_quantiles_are_exact(spark, latencies):
    sk = kll_sketch_table(latencies, "duration", ["host"])
    rows = kll_quantiles(sk, [0.0, 1.0], ["host"]).collect()
    exact = latencies.groupBy("host").agg(
        F.min("duration").alias("lo"), F.max("duration").alias("hi"))
    bounds = {r.host: (r.lo, r.hi) for r in exact.collect()}
    for r in rows:
        assert r.quantile_est == (bounds[r.host][0] if r.q == 0.0
                                  else bounds[r.host][1])


def test_state_is_bounded(spark, latencies):
    sk = kll_sketch_table(latencies, "duration", ["host"], k=200)
    for r in sk.collect():
        retained = sum(len(b) for b in r.kll_levels)
        assert retained <= 3 * 200, retained  # ~k/(1-c) + slack, << n/3
        assert r.kll_n in (33_333, 33_334)


def test_merge_algebra_union_of_shards(spark, latencies):
    """sketch(A) union sketch(B) -> kll_merge == one sketch over A∪B in
    rank-error terms: shard-built + merged estimates stay under the SAME
    ceiling the whole-table sketch honors (merge must not degrade the
    guarantee) and n/min/max merge exactly."""
    lo = latencies.where("duration < 0.25")
    hi = latencies.where("duration >= 0.25")
    shards = kll_sketch_table(lo, "duration", ["host"]).unionByName(
        kll_sketch_table(hi, "duration", ["host"]))
    merged = kll_merge(shards, ["host"])
    whole = kll_sketch_table(latencies, "duration", ["host"])
    m = {r.host: r for r in merged.collect()}
    w = {r.host: r for r in whole.collect()}
    assert set(m) == set(w)
    for h in m:
        assert m[h].kll_n == w[h].kll_n
        assert m[h].kll_min == w[h].kll_min
        assert m[h].kll_max == w[h].kll_max
    per_host = {h: np.array([r.duration for r in
                             latencies.where(F.col("host") == F.lit(h))
                             .select("duration").collect()])
                for h in m}
    est = {(r.host, r.q): r.quantile_est
           for r in kll_quantiles(merged, QS, ["host"]).collect()}
    worst = max(_rank_error(per_host[h], q, est[(h, q)])
                for h in per_host for q in QS)
    assert worst <= 0.015, worst


def test_replay_determinism(spark, latencies):
    """Same input, same partitioning -> bit-identical sketch rows (the
    derandomized coin): the property that makes reruns diffable."""
    a = kll_sketch_table(latencies, "duration", ["host"]).collect()
    b = kll_sketch_table(latencies, "duration", ["host"]).collect()
    key = lambda r: r.host  # noqa: E731
    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        assert ra == rb


def test_nulls_dropped_and_global_group(spark):
    df = spark.createDataFrame(
        [(float(i),) for i in range(100)] + [(None,)] * 20, "v double")
    sk = kll_sketch_table(df, "v")
    [row] = sk.collect()
    assert row.kll_n == 100  # NULLs not counted
    [q0, q5, q1] = kll_quantiles(sk, [0.0, 0.5, 1.0]).collect()
    assert q0.quantile_est == 0.0 and q1.quantile_est == 99.0
    assert abs(q5.quantile_est - 49.5) <= 2.0


def test_nan_folds_to_inf_greatest(spark):
    """NaN ranks above every double (Spark ordering) and is transported
    as +inf — PySpark's Arrow serializer nullifies NaN in float columns,
    so a NaN-carrying sketch row would corrupt on the shuffle."""
    df = spark.createDataFrame(
        [(float(i),) for i in range(99)] + [(float("nan"),)], "v double")
    sk = kll_sketch_table(df, "v")
    [q1] = kll_quantiles(sk, [1.0]).collect()
    assert q1.quantile_est == math.inf
    [q5] = kll_quantiles(sk, [0.5]).collect()
    assert abs(q5.quantile_est - 49.0) <= 2.0


def test_local_class_small_input_is_lossless(spark):
    s = KLL(k=200)
    s.update_batch(np.arange(100.0))
    # under capacity: nothing compacted, every rank exact
    assert s.retained() == 100
    for q in QS:
        assert abs(s.quantile(q) - np.quantile(np.arange(100.0), q)) <= 1.0


def test_validation():
    with pytest.raises(ValueError):
        KLL(k=4)
    s = KLL()
    s.update_batch(np.arange(10.0))
    with pytest.raises(ValueError):
        s.quantile(1.5)
    with pytest.raises(ValueError):
        s.merge(KLL(k=64))


def test_plan_shape_sketch_rows_only_shuffle(spark, latencies):
    """The build plan: arrow-batched python stages (map build + grouped
    merge), ONE hash exchange carrying sketch rows, zero sort-merge /
    nested-loop joins — the 100 TB shape from the module docstring."""
    from access_log_aggregator_spark.plans.audit import shape_facts

    f = shape_facts(kll_sketch_table(latencies, "duration", ["host"]))
    assert f["ex_hash"] <= 2 and f["ex_single"] == 0
    assert f["smj"] == 0 and f["nl"] == 0
    assert f["py_grouped"] >= 1


def test_tied_n_partials_merge_order_independent():
    """Regression (review): sorting partials by kll_n alone left ties in
    shuffle-arrival order, and KLL merge IS order-dependent — equal-n
    partials from evenly-split partitions made replays nondeterministic.
    _merge_group's total content order must fold any arrival order of
    the same rows into the same sketch bits."""
    import pandas as pd

    from access_log_aggregator_spark.operators.kll import _merge_group

    parts = []
    for i in range(3):
        s = KLL(k=64)
        s.update_batch(np.arange(10_000.0) * (1 + 0.1 * i))
        parts.append(s.to_row())  # all kll_n == 10_000: total tie on n
    cols = ["kll_k", "kll_n", "kll_min", "kll_max", "kll_levels"]
    a = _merge_group(pd.DataFrame(parts, columns=cols))
    b = _merge_group(pd.DataFrame([parts[2], parts[0], parts[1]],
                                  columns=cols))
    assert a.n == b.n == 30_000
    assert [x.tolist() for x in a.levels] == [x.tolist() for x in b.levels]
    assert a.quantile(0.5) == b.quantile(0.5)


def test_mixed_k_union_raises_through_dataframe_api(spark):
    """k rides the sketch row (review: without it, kll_quantiles silently
    re-compacted k=50 levels under a default-k capacity schedule, voiding
    the built sketch's error bound with no error)."""
    import pytest as _pytest

    df = spark.createDataFrame([(float(i),) for i in range(1000)], "v double")
    a = kll_sketch_table(df, "v", k=64)
    b = kll_sketch_table(df, "v", k=128)
    [ra] = a.collect()
    assert ra.kll_k == 64  # k persisted in the row
    with _pytest.raises(Exception, match="different k"):
        kll_merge(a.unionByName(b)).collect()


def test_misspelled_group_column_raises_on_the_driver(spark):
    """kll_merge and kll_quantiles validate their group columns like the
    build path: a typo is a ValueError naming the column, raised before
    any job runs (not an executor-side pandas KeyError)."""
    df = spark.createDataFrame([("a", float(i)) for i in range(50)],
                               "host string, v double")
    sk = kll_sketch_table(df, "v", ["host"])
    with pytest.raises(ValueError, match="hots"):
        kll_merge(sk, ["hots"])
    with pytest.raises(ValueError, match="hots"):
        kll_quantiles(sk, [0.5], ["hots"])


#: captured from the level-scan that restarted after every compaction into
#: the top level; the scan that restarts only when a level is added must
#: keep every level (and so every quantile) bit-identical
_GOLDEN = {
    "a": (53666, [0, 0, 0, 0, 0, 0, 0, 0, 7, 0, 0, 26], "d7127ba7482a8267",
           ["0x1.9cf7ca74d7e56p-4", "0x1.056990bc8d057p-2",
            "0x1.046be0f220c18p-1", "0x1.fee3eadc4efd4p-1",
            "0x1.050ae57f06fd3p+1", "0x1.a2c47a4c5fa27p+1",
            "0x1.e41792a204fa0p+2", "0x1.0da2f3ad7ef4dp+4"]),
    "b": (108954, [0, 0, 0, 0, 0, 0, 0, 6, 15, 0, 27, 37], "0144e47935ab5d3a",
           ["0x1.858d9bd014e00p-6", "0x1.4c9e436cb0e40p-4",
            "0x1.09f8fdea65244p-2", "0x1.013eb24343095p-1",
            "0x1.8833959b9b6bfp-1", "0x1.c89a5f707ffa0p-1",
            "0x1.da89372d9f79ap-1", "0x1.f779bde7a7e1dp-1"]),
    "c": (200000, [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 195], "eeaa962daa6d5c7b",
           ["-0x1.30b99578aac52p+1", "-0x1.45d835df012ebp+0",
            "-0x1.5a801fbe2a542p-1", "-0x1.72a4cfe907dcep-10",
            "0x1.5cce8bd6b6d8ep-1", "0x1.49e36829ae5f7p+0",
            "0x1.a946210c2fa10p+0", "0x1.3285f8ab5bd85p+1"]),
    "d": (58768, [0, 0, 0, 0, 0, 0, 23, 0, 0, 112], "4e119764a9481e65",
           ["0x1.de0d0e8fe92c6p-7", "0x1.acdd5cf9cf86ep-4",
            "0x1.1f514328df46ep-2", "0x1.62a30626c24c8p-1",
            "0x1.58db96716a724p+0", "0x1.20297520e42dap+1",
            "0x1.8000a1304a8bap+1", "0x1.127a7d45d34d4p+2"]),
    "ab": (162620, [0, 0, 0, 0, 0, 0, 0, 6, 0, 11, 0, 13, 32], "ad034df4aa2a53eb",
           ["0x1.858d9bd014e00p-6", "0x1.31e4256096b5cp-3",
            "0x1.336d2eed2cbf2p-2", "0x1.31b87280c635fp-1",
            "0x1.be228ea840466p-1", "0x1.a4516f6dedfe6p+0",
            "0x1.7a95282811a48p+1", "0x1.0da2f3ad7ef4dp+4"]),
    "ba": (162620, [0, 0, 0, 0, 0, 0, 0, 6, 0, 11, 0, 14, 31], "0c0dd4a3c2f30667",
           ["0x1.9e4e5b4473380p-6", "0x1.d30478a995cd0p-4",
            "0x1.32400f74b25dcp-2", "0x1.27f47278c375fp-1",
            "0x1.c89a5f707ffa0p-1", "0x1.bbed173eefec8p+0",
            "0x1.a2c47a4c5fa27p+1", "0x1.e41792a204fa0p+2"]),
}


def _golden_sketches() -> dict:
    rng = np.random.default_rng(20260101)
    a = KLL(k=50)
    for _ in range(60):
        a.update_batch(rng.lognormal(size=int(rng.integers(1, 2000))))
    b = KLL(k=50)
    for _ in range(40):
        b.update_batch(rng.random(int(rng.integers(1, 5000))))
    c = KLL()
    c.update_batch(rng.standard_normal(200_000))
    d = KLL()
    for _ in range(300):
        d.update_batch(rng.exponential(size=int(rng.integers(1, 400))))
    ab = KLL.from_row(*a.to_row()).merge(b)
    ba = KLL.from_row(*b.to_row()).merge(a)
    return {"a": a, "b": b, "c": c, "d": d, "ab": ab, "ba": ba}


def test_compaction_levels_match_golden():
    """Fixed-seed streams (batched updates, one large batch, merges in
    both orders): level sizes, level contents (sha256 prefix) and
    quantiles equal the captured values exactly."""
    import hashlib

    for name, s in _golden_sketches().items():
        h = hashlib.sha256()
        for buf in s.levels:
            h.update(np.ascontiguousarray(buf, dtype=np.float64).tobytes())
            h.update(b"|")
        n, sizes, digest, qs = _GOLDEN[name]
        assert s.n == n, name
        assert [int(x.size) for x in s.levels] == sizes, name
        assert h.hexdigest()[:16] == digest, name
        assert [float(s.quantile(q)).hex() for q in QS] == qs, name
