"""Aggregations: per-host / per-status-bucket / per-time-window counters.

Re-expresses the reference's three-accumulator fold
(internal/accesslog/summaries.go:3-27) as Spark hash aggregates:

    requestTotal  -> count(*)
    request2xx    -> count_if(200 <= status < 300)   (summaries.go:6-8)
    durationTotal -> sum(duration)  [+ an exact decimal twin]

plus the derived columns of print.go:43-44 (non-2xx, avg) and the graft's
north_star extensions (status bucket = floor(status/100); hourly tumbling
window on the record's own event time).

Scale notes:
- Spark's partial (map-side) aggregation already absorbs most key skew for
  algebraic aggregates; ``salt_buckets`` adds the explicit two-phase salted
  variant the north_rule asks for (hot host 74% of rows): partial groupBy
  (host, hash(url) % N) then final groupBy(host). Tests assert both paths
  produce identical results.
- ``sum_duration_dec`` aggregates on decimal(38,18) so the total is
  order-independent and exactly reproducible across partitionings; the
  double column keeps reference parity at the 1e-9 tolerance the
  reference's own tests use (summaries_test.go:88,200).
"""

from __future__ import annotations

from typing import Optional

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

IS_2XX = "(status_code >= 200) AND (status_code < 300)"


def _host_aggs() -> list[Column]:
    return [
        F.count(F.lit(1)).alias("total_requests"),
        F.count_if(F.expr(IS_2XX)).alias("requests_2xx"),
        F.sum("duration").alias("sum_duration_s"),
        F.sum(F.col("duration").cast("decimal(38,18)")).alias("sum_duration_dec"),
    ]


def _finish_host(df: DataFrame) -> DataFrame:
    return (
        df.withColumn("requests_non_2xx", F.col("total_requests") - F.col("requests_2xx"))
        .withColumn("avg_duration_s", F.col("sum_duration_s") / F.col("total_requests"))
        .select(
            "host", "total_requests", "requests_2xx", "requests_non_2xx",
            "sum_duration_s", "sum_duration_dec", "avg_duration_s",
        )
        .orderBy("host")  # lexicographic, print.go:10-24 (binary collation both sides)
    )


def aggregate_by_host(valid: DataFrame, salt_buckets: Optional[int] = None) -> DataFrame:
    """The reference summary table. ``salt_buckets=N`` switches to the
    explicit two-phase salted aggregation (identical results)."""
    if not salt_buckets:
        return _finish_host(valid.groupBy("host").agg(*_host_aggs()))
    partial = (
        valid.withColumn("_salt", F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets)))
        .groupBy("host", "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.count_if(F.expr(IS_2XX)).alias("_n2"),
            F.sum("duration").alias("_sd"),
            F.sum(F.col("duration").cast("decimal(38,18)")).alias("_sdd"),
        )
    )
    final = partial.groupBy("host").agg(
        F.sum("_n").alias("total_requests"),
        F.sum("_n2").alias("requests_2xx"),
        F.sum("_sd").alias("sum_duration_s"),
        F.sum("_sdd").alias("sum_duration_dec"),
    )
    return _finish_host(final)


def robust_stats_by_group(df: DataFrame, group_col: str = "event_type",
                          value_col: str = "value") -> DataFrame:
    """Per-group MEDIAN and MAD (median absolute deviation) via
    ``applyInPandas`` — the graft's grouped-map (UDAF-shaped) surface for
    HOLISTIC aggregates that hash aggregation cannot compute with partial
    combine (an exact median needs the whole group).

    The interpolation is written out explicitly (lower + (upper-lower)*frac,
    the quantile_cont rule) instead of calling np.median, so the Python
    arithmetic is operation-for-operation identical to the DuckDB oracle —
    np.median's (a+b)/2 midpoint is NOT always the same double as the
    interpolation formula.

    Scale shape: one hash shuffle on the group key (same as any groupBy),
    whole group materialized per task — use only for bounded-cardinality
    groups or pre-sampled data; the built-in ``percentile`` suffices when
    an aggregate-buffer implementation exists.
    """
    import pandas as pd

    def _qcont(sorted_vals, q: float) -> float:
        p = (len(sorted_vals) - 1) * q
        lo = int(p)
        frac = p - lo
        if frac == 0.0:
            return float(sorted_vals[lo])
        return float(sorted_vals[lo] + (sorted_vals[lo + 1] - sorted_vals[lo]) * frac)

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        # Nulls are ignored (matching quantile_cont). NaNs are ALSO dropped
        # here, which diverges from DuckDB's NaN-sorts-largest rule —
        # callers with NaN-bearing values must pre-filter them to keep the
        # oracle contract (Python's sort is undefined over NaN, so there is
        # no faithful cheap emulation).
        v = sorted(
            float(x) for x in pdf[value_col]
            if x is not None and x == x
        )
        if not v:
            return pd.DataFrame(
                [[pdf[group_col].iloc[0], 0, None, None]],
                columns=[group_col, "n", "median", "mad"],
            )
        med = _qcont(v, 0.5)
        dev = sorted(abs(x - med) for x in v)
        return pd.DataFrame(
            [[pdf[group_col].iloc[0], len(v), med, _qcont(dev, 0.5)]],
            columns=[group_col, "n", "median", "mad"],
        )

    group_type = df.schema[group_col].dataType.simpleString()
    schema = f"{group_col} {group_type}, n long, median double, mad double"
    return df.groupBy(group_col).applyInPandas(stats, schema)


def status_bucket() -> Column:
    """The status-bucket key (1xx..5xx analog: floor(status/100))."""
    return F.floor(F.col("status_code") / 100).alias("status_bucket")


def aggregate_by_status_bucket(valid: DataFrame) -> DataFrame:
    """hits per status bucket."""
    return (
        valid.groupBy(status_bucket())
        .agg(F.count(F.lit(1)).alias("hits"))
        .orderBy("status_bucket")
    )


#: day-time duration units ``F.window`` itself accepts (CalendarInterval;
#: month/year intervals are rejected by window() and here alike), in
#: microseconds.
_DURATION_US = {
    "week": 7 * 86_400 * 1_000_000,
    "day": 86_400 * 1_000_000,
    "hour": 3_600 * 1_000_000,
    "minute": 60 * 1_000_000,
    "second": 1_000_000,
    "millisecond": 1_000,
    "microsecond": 1,
}


def window_micros(duration: str) -> int:
    """Parse a tumbling-window width string ("1 hour", "90 seconds",
    "1 hour 30 minutes") to microseconds, with ``F.window``'s own
    constraints: day-time units only, total strictly positive."""
    total = 0
    toks = duration.strip().lower().split()
    if not toks or len(toks) % 2:
        raise ValueError(f"cannot parse window duration {duration!r}")
    for n, unit in zip(toks[::2], toks[1::2]):
        unit = unit.rstrip("s") if unit != "s" else unit
        if unit not in _DURATION_US:
            raise ValueError(
                f"unsupported window duration unit {unit!r} in {duration!r}"
            )
        total += int(n) * _DURATION_US[unit]
    if total <= 0:
        raise ValueError(f"window duration must be > 0, got {duration!r}")
    return total


def window_start(duration: str = "1 hour") -> Column:
    """The tumbling-window key on ``log_ts``: the epoch-aligned window
    start (see :func:`aggregate_by_window` for why floor division rather
    than ``F.window``)."""
    width = F.lit(window_micros(duration))
    us = F.unix_micros(F.col("log_ts"))
    return F.timestamp_micros(us - F.pmod(us, width)).alias("window_start")


def aggregate_by_window(valid: DataFrame, duration: str = "1 hour") -> DataFrame:
    """hits per (tumbling event-time window, host) on the record's log time.

    Batch mode — the window is a pure grouping key: no watermark needed, and
    late data is counted regardless of age, which IS the reference's
    semantics (it never reads the time field after validation — SURVEY.md
    §2.6). The streaming twin (streaming/stream.py) keeps ``F.window``: its
    watermark state eviction requires the real window expression.

    The window start is computed as epoch-aligned floor division
    (``ts - pmod(ts, width)`` in microseconds) rather than via ``F.window``
    — the exact arithmetic Catalyst's TimeWindowing rule emits for a
    tumbling window with startTime=0, so results are identical on every
    non-null timestamp (pmod keeps pre-epoch timestamps flooring
    correctly). One deliberate delta: a null log_ts groups under a null
    window — SQL GROUP BY semantics, what the DuckDB oracle computes —
    where F.window SILENTLY DROPS the row (TimeWindowing plans an
    isnotnull filter); the operator's domain (valid records) has no null
    ts either way. The practical difference is generated-code size:
    F.window's struct expansion references the time column several times, and with the
    parse tree inlined below the pushed match-class filter the whole-stage
    method hit 60,276 bytecode bytes (over HotSpot's 8,000-byte JIT cap —
    SCALE.md §1) and planned a duplicated ArrowEvalPython stage. This form
    measures 5,362 bytes (JIT-compiled) and one Arrow stage.
    """
    return (
        valid.groupBy(window_start(duration), F.col("host"))
        .agg(F.count(F.lit(1)).alias("hits"))
        .select("window_start", "host", "hits")
        .orderBy("window_start", "host")
    )


# -- mergeable state: the incremental form of the three tables above ----------
# Every table is algebraic: its rows are keys plus additive counters, so the
# table over history H ∪ B is the per-key sum of the table over H and the
# partial over B. The decimal sum is the exact additive state; the double
# sum and the average derive from it after the merge, so a folded table
# equals a recompute bit for bit whatever the fold order.

#: grouping set, Arrow state schema and ``grouping_id()`` of each table's
#: rows in :func:`partial_aggregates` (bit i set = i-th grouping column of
#: (host, status_bucket, window_start) not in the set)
AGG_STATE = {
    "agg_by_host": (("host",), pa.schema([
        ("host", pa.string()), ("total_requests", pa.int64()),
        ("requests_2xx", pa.int64()),
        ("sum_duration_dec", pa.decimal128(38, 18))]), 0b011),
    "agg_by_status_bucket": (("status_bucket",), pa.schema([
        ("status_bucket", pa.int64()), ("hits", pa.int64())]), 0b101),
    "agg_by_window": (("window_start", "host"), pa.schema([
        ("window_start", pa.timestamp("us", tz="UTC")),
        ("host", pa.string()), ("hits", pa.int64())]), 0b010),
}


def partial_aggregates(valid: DataFrame, duration: str = "1 hour") -> DataFrame:
    """The additive state of all three tables over ``valid`` in ONE
    grouping-sets pass (one scan, one shuffle), each row tagged with the
    ``gid`` of its table (:data:`AGG_STATE`)."""
    keyed = valid.select("host", status_bucket(), window_start(duration),
                         "status_code", "duration")
    return keyed.groupingSets(
        [list(keys) for keys, _, _ in AGG_STATE.values()],
        "host", "status_bucket", "window_start",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("total_requests"),
        F.count_if(F.expr(IS_2XX)).alias("requests_2xx"),
        F.sum(F.col("duration").cast("decimal(38,18)")).alias("sum_duration_dec"),
    )


def merge_state(name: str, prior: Optional[pa.Table],
                partial: Optional[pa.Table]) -> pa.Table:
    """Table ``name`` from its previous rows and the collected
    :func:`partial_aggregates` (either may be None): one row per key with
    the counters summed in Arrow (the decimal exactly, at
    decimal128(38,18)), sorted by key like the Spark views, and the
    derived host columns recomputed from the merged state."""
    keys, schema, gid = AGG_STATE[name]
    parts = [] if prior is None else [prior]
    if partial is not None:
        rows = partial.filter(pc.equal(partial["gid"], gid))
        # the other two tables count hits, not requests
        parts.append(rows.append_column("hits", rows["total_requests"]))
    vals = [c for c in schema.names if c not in keys]
    state = pa.concat_tables([p.select(schema.names).cast(schema) for p in parts]
                             or [schema.empty_table()])
    merged = (state.group_by(list(keys)).aggregate([(c, "sum") for c in vals])
              .select([*keys, *(f"{c}_sum" for c in vals)])
              .rename_columns(schema.names)
              .sort_by([(k, "ascending") for k in keys],
                       null_placement="at_start"))
    if name != "agg_by_host":
        return merged
    total = merged["total_requests"]
    sum_s = pc.cast(merged["sum_duration_dec"], pa.float64())
    return pa.table({
        "host": merged["host"], "total_requests": total,
        "requests_2xx": merged["requests_2xx"],
        "requests_non_2xx": pc.subtract(total, merged["requests_2xx"]),
        "sum_duration_s": sum_s,
        "sum_duration_dec": merged["sum_duration_dec"],
        "avg_duration_s": pc.divide(sum_s, pc.cast(total, pa.float64())),
    })
