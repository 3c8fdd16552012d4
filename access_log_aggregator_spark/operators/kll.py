"""KLL rank/quantile sketch — the unknown-range member of the sketch family.

The fixed-bucket histogram (operators/sketch.py) needs a KNOWN [lo, hi);
real latency/size columns don't come with one. KLL (Karnin-Lang-Liberty,
FOCS 2016 — the sketch behind Apache DataSketches' quantiles) bounds
RANK error instead of value error and needs no range: a sketch holds a
few hundred weighted samples in geometrically-capped levels (level i
items weigh 2^i), compaction keeps every other item of a sorted buffer,
and two sketches merge by level-wise concatenation + re-compaction.

Distribution shape (the part that matters at 100 TB):

- **build** is map-side: ``mapInPandas`` folds each partition's Arrow
  batches into one small sketch per (partition, group) — the full value
  column never leaves its partition;
- the only **shuffle** carries one sketch row per (partition, group):
  ``n + min + max + levels`` (<= ~3k doubles at k=200), not data;
- **merge + query** is one ``applyInPandas`` over those few rows per
  group.

Determinism: compaction coins are DERANDOMIZED (an alternating per-level
flip, the standard production derandomization — Apache DataSketches
ships the same option), so the same input in the same partitioning gives
bit-identical sketches. Across different partitionings the retained
samples differ but the rank-error bound holds either way; the tests pin
both (exact replay determinism + an empirical rank-error ceiling vs
exact quantiles, and the merge algebra). There is NO DuckDB hash oracle
for this operator by design — a rank sketch's output is partitioning-
dependent within its error bound, which is exactly the property the
registry's hash gate cannot express; the bounded-error pytest twin is
the honest check (r4 verdict #6).

NULLs are dropped (SQL aggregate semantics); NaN is folded into +inf
(Spark orders NaN above every double, and +inf — unlike NaN — survives
the pandas->Arrow shuffle transport; see KLL.update_batch).
"""

from __future__ import annotations

import math
from typing import Iterator, Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

#: top-level buffer capacity; rank error is ~O(1/K) (empirically ~<1%
#: at K=200 on 10k-100k inputs — pinned in tests/test_kll.py)
DEFAULT_K = 200
#: geometric capacity decay for lower levels (the paper's c)
_C = 2.0 / 3.0


class KLL:
    """One sketch: plain Python/numpy, importable on executors."""

    __slots__ = ("k", "n", "minv", "maxv", "levels", "_flips")

    def __init__(self, k: int = DEFAULT_K):
        if k < 8:
            raise ValueError(f"need k >= 8, got {k}")
        self.k = k
        self.n = 0
        self.minv = math.inf
        self.maxv = -math.inf
        self.levels: list[np.ndarray] = [np.empty(0)]
        self._flips = 0

    def _cap(self, i: int) -> int:
        h = len(self.levels)
        return max(2, int(math.ceil(self.k * _C ** (h - 1 - i))))

    def update_batch(self, values: np.ndarray) -> None:
        """Fold a batch of doubles (caller drops NULLs). NaN is folded
        into +inf — Spark orders NaN above every double, so "greater
        than every finite value" is the faithful rank, and unlike NaN,
        inf SURVIVES the pandas->Arrow transport (PySpark's serializer
        nullifies NaN in float columns — a NaN-carrying sketch row would
        silently corrupt on the shuffle). Amortized: the whole batch
        lands in level 0, then one compaction cascade — fewer, larger
        compactions than item-at-a-time, with the same per-compaction
        error accounting."""
        v = np.asarray(values, dtype=np.float64)
        if v.size == 0:
            return
        v = np.where(np.isnan(v), np.inf, v)
        self.n += int(v.size)
        self.minv = min(self.minv, float(v.min()))
        self.maxv = max(self.maxv, float(v.max()))
        self.levels[0] = np.concatenate([self.levels[0], v])
        self._compress()

    def _compress(self) -> None:
        i = 0
        while i < len(self.levels):
            if self.levels[i].size <= self._cap(i):
                i += 1
                continue
            buf = np.sort(self.levels[i])
            off = self._flips & 1  # derandomized coin: alternate
            self._flips += 1
            survivors = buf[off::2]
            self.levels[i] = np.empty(0)
            grew = i + 1 == len(self.levels)
            if grew:
                self.levels.append(np.empty(0))
            self.levels[i + 1] = np.concatenate(
                [self.levels[i + 1], survivors])
            # capacities shrank for lower levels only when a level was
            # added: restart the scan then, so every level is re-checked
            # under the new heights; otherwise levels 0..i already fit
            i = 0 if grew else i + 1

    def merge(self, other: "KLL") -> "KLL":
        if other.k != self.k:
            raise ValueError(f"cannot merge sketches with k={self.k} "
                             f"and k={other.k}")
        self.n += other.n
        self.minv = min(self.minv, other.minv)
        self.maxv = max(self.maxv, other.maxv)
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0))
        for i, buf in enumerate(other.levels):
            if buf.size:
                self.levels[i] = np.concatenate([self.levels[i], buf])
        self._flips += other._flips  # keep replay-deterministic
        self._compress()
        return self

    def quantile(self, q: float) -> float:
        """Smallest retained value whose cumulative weight reaches
        max(1, q*n) — a rank select, clamped into the EXACT [min, max]."""
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile must be in [0, 1], got {q}")
        if self.n == 0:
            return math.nan
        if q == 0.0:
            return self.minv
        if q == 1.0:
            return self.maxv
        vals = np.concatenate(self.levels)
        wts = np.concatenate([
            np.full(buf.size, 1 << i, dtype=np.int64)
            for i, buf in enumerate(self.levels)
        ])
        order = np.argsort(vals)
        vals, wts = vals[order], wts[order]
        target = max(1.0, q * self.n)
        idx = int(np.searchsorted(np.cumsum(wts), target, side="left"))
        idx = min(idx, vals.size - 1)
        return min(max(float(vals[idx]), self.minv), self.maxv)

    def retained(self) -> int:
        return int(sum(buf.size for buf in self.levels))

    # -- DataFrame row transport ------------------------------------------
    def to_row(self) -> tuple:
        # k rides the row: a stored sketch table must rebuild under ITS
        # capacity schedule — re-compacting k=50 levels inside a default
        # KLL(200) silently voids the built sketch's error bound (and
        # the in-memory API's k-mismatch ValueError could never fire
        # across the DataFrame boundary without it) — found in review
        return (int(self.k), int(self.n),
                float(self.minv) if self.n else None,
                float(self.maxv) if self.n else None,
                [buf.tolist() for buf in self.levels])

    @classmethod
    def from_row(cls, k, n, minv, maxv, levels) -> "KLL":
        s = cls(int(k))
        s.n = int(n)
        s.minv = math.inf if minv is None else float(minv)
        s.maxv = -math.inf if maxv is None else float(maxv)
        s.levels = [np.asarray(b, dtype=np.float64) for b in levels] \
            or [np.empty(0)]
        return s


_SKETCH_FIELDS = [
    StructField("kll_k", LongType()),
    StructField("kll_n", LongType()),
    StructField("kll_min", DoubleType()),
    StructField("kll_max", DoubleType()),
    StructField("kll_levels", ArrayType(ArrayType(DoubleType()))),
]
_SKETCH_COLS = [f.name for f in _SKETCH_FIELDS]


def _group_fields(df: DataFrame, group_cols: list[str]) -> list[StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    missing = [c for c in group_cols if c not in by_name]
    if missing:
        raise ValueError(f"group column(s) {missing} not in {list(by_name)}")
    return [by_name[c] for c in group_cols]


def _merge_group(pdf) -> KLL:
    """Fold one group's sketch rows into one sketch, in a TOTAL content
    order. Sorting by kll_n alone is not enough: evenly-split partitions
    produce all-tied n, a stable sort then preserves shuffle-arrival
    order, and KLL merge is order-dependent — two replays of identical
    input would yield different sketch bits (found in review, verified
    by merging three equal-n sketches in two orders). The key covers the
    full content (n, min, max, the level buffers), so any two rows that
    compare equal are bit-identical sketches, for which merge order
    cannot matter."""
    def key(r):
        return (r.kll_n, r.kll_min, r.kll_max,
                tuple(tuple(b) for b in r.kll_levels))

    rows = sorted(pdf.itertuples(index=False), key=key)
    ks = {int(r.kll_k) for r in rows}
    if len(ks) > 1:
        raise ValueError(
            f"cannot merge sketch rows with different k: {sorted(ks)}")
    merged: Optional[KLL] = None
    for r in rows:
        s = KLL.from_row(r.kll_k, r.kll_n, r.kll_min, r.kll_max,
                         r.kll_levels)
        merged = s if merged is None else merged.merge(s)
    return merged


def kll_sketch_table(df: DataFrame, value_col: str,
                     group_cols: Optional[list[str]] = None,
                     k: int = DEFAULT_K) -> DataFrame:
    """One merged KLL sketch row per group: (group..., kll_n, kll_min,
    kll_max, kll_levels). This IS the mergeable state — union two sketch
    tables and :func:`kll_merge` them, exactly like the HLL register /
    CMS counter tables."""
    group_cols = group_cols or []
    gfields = _group_fields(df, group_cols)
    partial_schema = StructType(gfields + _SKETCH_FIELDS)
    narrow = df.where(F.expr(value_col).isNotNull()) \
        .select(*group_cols, F.expr(value_col).cast("double").alias("_v"))

    def build(batches: Iterator) -> Iterator:
        import pandas as pd

        sketches: dict[tuple, KLL] = {}
        for pdf in batches:
            if len(group_cols):
                for key, sub in pdf.groupby(group_cols, sort=False,
                                            dropna=False):
                    key = key if isinstance(key, tuple) else (key,)
                    sketches.setdefault(key, KLL(k)) \
                        .update_batch(sub["_v"].to_numpy())
            else:
                sketches.setdefault((), KLL(k)) \
                    .update_batch(pdf["_v"].to_numpy())
        rows = [(*key, *s.to_row()) for key, s in sketches.items()]
        yield pd.DataFrame(rows, columns=[*group_cols, *_SKETCH_COLS])

    partial = narrow.mapInPandas(build, partial_schema)
    return kll_merge(partial, group_cols)


def kll_merge(sketch_df: DataFrame,
              group_cols: Optional[list[str]] = None) -> DataFrame:
    """Merge a table of sketch rows (one or many per group) into one row
    per group — cell-for-cell the same algebra the build path uses, so a
    raw union of per-shard sketch tables is as valid an input as a
    merged one. Each row carries its own k (mixed-k unions raise)."""
    group_cols = group_cols or []
    gfields = _group_fields(sketch_df, group_cols)
    out_schema = StructType(gfields + _SKETCH_FIELDS)

    def merge(pdf):
        import pandas as pd

        merged = _merge_group(pdf)
        key = [pdf.iloc[0][c] for c in group_cols]
        return pd.DataFrame([(*key, *merged.to_row())],
                            columns=[*group_cols, *_SKETCH_COLS])

    if group_cols:
        return sketch_df.groupBy(*group_cols).applyInPandas(merge, out_schema)
    return sketch_df.groupBy().applyInPandas(merge, out_schema)


def kll_quantiles(sketch_df: DataFrame, qs: list[float],
                  group_cols: Optional[list[str]] = None) -> DataFrame:
    """Quantile estimates from a sketch table: (group..., q,
    quantile_est), one row per group per probe. Accepts merged OR raw
    unioned sketch rows (re-merged first, like histogram_quantiles)."""
    if not qs:
        raise ValueError("need at least one quantile in qs")
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantiles must be in [0, 1], got {q}")
    group_cols = group_cols or []
    gfields = _group_fields(sketch_df, group_cols)
    out_schema = StructType(gfields + [StructField("q", DoubleType()),
                                       StructField("quantile_est",
                                                   DoubleType())])
    probes = [float(q) for q in qs]

    def query(pdf):
        import pandas as pd

        merged = _merge_group(pdf)
        key = [pdf.iloc[0][c] for c in group_cols]
        return pd.DataFrame(
            [(*key, q, merged.quantile(q)) for q in probes],
            columns=[*group_cols, "q", "quantile_est"])

    grouped = (sketch_df.groupBy(*group_cols) if group_cols
               else sketch_df.groupBy())
    return grouped.applyInPandas(query, out_schema) \
        .orderBy(*group_cols, "q")
