"""Vectorized payload extraction + wide-grammar fallback — the ONLY Python
on the hot path.

An Arrow-batched iterator pandas UDF that applies the canonical
LINE_PATTERN to the ``text`` column with pyarrow's RE2 kernels, and decodes
the rare lines the fast-path field regex does not cover with exact Go
``json.Unmarshal`` semantics. Everything downstream (fast-path field parse,
validation, routing, aggregation) is pure Catalyst.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import extract as X

#: RE2 form for pyarrow.compute.extract_regex: named group + inline (?m).
#: On the pattern subset used (ASCII literals, '.', anchors) RE2 and Python
#: re produce identical leftmost matches over valid UTF-8 — asserted per-url
#: by the byte-parity suite.
_EXTRACT_RE2 = "(?m)(?P<line>" + X.LINE_PATTERN + ")"


def _extract_arrow(s: pd.Series) -> pd.Series:
    """C++-vectorized first-match extraction (RE2 via pyarrow.compute).

    GIL-free and ~10x faster than pandas .str.extract — this is what keeps
    the Python stage from capping pipeline scaling at high core counts.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.Array.from_pandas(s, type=pa.string())
    line = pc.struct_field(pc.extract_regex(arr, _EXTRACT_RE2), "line")
    return line.to_pandas()


#: Output schema of the wide-grammar fallback parse (Go zero values for
#: missing/null fields; json_ok=False exactly where json.Unmarshal errors).
_FALLBACK_FIELDS = [
    StructField("time_str", StringType()),
    StructField("host", StringType()),
    StructField("status_code", LongType()),
    StructField("duration", DoubleType()),
    StructField("json_ok", BooleanType()),
]

#: Combined extract + fallback output: the extracted line plus the fallback
#: fields (null unless the line misses the fast-path regex).
_EXTRACT_PARSE_SCHEMA = StructType(
    [StructField("line", StringType())] + _FALLBACK_FIELDS
)

#: RE2 full-match form of the fast-path field pattern (anchors included in
#: the pattern itself) for the vectorized "does the fast path cover this
#: row" check — rows it matches never pay per-row Python.
_FIELD_RE2 = X.FIELD_PATTERN


def _fallback_columns(lines: pd.Series, need_fb) -> dict:
    """Sparse fallback evaluation: 5 all-None object columns, filled only at
    the (rare) positions where the fast-path regex missed — the common
    all-fast batch allocates nothing per row."""
    import numpy as np

    n = len(lines)
    cols = {c: [None] * n for c in
            ("time_str", "host", "status_code", "duration", "json_ok")}
    for i in np.flatnonzero(need_fb.to_numpy()):
        f = X.go_unmarshal_fields(lines.iat[i])
        if f is None:
            cols["json_ok"][i] = False
        else:
            # f[4] (the pre-parsed ts) is oracle-side sugar; the Spark
            # plan re-derives the timestamp in Catalyst (_log_ts)
            (cols["time_str"][i], cols["host"][i],
             cols["status_code"][i], cols["duration"][i]) = f[:4]
            cols["json_ok"][i] = True
    # object dtype everywhere: pandas would otherwise infer float64 for a
    # None+int status column and silently mangle int64-edge values
    return {c: pd.Series(v, dtype="object") for c, v in cols.items()}


def _fast_mask(lines: pd.Series) -> pd.Series:
    """True where the Catalyst fast path covers the line: RE2 full match of
    the field pattern, and each primary key exactly once (a re-specified
    primary key in the extras tail must take the last-wins fallback)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.Array.from_pandas(lines, type=pa.string())
    m = pc.match_substring_regex(arr, _FIELD_RE2)
    uniq = pc.equal(
        pc.count_substring_regex(arr, X.PRIMARY_KEY_PATTERN),
        X.PRIMARY_KEY_COUNT,
    )
    return pc.fill_null(pc.and_(m, uniq), False).to_pandas()


def extract_parse_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """ONE Arrow stage for the whole Python side of the parse: payload
    extraction (vectorized RE2) + the wide-grammar json fallback for the
    rare rows the fast-path regex does not cover.

    The fast-path check itself is vectorized (RE2 full match over the
    extracted lines), so per-row Python — exact Go ``json.Unmarshal``
    semantics via the shared ``go_unmarshal_fields`` primitive — runs ONLY
    on the remainder: reordered keys, whitespace, escapes, malformed JSON.
    Folding the fallback into the extraction UDF keeps the plan at a single
    ArrowEvalPython node (a separate fallback UDF would add a second
    full-column Arrow round trip to the hot path).
    """
    for s in batches:
        lines = _extract_arrow(s)
        need_fb = lines.notna() & ~_fast_mask(lines)
        out = {"line": pd.Series(lines, dtype="object")}
        out.update(_fallback_columns(lines, need_fb))
        yield pd.DataFrame(out)


def extract_parse(text: Column) -> Column:
    """``extract_parse_udf`` applied to ``text``: a struct of the extracted
    line and the fallback fields.

    The pandas UDF is built per call, not once at import: a UDF object
    caches its Java function on first use, and that function reports task
    accumulators to the SparkContext that was live then. A module-level UDF
    used again after its session stopped and a new one started would send
    every task's update to a dead accumulator server ("Failed to update
    accumulator" errors on each task)."""
    return pandas_udf(extract_parse_udf, _EXTRACT_PARSE_SCHEMA)(text)
