"""Arrow-vectorized document fingerprint + token count.

Same motivation as functions/minhash_arrow.py: the canonical polynomial
rolling hash (``fold (acc*31+c) % P`` over all code points —
xsql.polyhash) is an ``aggregate`` higher-order function, which Spark
evaluates interpreted per element. This twin computes bit-identical
values vectorized in numpy.

Exactness of the numpy rendition:

- the stepwise fold equals ``sum(code[i] * 31^(n-1-i)) mod P``; powers
  of 31 mod P are built once per batch (iteratively, O(max_len));
- the dot product is reduced in 4096-code chunks with a mod between
  chunks: max chunk term is 0x10FFFF * (P-1) ~ 1.1e15, times 4096
  ~ 4.5e18 < 2^63, so int64 never overflows;
- ``acc_next = (acc * 31^chunk_len + chunk_hash) mod P`` folds chunks
  left-to-right, preserving the exact stepwise value.

Token-count parity (the subtle part — pinned by
tests/test_training_ops.py::test_fingerprint_arrow_edge_vectors):

- Spark ``trim`` strips SPACES only (not tabs/newlines) — Python
  ``str.strip(' ')``;
- Spark ``split(str, regex)`` is Java split with limit -1: leading and
  TRAILING empty strings are kept — Python ``re.split`` semantics
  exactly (splitting '' yields [''], size 1, same as Spark);
- the whitespace class is the explicit ``[ \\t\\n\\f\\r]`` (Java's \\s
  includes \\x0B, RE2's does not — see xsql.tokens).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from . import xsql as x

_CHUNK = 4096
_WS_RE = re.compile(r"[ \t\n\f\r]+")

#: 31^i % P for i < _CHUNK — module-level because _polyhash only ever
#: indexes the first _CHUNK entries (the fold is chunked); rebuilding a
#: max_len-sized table per batch was an O(longest text) pure-Python loop
#: whose tail entries were never read
_POWERS = np.empty(_CHUNK, dtype=np.int64)
_POWERS[0] = 1
for _i in range(1, _CHUNK):
    _POWERS[_i] = _POWERS[_i - 1] * 31 % x.P


def _polyhash(codes: np.ndarray, powers: np.ndarray) -> int:
    """Stepwise (acc*31+c) % P fold, computed chunk-vectorized."""
    n = codes.shape[0]
    acc = 0
    for lo in range(0, n, _CHUNK):
        chunk = codes[lo:lo + _CHUNK]
        m = chunk.shape[0]
        chunk_hash = int((chunk * powers[m - 1::-1]).sum() % x.P)
        acc = (acc * pow(31, m, x.P) + chunk_hash) % x.P
    return acc


_FP_TOK_SCHEMA = StructType([
    StructField("fingerprint", LongType()),
    StructField("n_tokens", IntegerType()),
])


def _fp_tok_udf(texts: pd.Series) -> pd.DataFrame:
    powers = _POWERS
    fps: list[int | None] = []
    toks: list[int | None] = []
    for t in texts:
        if t is None:
            # canonical: CASE WHEN length(NULL) > 0 is not-true -> ELSE 0,
            # while size(split(NULL, ...)) stays NULL
            fps.append(0)
            toks.append(None)
            continue
        if len(t) == 0:
            fps.append(0)  # canonical: empty string hashes to 0
        else:
            codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32) \
                .astype(np.int64)
            fps.append(_polyhash(codes, powers))
        toks.append(len(_WS_RE.split(t.strip(" "))))
    return pd.DataFrame({"fingerprint": fps, "n_tokens": toks})


def fingerprint_tokens(text_col: str) -> Column:
    """struct(fingerprint, n_tokens) — bit-identical to the canonical
    xsql.polyhash / size(xsql.tokens) expressions."""
    # built per call, bound to the live SparkContext (see
    # parse_udf.extract_parse)
    return F.pandas_udf(_fp_tok_udf, _FP_TOK_SCHEMA)(F.col(text_col))
