"""Arrow-vectorized 64-bit SimHash (numpy inner loop).

Third member of the vectorized-twin family (see minhash_arrow.py /
fingerprint_arrow.py): the canonical simhash is a 64-lane aggregate over
per-token polynomial hashes, built from Catalyst higher-order functions
that are evaluated interpreted. This twin computes bit-identical values
vectorized:

- tokenization replicates ``split(trim(text), '[ \\t\\n\\f\\r]+')``
  exactly — space-only trim, Java split limit -1 (leading/trailing
  empties kept, the empty token hashing to 0);
- per-token polyhash: all tokens' code points are concatenated once;
  each code's weight is ``31^(pos_from_token_end) mod P`` gathered from
  a precomputed powers table, and ``np.add.reduceat`` sums per token —
  max term 0x10FFFF * (P-1) ~ 1.1e15, so int64 is safe for tokens up to
  ~8000 chars (longer tokens take the chunked scalar fold);
- lane j of token hash h is ``((h*A_j + B_j) % P) % 2`` (h*A_j ~ 1e18
  < 2^63); counts accumulate +-1 per token; bit j is set iff its count
  is positive; bit 63 wraps into the int64 sign exactly like the SQL's
  ``shiftleft(1L, 63)``.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from . import xsql as x
from .fingerprint_arrow import _polyhash

_WS_RE = re.compile(r"[ \t\n\f\r]+")
_A = np.array(x.SIMHASH_A, dtype=np.int64)
_B = np.array(x.SIMHASH_B, dtype=np.int64)
_MAX_FAST_TOKEN = 4096  # beyond this, per-token chunked fold (overflow guard)


def _token_hashes(tokens: list[str], powers: np.ndarray) -> np.ndarray:
    lengths = np.fromiter((len(t) for t in tokens), dtype=np.int64,
                          count=len(tokens))
    total = int(lengths.sum())
    if total == 0:
        return np.zeros(len(tokens), dtype=np.int64)
    if int(lengths.max()) > _MAX_FAST_TOKEN:
        return np.fromiter(
            (_polyhash(np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
                       .astype(np.int64), powers) if t else 0 for t in tokens),
            dtype=np.int64, count=len(tokens))
    codes = np.frombuffer("".join(tokens).encode("utf-32-le"),
                          dtype=np.uint32).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    idx_in_tok = np.arange(total, dtype=np.int64) - np.repeat(starts, lengths)
    exp = np.repeat(lengths - 1, lengths) - idx_in_tok
    terms = codes * powers[exp]
    # A TRAILING empty token's start == total, which reduceat rejects —
    # and clipping it to total-1 would be WRONG: it would also move the
    # PRECEDING segment's end back by one, dropping the last character
    # from the last real token's hash (trailing-separator texts like
    # "hello world\n" produce exactly this shape). So reduceat runs only
    # over in-range starts (the excluded tail tokens are empty by
    # construction) and every empty token's hash is forced to the
    # canonical 0 afterwards.
    valid = starts < total
    sums = np.zeros(len(tokens), dtype=np.int64)
    sums[valid] = np.add.reduceat(terms, starts[valid]) % x.P
    sums[lengths == 0] = 0
    return sums


def _simhash(t: str | None, powers: np.ndarray) -> int | None:
    if t is None:
        return None
    hs = _token_hashes(_WS_RE.split(t.strip(" ")), powers)
    lanes = ((hs[:, None] * _A[None, :] + _B[None, :]) % x.P) % 2
    counts = (2 * lanes - 1).sum(axis=0)
    val = int((np.uint64(1) << np.arange(64, dtype=np.uint64))[counts > 0]
              .sum(dtype=np.uint64))
    return val - (1 << 64) if val >= (1 << 63) else val


#: grow-only cache of 31^i % P — unlike fingerprint_arrow's fixed-size
#: table, simhash indexes up to the longest token, so the table is sized
#: on demand but the pure-Python build loop only runs on GROWTH, not once
#: per batch (identical batches reuse the worker-process cache)
_POW_CACHE = np.array([1], dtype=np.int64)


def _powers(n: int) -> np.ndarray:
    global _POW_CACHE
    if _POW_CACHE.shape[0] < n:
        old = _POW_CACHE.shape[0]
        grown = np.empty(max(n, 2 * old), dtype=np.int64)
        grown[:old] = _POW_CACHE
        for i in range(old, grown.shape[0]):
            grown[i] = grown[i - 1] * 31 % x.P
        _POW_CACHE = grown
    return _POW_CACHE


def _simhash_udf(texts: pd.Series) -> pd.Series:
    max_len = max((len(t) for t in texts if t is not None), default=1)
    powers = _powers(max(max_len, _MAX_FAST_TOKEN) + 1)
    return pd.Series([_simhash(t, powers) for t in texts], dtype=object)


def simhash(text_col: str) -> Column:
    """64-bit simhash column, bit-identical to the canonical
    xsql.simhash_expr over xsql.tokens token hashes."""
    # built per call, bound to the live SparkContext (see
    # parse_udf.extract_parse)
    return F.pandas_udf(_simhash_udf, LongType())(F.col(text_col))
