"""Hash expressions for dedup/sampling pipelines.

Two families:

* ``xxhash64`` — Spark's native 64-bit hash, evaluated in whole-stage
  codegen with no cryptographic work. It is the default ``hash_mode`` of
  most operators, but not of all: the ``winnow_*`` functions default to
  ``crc32poly`` and ``kmv_distinct`` to ``portable``. Neither mode is
  always faster: xxhash64 wins on codegen gram hashing
  (``shingle_hash_rows``, ``duplicate_span_intervals``,
  ``deterministic_sample``), while the portable Arrow lanes of
  ``minhash_dedup_pairs`` and ``simhash_dedup_pairs`` beat their
  xxhash64 lanes.
* ``portable`` — the top 60 bits of ``md5``, decoded from the hex digest.
  ~2-3× more hashing work, but *engine-independent*: DuckDB reproduces it
  exactly as ``('0x' || substring(md5(x), 1, 15))::BIGINT``, which lets the
  correctness oracles replay MinHash/SimHash/sampling pipelines value-for-
  value in SQL. 60 bits (15 hex chars) keeps the value inside a signed
  64-bit integer on every engine — no unsigned-overflow edge cases.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column, functions as F

#: Number of md5 hex chars used by the portable hash (60 bits < 2^63).
PORTABLE_HEX_CHARS = 15

HashMode = str  # "xxhash64" | "portable"


def _as_col(c: Union[str, Column]) -> Column:
    return F.col(c) if isinstance(c, str) else c


def portable_hash64(col: Union[str, Column]) -> Column:
    """Engine-independent 60-bit hash of a string column (non-negative)."""
    return F.conv(
        F.substring(F.md5(_as_col(col)), 1, PORTABLE_HEX_CHARS), 16, 10
    ).cast("long")


def hash64(col: Union[str, Column], mode: HashMode = "xxhash64") -> Column:
    """64-bit hash under the chosen mode (see module docstring)."""
    if mode == "xxhash64":
        return F.xxhash64(_as_col(col))
    if mode == "portable":
        return portable_hash64(col)
    raise ValueError(f"unknown hash mode {mode!r}; use 'xxhash64' or 'portable'")


def portable_hash64_sql(expr: str) -> str:
    """DuckDB SQL fragment computing :func:`portable_hash64` of ``expr``."""
    return f"('0x' || substring(md5({expr}), 1, {PORTABLE_HEX_CHARS}))::BIGINT"


def portable_hash64_np(strings):
    """numpy int64 array of :func:`portable_hash64` over a sequence of
    strings — the Arrow-kernel twin of the Column/SQL spellings
    (``md5(utf8)[:8]`` big-endian ``>> 4`` == first 15 hex chars as
    int). The round-15 Arrow lanes (simhash signatures, MinHash
    features) call this on each batch's DISTINCT tokens/grams; all
    three spellings must stay bit-identical forever — change one,
    change all, and the oracle parity tests will catch a miss."""
    import hashlib

    import numpy as np

    out = np.empty(len(strings), dtype=np.int64)
    for i, u in enumerate(strings):
        out[i] = (
            int.from_bytes(hashlib.md5(u.encode("utf-8")).digest()[:8], "big")
            >> 4
        )
    return out
