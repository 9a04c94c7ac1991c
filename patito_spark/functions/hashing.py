"""Hash expressions for dedup/sampling pipelines.

Two families, and each operator uses the one its answer needs:

* ``portable`` — the top 60 bits of ``md5``, decoded from the hex
  digest. *Engine-independent*: DuckDB reproduces it exactly as
  ``('0x' || substring(md5(x), 1, 15))::BIGINT`` and Python as
  :func:`portable_hash64_np`. 60 bits (15 hex chars) keeps the value
  inside a signed 64-bit integer on every engine. Used, with no option,
  where the hash DEFINES the answer and an oracle must replay it: the
  MinHash family (``minhash_dedup_pairs``, ``minhash_lsh_candidates``,
  ``dedup_corpus``, ``minhash_dedup_against``, ``update_corpus``,
  ``streaming_dedup_lsh``) and SimHash (``simhash_signatures``,
  ``simhash_dedup_pairs``), whose signatures, buckets and pairs are
  functions of the hash. Their Arrow builds hash each distinct gram or
  token once per batch, which beat the codegen ``xxhash64`` builds they
  replaced: at sf1 (``tools/gen_sf_scale.py``, 4 cores, 10 alternating
  pairs, median s) ``minhash_dedup_pairs`` 7.91 vs 11.22,
  ``simhash_dedup_pairs`` 2.06 vs 2.99 and ``minhash_dedup_against``
  5.12 vs 8.91, the new build winning every pair (docs/perf.md, "One
  hash per dedup operator").
* ``xxhash64`` — Spark's native 64-bit hash, evaluated in whole-stage
  codegen with no cryptographic work. Used, with no option, where the
  answer does not depend on the hash, up to collisions: the gram builds
  (``gram_hash_rows``, ``shingle_hash_rows``), the spans
  (``duplicate_span_intervals``, ``dedup_spans``, ``scrub_spans``),
  ``ngram_contamination`` and ``cross_doc_repetition`` (a Bloom-filter
  contamination scan's false positives are the exception: they depend
  on the hash, as collisions do). The ``dedup_spans`` and
  ``contamination_check`` oracles hash portably and still match
  exactly; the sf1 races against the portable spelling returned equal
  results, and ``xxhash64`` was faster on every path that hashes:
  ``dedup_spans`` 5.18 vs 6.20 s, the contamination join 1.85 vs 4.19 s
  (docs/perf.md).

Where the hash picks WHICH rows an answer holds — sampling, mixing,
selection, ``kmv_distinct`` and winnowing — the caller may want either,
so those functions keep a ``hash_mode`` option (:func:`hash64`).
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
    int), and the one Python spelling: the Arrow signature builds
    (SimHash, MinHash features) call it on each batch's DISTINCT
    tokens/grams, the streaming MinHash and portable winnowing on each
    document's grams. All three spellings must stay bit-identical
    forever — change one, change all, and the oracle parity tests will
    catch a miss."""
    import hashlib

    import numpy as np

    out = np.empty(len(strings), dtype=np.int64)
    for i, u in enumerate(strings):
        out[i] = (
            int.from_bytes(hashlib.md5(u.encode("utf-8")).digest()[:8], "big")
            >> 4
        )
    return out
