"""Tracked persistence for operator-internal intermediates.

Several operators materialize a shared subplan (Catalyst does not share
common subplans across the branches of a self-join or union, so without a
``persist()`` the expensive upstream — shingling, signatures, feature
arrays — runs once *per branch*). Those operators return **lazy**
DataFrames, so they cannot unpersist before the caller's action; an
unconditional leak of cached blocks into a long-lived session is the
alternative failure mode.

The contract here:

* operators persist through :func:`tracked_persist`, which registers the
  handle in a session-wide list;
* callers in long-lived sessions call :func:`release_caches` once they
  have consumed the result (one call frees everything any operator
  persisted since the last release);
* operators that *internally* materialize (``dedup_corpus`` runs the
  connected-components loop eagerly) wrap their pipeline in
  :class:`cache_scope`, which releases exactly the intermediates created
  inside the scope — the caller sees no residue at all.

``release_caches``/``cache_scope`` only unpersist; the DataFrames remain
valid (they just recompute on next use).
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_TRACKED: List[DataFrame] = []


def _plan_already_cached(df: DataFrame) -> bool:
    """True when ``df``'s analyzed plan already has a cache entry.

    Spark's cache manager is keyed by plan *structure*, so two independent
    calls
    building the same pipeline share one cache entry — and an unpersist
    through either handle drops it for both. Checking before persisting
    lets tracked releases skip entries this operator did not create
    (otherwise e.g. ``dedup_corpus``'s internal cache_scope would evict a
    sibling ``minhash_dedup_pairs``'s still-live intermediates).
    """
    try:
        cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
        return bool(cm.lookupCachedData(df._jdf).isDefined())
    except Exception:  # non-classic sessions: fall back to always-track
        return False


def tracked_persist(
    df: DataFrame, level: Optional[StorageLevel] = None
) -> DataFrame:
    """``df.persist()`` + register the handle for later bulk release.

    If the plan is already cached (by a sibling operator or the caller),
    the persist is a no-op share and the handle is NOT registered — a
    later :func:`release_caches`/:class:`cache_scope` exit must only drop
    caches it created.
    """
    if _plan_already_cached(df):
        return df
    df = df.persist(level) if level is not None else df.persist()
    _TRACKED.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked intermediate; returns how many were freed.

    Non-blocking: Spark drops the blocks asynchronously, the DataFrames
    stay usable (uncached). Also forgets the file schemas inferred by
    :func:`patito_spark.sources.readers.read_inferred` (not counted).
    """
    from patito_spark.sources.readers import _SCHEMAS

    _SCHEMAS.clear()
    n = 0
    while _TRACKED:
        _TRACKED.pop().unpersist()
        n += 1
    return n


class cache_scope:
    """Release exactly the intermediates persisted inside the ``with`` body.

    For operators that materialize internally: build the lazy pipeline
    and run the consuming action inside the scope; on exit every
    ``tracked_persist`` made since entry is unpersisted, while caches that
    existed before the scope are left alone.

    Set ``scope.keep = True`` before exit to hand the new caches to the
    session registry instead (they then belong to ``release_caches``).
    """

    def __init__(self) -> None:
        self.keep = False
        self._mark = 0

    def __enter__(self) -> "cache_scope":
        self._mark = len(_TRACKED)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if self.keep:
            return
        while len(_TRACKED) > self._mark:
            _TRACKED.pop().unpersist()
