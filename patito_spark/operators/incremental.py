"""Incremental corpus updates: merge a new crawl snapshot into history.

Production corpora are not built once — each crawl snapshot must be
folded into the existing corpus without re-deduplicating 100 TB of
history. ``update_corpus`` runs the standard incremental admission
chain over the INCOMING batch only:

1. **refetch drop** — incoming docs whose canonical URL already exists
   in history (``canonicalize_url`` both sides, hash anti-join on the
   canonical key; history is read but never rewritten);
2. **exact-content drop** — incoming docs whose content fingerprint
   (md5 of text) already exists in history;
3. **near-dup drop** — incoming docs that near-duplicate a HISTORY
   document (:func:`..dedup.minhash_dedup_against` — the corpus side
   is the incoming batch, so only the batch is shuffled; with
   ``broadcast_history=False`` the history side shuffles once on the
   bucket keys, never self-joins);
4. **within-batch dedup** — the surviving batch is self-deduplicated
   (:func:`..dedup.dedup_corpus` MinHash pipeline) so two refetches
   arriving in the same snapshot also collapse.

Every stage is an already-tested operator; this module contributes the
composition, the bookkeeping (per-stage drop counts for a data card),
and the scale posture: history appears only as the build side of
anti-joins and the reference side of the cross-corpus LSH — it is
never exploded, never self-joined, never rewritten.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

__all__ = ["update_corpus"]


def update_corpus(
    history: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: Optional[str] = None,
    neardup_threshold: Optional[float] = 0.7,
    within_batch_threshold: Optional[float] = 0.7,
    broadcast_history: bool = False,
) -> dict:
    """Admit the ``incoming`` snapshot against ``history``.

    Returns a dict:

    * ``"admitted"`` — the incoming docs that survive all stages
      (lazy except the within-batch dedup's component labels);
    * ``"stages"`` — ordered list of ``(stage_name, kwargs)`` actually
      run, for the data card (counts are NOT materialized here — call
      ``.count()`` on ``admitted`` / the inputs when the card is built,
      so this function stays plan-only).

    ``url_col=None`` skips the refetch stage (corpora without URLs);
    ``neardup_threshold=None`` skips the against-history LSH;
    ``within_batch_threshold=None`` skips the batch self-dedup.
    ``broadcast_history`` should stay False unless the history table is
    genuinely small — the default keeps history on the shuffle side of
    the cross-corpus join, which is the only plan that survives a
    100 TB history.
    """
    from patito_spark.operators.dedup import dedup_corpus, minhash_dedup_against

    stages: list[tuple[str, dict]] = []
    batch = incoming

    if url_col is not None:
        from patito_spark.operators.urls import canonicalize_url

        hist_keys = history.select(
            canonicalize_url(F.col(url_col)).alias("__canon")
        ).distinct()
        batch = (
            batch.withColumn("__canon", canonicalize_url(F.col(url_col)))
            .join(hist_keys, on="__canon", how="left_anti")
            .drop("__canon")
        )
        stages.append(("refetch_drop", {"url_col": url_col}))

    hist_fp = history.select(
        F.md5(F.col(text_col)).alias("__fp")
    ).distinct()
    batch = (
        batch.withColumn("__fp", F.md5(F.col(text_col)))
        .join(hist_fp, on="__fp", how="left_anti")
        .drop("__fp")
    )
    stages.append(("exact_content_drop", {}))

    if neardup_threshold is not None:
        near = minhash_dedup_against(
            batch,
            history,
            id_col=id_col,
            text_col=text_col,
            threshold=neardup_threshold,
            broadcast_reference=broadcast_history,
        ).select(id_col)
        batch = batch.join(near, on=id_col, how="left_anti")
        stages.append(
            ("neardup_vs_history", {"threshold": neardup_threshold})
        )

    if within_batch_threshold is not None:
        batch = dedup_corpus(
            batch,
            id_col=id_col,
            text_col=text_col,
            threshold=within_batch_threshold,
        )
        stages.append(
            ("within_batch_dedup", {"threshold": within_batch_threshold})
        )

    return {"admitted": batch, "stages": stages}
