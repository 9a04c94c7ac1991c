"""Streaming near-duplicate detection (MinHash + banded LSH over a stream).

The ingestion-time counterpart of
:func:`patito_spark.operators.dedup.minhash_dedup_pairs`: documents
arrive as a stream, and each arrival is flagged if it collides with ANY
previously-seen document in at least one LSH band bucket. The reference
engine (patito) has no streaming surface at all; this fills the gap a
training-data pipeline actually has — deduplicating against all history
WHILE ingesting, without re-scanning the corpus per batch.

Two stages, both scale-shaped:

1. **Stateless signature stage** (``mapInPandas``, Arrow-batched): each
   document's one-permutation-hashing banded bucket keys are computed
   in-batch from the *portable* 60-bit md5 hash
   (:func:`patito_spark.functions.hashing.portable_hash64_np`), the hash
   that defines the batch MinHash signatures too, so batch and stream
   agree on every bucket and the equivalence is testable value-for-value.
   Map-only: no shuffle, no state.
2. **Stateful flag stage** (``applyInPandasWithState`` on
   ``(band, bucket)``): state holds ONE representative id per occupied
   bucket — O(occupied buckets) memory, independent of stream length.
   Arrivals that find their bucket occupied emit
   ``(id, dup_of, band, bucket)``; the first arrival claims the bucket
   silently. Within a micro-batch, rows are processed in ascending id
   order so the representative choice is deterministic; across batches
   it is first-arrival (the production semantics: history wins).

A document colliding in k bands emits up to k rows — ``distinct`` per
(id, dup_of) downstream if one verdict per document is wanted. The
output is the *candidate* stream; callers verify with true Jaccard on
the flagged pairs (cost proportional to near-dupes) or, at GPT-3-style
scale, drop candidates unverified.
"""

from __future__ import annotations

from typing import Iterator, Optional

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from patito_spark.functions.hashing import portable_hash64_np


def _banded_buckets(
    text: str,
    shingle_size: int,
    num_hashes: int,
    bands: int,
    densify: bool = True,
) -> list[tuple[int, str]]:
    """(band, bucket-key) list for one document.

    Same semantics as the batch pipeline: distinct word n-grams (a doc
    shorter than ``shingle_size`` tokens contributes its whole text as
    the single shingle), OPH bin-mins (``hash % num_hashes`` routing),
    rotation densification of empty bins (borrow from the next occupied
    bin, circularly — matching
    :func:`patito_spark.operators.dedup._minhash_doc_features_arrow`),
    bucket key = the sorted ``bin:min`` pairs of the band. The batch
    side xxhash64-compresses this string JVM-side; the string itself IS
    the grouping key here — identical collision structure, no JVM hash
    needed in Python.
    """
    import bisect

    toks = text.split(" ")
    if len(toks) >= shingle_size:
        grams = {
            " ".join(toks[i : i + shingle_size])
            for i in range(len(toks) - shingle_size + 1)
        }
    else:
        grams = {text}
    rows_per_band = num_hashes // bands
    mins: dict[int, int] = {}
    for h in portable_hash64_np(grams).tolist():
        b = h % num_hashes
        if b not in mins or h < mins[b]:
            mins[b] = h
    if densify and mins:
        occupied = sorted(mins)
        dense: dict[int, int] = {}
        for b in range(num_hashes):
            if b in mins:
                dense[b] = mins[b]
            else:
                i = bisect.bisect_left(occupied, b)
                dense[b] = mins[occupied[i if i < len(occupied) else 0]]
        mins = dense
    out: list[tuple[int, str]] = []
    for band in range(bands):
        pairs = sorted(
            (b, m) for b, m in mins.items() if b // rows_per_band == band
        )
        if not pairs:
            continue
        out.append((band, ",".join(f"{b}:{m}" for b, m in pairs)))
    return out


def streaming_dedup_lsh(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    state_ttl_ms: Optional[int] = None,
    densify: bool = True,
) -> DataFrame:
    """Flag streamed documents that LSH-collide with any earlier document.

    Returns a streaming DataFrame ``(<id_col>, dup_of, band, bucket)``
    in ``append`` mode semantics (each flagged arrival emits once per
    colliding band). See the module docstring for the two-stage design
    and determinism contract.

    ``state_ttl_ms`` bounds the dedup HORIZON: a bucket whose
    representative has not been touched for the TTL is evicted
    (processing-time timeout), so state is O(buckets occupied within the
    horizon) instead of growing with all history — the right knob for an
    infinite stream with drifting content (mirrors
    ``stateful_dedup_stream``'s watermark horizon). Default ``None``
    keeps full-history semantics.

    .. warning::
        A TTL registers a processing-time timeout per occupied bucket,
        and a query with pending processing-time timeouts does NOT
        self-terminate under ``trigger(availableNow=True)`` — the
        engine keeps scheduling timeout-servicing batches (measured on
        Spark 4.1: the query outlives the drain regardless of the TTL
        value; round-9 tools/streaming_throughput.py hit this).
        ``state_ttl_ms`` is for CONTINUOUS streams, where the query
        runs until stopped anyway. For bounded drain-and-stop replays,
        either leave the TTL off, or poll
        ``query.recentProgress`` until the source rows are processed
        and then call ``query.stop()`` (see
        tests/test_streaming_dedup.py::_drain_and_stop).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    assert num_hashes % bands == 0
    id_type = stream.schema[id_col].dataType

    sig_schema = T.StructType(
        [
            T.StructField(id_col, id_type, False),
            T.StructField("band", T.IntegerType(), False),
            T.StructField("bucket", T.StringType(), False),
        ]
    )

    def sig(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, bnds, bkts = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                for band, bucket in _banded_buckets(
                    text or "", shingle_size, num_hashes, bands, densify
                ):
                    ids.append(doc_id)
                    bnds.append(band)
                    bkts.append(bucket)
            yield pd.DataFrame({id_col: ids, "band": bnds, "bucket": bkts})

    sigs = stream.select(id_col, text_col).mapInPandas(sig, schema=sig_schema)

    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type, False),
            T.StructField("dup_of", id_type, False),
            T.StructField("band", T.IntegerType(), False),
            T.StructField("bucket", T.StringType(), False),
        ]
    )
    state_schema = T.StructType([T.StructField("rep", id_type, False)])

    def flag(key, batches, state: GroupState):
        band, bucket = key
        if state.hasTimedOut:
            # horizon passed with no arrivals: forget the representative
            state.remove()
            return
        rep = state.get[0] if state.exists else None
        # Accumulate ALL Arrow chunks for the key before choosing the
        # representative: a per-chunk sort would make the representative
        # depend on chunk boundaries when one key's rows span chunks,
        # breaking the "ascending id order within a micro-batch" contract.
        arrivals: list = []
        for pdf in batches:
            for doc_id in pdf[id_col]:
                arrivals.append(
                    doc_id.item() if hasattr(doc_id, "item") else doc_id
                )
        flagged_ids, reps = [], []
        for doc_id in sorted(arrivals):
            if rep is None:
                rep = doc_id
            elif doc_id != rep:
                flagged_ids.append(doc_id)
                reps.append(rep)
        if rep is not None:
            state.update((rep,))
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)
        if flagged_ids:
            yield pd.DataFrame(
                {
                    id_col: flagged_ids,
                    "dup_of": reps,
                    "band": band,
                    "bucket": bucket,
                }
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return sigs.groupBy("band", "bucket").applyInPandasWithState(
        flag,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


def dedup_urls_stream(
    stream: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    canonical_col: Optional[str] = None,
    **canon_kwargs,
) -> DataFrame:
    """Ingestion-time refetch removal: first fetch of each canonical URL
    passes, later refetches within the watermark horizon are dropped.

    The streaming counterpart of
    :func:`patito_spark.operators.urls.dedup_urls`: the canonical key is
    the same codegen :func:`..operators.urls.canonicalize_url`
    projection (tracking params, www, default ports, fragments all
    collapse), and the state is Spark's built-in
    ``dropDuplicatesWithinWatermark`` — one entry per canonical URL,
    evicted when the watermark passes, so memory is bounded by distinct
    URLs per horizon rather than stream length. Exposes the key as
    ``canonical_col`` when named, else drops it.
    """
    from pyspark.sql import functions as F

    from patito_spark.operators.urls import canonicalize_url

    from patito_spark.streaming.validate import stateful_dedup_stream

    key = canonical_col or "__canon_url"
    keyed = stream.withColumn(
        key, canonicalize_url(F.col(url_col), **canon_kwargs)
    )
    out = stateful_dedup_stream(keyed, [key], ts_col, watermark)
    return out if canonical_col else out.drop(key)


def dedup_paragraphs_stream(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    sep_pattern: str = r"\n{2,}",
    min_chars: int = 1,
    normalize: bool = True,
) -> DataFrame:
    """Ingestion-time paragraph-level dedup (CCNet keep-first, streamed).

    The streaming counterpart of
    :func:`patito_spark.operators.paragraphs.dedup_paragraphs`: incoming
    documents explode into paragraphs (map-only, the same normalized
    match key as the batch operator), and only the FIRST occurrence of
    each paragraph key within the watermark horizon survives — state is
    one entry per distinct paragraph, evicted as the watermark passes.

    Returns the surviving paragraph rows
    ``(<id_col>, para_idx, paragraph, <ts_col>)`` in append mode.
    Document reassembly is deliberately NOT streamed: a second stateful
    aggregation over the dedup output would hold every in-flight
    document open until the watermark closes it; sink the paragraph
    rows and rebuild with the batch reassembly
    (``paragraphs._rebuild_docs`` via ``dedup_paragraphs`` semantics)
    over the sink table instead.
    """
    from pyspark.sql import functions as F

    from patito_spark.operators.paragraphs import _norm_key
    from patito_spark.streaming.validate import stateful_dedup_stream

    paras = stream.select(
        F.col(id_col),
        F.col(ts_col),
        F.posexplode(F.split(F.col(text_col), sep_pattern)).alias(
            "para_idx", "paragraph"
        ),
    ).withColumn("__para_key", _norm_key(F.col("paragraph"), normalize))
    paras = paras.filter(F.length("__para_key") >= max(min_chars, 1))
    out = stateful_dedup_stream(paras, ["__para_key"], ts_col, watermark)
    return out.drop("__para_key")


def dedup_conversations_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    messages_col: str = "messages",
    ignore_roles=("system",),
    normalize: bool = True,
    key_col: Optional[str] = None,
) -> DataFrame:
    """Ingestion-time conversation dedup: the first copy of each
    normalized conversation passes, later copies within the watermark
    horizon drop.

    The streaming counterpart of :func:`patito_spark.operators.
    conversations.dedup_conversations` — the key is the SAME pure
    :func:`..operators.conversations.conversation_key` projection
    (system prompts excluded, case/whitespace folded by default), and
    the state is ``dropDuplicatesWithinWatermark``: one entry per
    distinct conversation in the horizon, watermark-evicted. Keep-first
    here means first ARRIVAL (event-time order within a micro-batch,
    arrival order across batches), not the batch operator's global
    min-id — the usual batch/stream keep-rule difference, same caveat
    as ``dedup_urls_stream``. Rows with a NULL ``messages`` column key
    as NULL and therefore dedup against each other — gate them upstream
    (``filter_conversations``) if they must pass.
    """
    from pyspark.sql import functions as F

    from patito_spark.operators.conversations import conversation_key

    from patito_spark.streaming.validate import stateful_dedup_stream

    key = key_col or "__conv_key"
    keyed = stream.withColumn(
        key,
        conversation_key(
            F.col(messages_col),
            ignore_roles=ignore_roles,
            normalize=normalize,
        ),
    )
    out = stateful_dedup_stream(keyed, [key], ts_col, watermark)
    return out if key_col else out.drop(key)
