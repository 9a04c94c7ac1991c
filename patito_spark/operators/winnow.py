"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
the MOSS local fingerprinting algorithm) and fingerprint-bucketed
near-dup pairs.

Where MinHash estimates WHOLE-document Jaccard and exact-substring
span dedup needs byte-identical runs, winnowing detects PARTIAL
overlap with a guarantee: any shared token run of at least
``w + k − 1`` tokens produces at least one shared fingerprint
(the paper's theorem 1 for window size ``w`` over token ``k``-grams).
That is the plagiarism/quote/boilerplate-overlap detector — the gap
between "similar documents" and "identical substrings".

Scale shape: fingerprint selection is DOCUMENT-LOCAL, so it runs as
one Arrow-batched ``mapInPandas`` stage (the ``repetition_stats``
precedent: no shuffle at all until pairing); pairing is the
MinHash-style bucketed join — count-guarded buckets, never all-pairs.
"""

from __future__ import annotations

import zlib
from typing import Iterable, Iterator, Optional

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

# Polynomial gram-hash constants: multiplications wrap mod 2^64 (numpy
# uint64 arithmetic), which is a valid rolling-hash ring; crc32 gives a
# deterministic per-token value (PYTHONHASHSEED-independent).
_BASE = 1_000_003


def _gram_hashes(tokens, k: int, hash_mode: str):
    """uint64 gram-hash array for one document (``len(tokens) ≥ k``).

    ``crc32poly`` (default): crc32 token hashes combined by the mod-2^64
    polynomial — vectorized, the production path. ``portable``:
    :func:`patito_spark.functions.hashing.portable_hash64_np` of the
    space-joined gram string — slower, but engine-independent so the
    correctness oracles replay selection value-for-value in SQL.
    """
    import numpy as np

    n_grams = len(tokens) - k + 1
    if hash_mode == "portable":
        from patito_spark.functions.hashing import portable_hash64_np

        return portable_hash64_np(
            [" ".join(tokens[i : i + k]) for i in range(n_grams)]
        ).astype("uint64")
    if hash_mode != "crc32poly":
        raise ValueError(
            f"unknown hash mode {hash_mode!r}; use 'crc32poly' or 'portable'"
        )
    th = np.array(
        [zlib.crc32(t.encode("utf-8")) for t in tokens], dtype="uint64"
    )
    # gram hash g_i = sum_j th[i+j] * BASE^(k-1-j), vectorized
    powers = np.array(
        [pow(_BASE, k - 1 - j, 1 << 64) for j in range(k)], dtype="uint64"
    )
    g = np.zeros(n_grams, dtype="uint64")
    for j in range(k):
        g += th[j : j + n_grams] * powers[j]
    return g


def _doc_fingerprints(tokens, k: int, w: int, hash_mode: str = "crc32poly"):
    """Pure-Python/numpy winnow of ONE document; returns the distinct
    (fingerprint, position) selections. Exposed for the tests'
    bit-exact reference and reused verbatim by the distributed stage."""
    import numpy as np

    n = len(tokens)
    if n < k:
        return []
    g = _gram_hashes(tokens, k, hash_mode)
    n_grams = n - k + 1
    if n_grams <= w:
        # fewer grams than one full window: one window = everything,
        # rightmost minimum
        rev = g[::-1]
        pos = n_grams - 1 - int(np.argmin(rev))
        return [(int(g[pos]), pos)]
    # windows of w grams; rightmost-min per window via reversed argmin
    from numpy.lib.stride_tricks import sliding_window_view

    wins = sliding_window_view(g, w)
    rev = wins[:, ::-1]
    arg = w - 1 - np.argmin(rev, axis=1)
    pos = arg + np.arange(len(wins))
    sel = sorted({(int(g[p]), int(p)) for p in pos})
    return sel


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    hash_mode: str = "crc32poly",
    positions: bool = True,
) -> DataFrame:
    """Per-document winnowing fingerprints: ``<id_col>, fp, pos`` rows.

    ``k`` = gram length (noise threshold: matches shorter than ``k``
    tokens are never detected), ``w`` = window (guarantee threshold:
    matches of at least ``w + k − 1`` tokens are ALWAYS detected —
    Schleimer et al.'s winnowing guarantee). Selection is the paper's
    robust variant: the rightmost minimal gram hash of every window,
    deduplicated. Document-local, one Arrow stage, no shuffle; null
    and shorter-than-``k`` documents yield no rows (no fingerprint, no
    false pair).

    ``positions=False`` drops the ``pos`` column and emits each
    document's DISTINCT fingerprint values instead — deduplicated
    inside the Arrow kernel, so the (id, fp) rows are globally distinct
    BY CONSTRUCTION and the pairing consumers skip a whole
    distinct-exchange over the fingerprint stream.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    fields = [
        T.StructField(id_col, df.schema[id_col].dataType, False),
        T.StructField("fp", T.LongType(), False),
    ]
    if positions:
        fields.append(T.StructField("pos", T.IntegerType(), False))
    schema = T.StructType(fields)
    pruned = df.select(id_col, text_col)

    def winnow(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids, fps, poss = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                sel = _doc_fingerprints(text.split(" "), k, w, hash_mode)
                if positions:
                    for fp, pos in sel:
                        ids.append(doc_id)
                        # uint64 -> signed 64-bit for Spark LongType
                        fps.append(
                            fp - (1 << 64) if fp >= 1 << 63 else fp
                        )
                        poss.append(pos)
                else:
                    for fp in {f for f, _ in sel}:
                        ids.append(doc_id)
                        fps.append(
                            fp - (1 << 64) if fp >= 1 << 63 else fp
                        )
            cols = {id_col: ids, "fp": fps}
            if positions:
                cols["pos"] = poss
            yield pd.DataFrame(cols)

    return pruned.mapInPandas(winnow, schema=schema)


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_bucket_size: int = 1000,
    with_containment: bool = False,
    hash_mode: str = "crc32poly",
) -> DataFrame:
    """Partial-overlap candidate pairs: documents sharing at least
    ``min_shared`` distinct winnowing fingerprints. Returns
    ``id_a, id_b, shared_fps`` with ``id_a < id_b``;
    ``with_containment=True`` appends ``containment`` =
    ``shared_fps / min(|fps_a|, |fps_b|)`` — 1.0 means the smaller
    document's selected fingerprints are entirely inside the larger's
    (the quote/subset signal; Broder's containment over the
    fingerprint sample). On that path ``shared_fps`` is recomputed
    EXACTLY from the unpruned fingerprint sets of the surviving pairs
    (one join fan-out bounded by candidate count × per-doc
    fingerprints), so a true quote whose remaining shared fingerprints
    fall in pruned boilerplate buckets still reports containment 1.0 —
    the numerator and denominator come from the same unpruned sets.
    Without containment, ``shared_fps`` counts only guard-surviving
    buckets (a lower bound). Candidate GENERATION always runs on the
    guarded buckets; a pair whose every shared fingerprint sits in an
    over-``max_bucket_size`` bucket is never generated (the standard
    LSH-style recall trade).

    The pairing is the MinHash-style bucketed join, never all-pairs: a
    map-side-combined count per fingerprint drops degenerate buckets
    (boilerplate grams shared by thousands of docs — the same failure
    mode as empty-document MinHash bands) BEFORE any member list
    materializes, surviving buckets join within themselves, and the
    per-pair distinct-fingerprint count is one hash aggregate.
    ``min_shared`` > 1 suppresses single-gram coincidences; callers
    needing exact overlap extents verify survivors with
    ``..spans.dedup_spans`` on the candidate set.

    PRECONDITION: ``id_col`` must be unique in ``df``. The fingerprint
    rows are distinct by construction per (id, fp) — there is no
    global re-dedup — so a duplicated id inflates bucket member
    counts, ``shared_fps``, and the containment denominators.
    Deduplicate ids upstream (``dedup_exact`` / ``dropDuplicates``)
    before winnowing.
    """
    from pyspark.sql import Window

    from patito_spark.functions.cache import tracked_persist

    fps = winnow_fingerprints(
        df, text_col=text_col, id_col=id_col, k=k, w=w,
        hash_mode=hash_mode, positions=False,
    ).select(F.col(id_col).alias("__id"), "fp")
    # rows are distinct by construction (doc-local dedup in the Arrow
    # kernel) — no distinct exchange. Persist only when the
    # containment branch re-reads the unpruned table; the candidate
    # path below is one linear pipeline.
    if with_containment:
        fps = tracked_persist(fps)
    # Bucket guard fused into the pair stage's ONE exchange (the
    # hamming_pairs round-14 shape): the member count is a window over
    # partitionBy(fp) — the exact partitioning the bucket aggregate
    # needs — so the guard adds ZERO exchanges AND bounds every
    # collected array at max_bucket_size (WindowExec buffers
    # spillably, so a pathological bucket dies at the filter without
    # ever materializing as one aggregation buffer).
    survivors = (
        fps.withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .filter((F.col("__n") > 1) & (F.col("__n") <= max_bucket_size))
        .drop("__n")
    )
    # In-bucket pair expansion WITHOUT a self-join: collect each
    # guarded bucket (a streaming sort-aggregate riding the window's
    # partitioning and sort) and double-explode the a < b pairs; the
    # per-pair fp count then aggregates to shared_fps exactly as the
    # fp-keyed self-join did.
    buckets = survivors.groupBy("fp").agg(
        F.collect_list("__id").alias("__ids")
    )
    pairs = (
        buckets.select(F.explode("__ids").alias("id_a"), "__ids")
        .select("id_a", F.explode("__ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    if not with_containment:
        return pairs
    # Numerator AND denominator from the persisted UNPRUNED fps table:
    # the exact shared count re-derives per surviving pair (fan each
    # pair out to doc-a's fingerprints, probe doc-b's set on (id, fp)),
    # so bucket pruning biases neither side of the ratio.
    exact = (
        pairs.select("id_a", "id_b")
        .join(
            fps.select(F.col("__id").alias("id_a"), "fp"), on="id_a"
        )
        .join(
            fps.select(F.col("__id").alias("id_b"), "fp"),
            on=["id_b", "fp"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )
    sizes = fps.groupBy("__id").agg(F.count(F.lit(1)).alias("__n_fps"))
    return (
        exact.join(
            sizes.select(
                F.col("__id").alias("id_a"), F.col("__n_fps").alias("__na")
            ),
            on="id_a",
        )
        .join(
            sizes.select(
                F.col("__id").alias("id_b"), F.col("__n_fps").alias("__nb")
            ),
            on="id_b",
        )
        .select(
            "id_a",
            "id_b",
            "shared_fps",
            (
                F.col("shared_fps")
                / F.least(F.col("__na"), F.col("__nb")).cast("double")
            ).alias("containment"),
        )
    )


def winnow_against(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: Optional[str] = None,
    ref_id_col: Optional[str] = None,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_bucket_size: int = 1000,
    hash_mode: str = "crc32poly",
) -> DataFrame:
    """Cross-corpus partial-overlap scan: which corpus documents share
    at least ``min_shared`` winnowing fingerprints with ANY reference
    document (benchmark suite, held-out eval set). Returns
    ``<id_col>, ref_id, shared_fps``.

    The partial-overlap complement to ``..contamination``'s n-gram
    scans: a paraphrased-but-quoting document that embeds a ≥ w+k−1
    token run of a benchmark item is guaranteed a shared fingerprint.
    The reference side is usually tiny (benchmarks), so its
    fingerprint table broadcasts; the corpus side is fingerprinted in
    one shuffle-free Arrow pass and joined map-side. The count guard
    runs on the REFERENCE buckets (a degenerate reference fingerprint
    — boilerplate instructions shared by thousands of items — would
    otherwise fan every matching corpus doc out across all of them).

    PRECONDITION: ids must be unique on BOTH sides (the
    :func:`winnow_pairs` contract): fingerprints are distinct per
    (id, fp) with no global re-dedup, so duplicated ids inflate
    ``shared_fps`` and the reference bucket counts the guard sees.
    """
    ref_text = ref_text_col or text_col
    ref_id = ref_id_col or id_col
    corpus = winnow_fingerprints(
        df, text_col=text_col, id_col=id_col, k=k, w=w,
        hash_mode=hash_mode, positions=False,
    ).select(F.col(id_col), "fp")
    refs = winnow_fingerprints(
        reference, text_col=ref_text, id_col=ref_id, k=k, w=w,
        hash_mode=hash_mode, positions=False,
    ).select(F.col(ref_id).alias("ref_id"), "fp")

    from patito_spark.functions.cache import tracked_persist

    refs = tracked_persist(refs)
    eligible = (
        refs.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= max_bucket_size)
        .select("fp")
    )
    ref_side = F.broadcast(refs.join(eligible, on="fp", how="left_semi"))
    return (
        corpus.join(ref_side, on="fp")
        .groupBy(id_col, "ref_id")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def winnow_admission(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: Optional[str] = None,
    ref_id_col: Optional[str] = None,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_reference_fps: int = 5_000_000,
    hash_mode: str = "crc32poly",
) -> DataFrame:
    """Ingestion-time contamination gate: annotate each document (batch
    OR stream — the check is stateless) with ``n_shared_fps`` against a
    static reference corpus and ``admitted`` (shared < ``min_shared``).

    The reference fingerprint SET is collected once (bounded by
    ``max_reference_fps`` — benchmark suites are small; a web-scale
    reference belongs in :func:`winnow_against`'s join form) and
    broadcast; each arriving document is fingerprinted and checked
    inside the same Arrow batch, so the operator is a pure map — it
    composes with ``readStream`` with no state store, no watermark, and
    no output-mode constraints. All input columns pass through.
    """
    ref_text = ref_text_col or text_col
    ref_id = ref_id_col or id_col
    ref_rows = (
        winnow_fingerprints(
            reference, text_col=ref_text, id_col=ref_id, k=k, w=w,
            hash_mode=hash_mode,
        )
        .select("fp")
        .distinct()
        .limit(max_reference_fps + 1)
        .collect()
    )
    if len(ref_rows) > max_reference_fps:
        raise ValueError(
            f"winnow_admission collects the reference fingerprint set; "
            f"got more than {max_reference_fps} distinct fingerprints. "
            "Use winnow_against (join form) for corpus-scale references."
        )
    ref_set = frozenset(r["fp"] for r in ref_rows)
    bc = df.sparkSession.sparkContext.broadcast(ref_set)

    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("n_shared_fps", T.IntegerType(), False),
            T.StructField("admitted", T.BooleanType(), False),
        ]
    )
    names = [f.name for f in df.schema.fields]

    def gate(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        refs = bc.value
        for pdf in batches:
            shared = []
            for text in pdf[text_col]:
                if text is None:
                    shared.append(0)
                    continue
                fps = {
                    fp - (1 << 64) if fp >= 1 << 63 else fp
                    for fp, _ in _doc_fingerprints(
                        text.split(" "), k, w, hash_mode
                    )
                }
                shared.append(len(fps & refs))
            out = pdf[names].copy()
            out["n_shared_fps"] = shared
            out["admitted"] = [s < min_shared for s in shared]
            yield out

    return df.mapInPandas(gate, schema=schema)
