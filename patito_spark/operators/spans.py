"""Exact-substring (span-level) dedup: cut duplicated token runs.

The third granularity of text dedup, between :mod:`.paragraphs`
(structural units) and :mod:`.dedup` (whole documents): find token
runs of at least ``span_tokens`` tokens that occur ``min_count`` or
more times anywhere in the corpus and cut every occurrence after the
first out of the text — the ExactSubstr dedup of Lee et al. 2022
("Deduplicating Training Data Makes Language Models Better",
arXiv:2107.06499), which found that memorized-text emission drops
~10x when duplicated 50-token spans are removed even though no
document pair crosses a near-dup threshold.

Lee et al. build a corpus-wide suffix array — a sequential,
single-machine construction. The Spark-first equivalent used here:
every ``span_tokens``-gram is 64-bit-hashed with its position by the
zero-exchange ``arrays_zip`` slice build
(:func:`..dedup.gram_hash_rows`, which halved the gram build against a
``lead()``-window build in the sf1 race: 1.8 s -> 0.9 s warm), and one
mergeable aggregate per gram hash yields both the corpus-wide
occurrence count and the global first occurrence. A
maximal duplicated run of L >= n tokens is exactly a run of L-n+1
consecutive duplicated n-grams, so merging the surviving grams'
``[pos, pos+n-1]`` intervals (gaps-and-islands over candidates only)
reconstructs the full span without ever materializing it.

Scale shape at 100 TB: the heavy object — the gram stream, ~1 row
per corpus token — is built without an exchange and crosses the
network by gram hash only: once as map-side-combined partials for the
count + first-occurrence aggregate, once as rows for the join back.
Everything downstream operates on *duplicated occurrences only*
(a tiny fraction of a healthy corpus): the interval merge windows,
the per-doc interval collect, and the join back to documents. The
final cut is one fold over each affected document's merged-interval
array — an interpreted lambda, but over a per-doc list of a handful
of islands, not the per-gram hot path (which stays codegen).

False positives: two distinct n-grams colliding under xxhash64 would
cut a non-duplicated span; the expected number of collisions is
~G^2 / 2^65 for G distinct grams (< 1 at 100 TB-scale G ~ 10^12,
~0.03 at G = 10^9). Up to those collisions the answer is the same
under any 64-bit hash, which is why the spans take no hash option.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import (
    ByteType,
    DataType,
    IntegerType,
    LongType,
    ShortType,
)

from patito_spark.operators.dedup import gram_hash_rows

__all__ = ["duplicate_span_intervals", "dedup_spans", "scrub_spans"]


def duplicate_span_intervals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 20,
    min_count: int = 2,
    keep_first: bool = True,
    materialize_grams: bool = True,
) -> DataFrame:
    """Merged duplicated-run intervals per document.

    Returns ``<id_col>, span_start, span_end`` (0-based token indices,
    inclusive) — the maximal token runs covered by ``span_tokens``-grams
    that occur at least ``min_count`` times corpus-wide. With
    ``keep_first`` (default) each gram's globally-first occurrence
    (ordered by ``(id, pos)``) is exempt, so one copy of every
    duplicated span survives; ``keep_first=False`` marks ALL copies
    (the aggressive variant — e.g. for scrubbing known-bad spans).

    Scale shape: occurrence count and first occurrence are a MERGEABLE
    hash aggregate per gram hash, joined back onto the gram stream. A
    ubiquitous gram (a boilerplate 20-gram occurring 10^8 times at web
    scale) therefore collapses to one row per map task before the
    exchange, and the join-back probe side streams (AQE can split a
    skewed probe partition; a ``row_number`` window partition cannot be
    split and must sort the whole hot key in one task). Grams come from
    the zero-exchange positioned :func:`..dedup.gram_hash_rows` build.

    The first occurrence is picked from the id's type (see
    :func:`_first_occurrence`): an integral id packs ``(id, pos)`` into
    one BIGINT, so the aggregate is HashAggregate-eligible; any other id
    type takes ``min(struct(id, pos))``, which plans as SortAggregate.
    A ``LongType`` id outside int32 fails the job (the packed key would
    no longer order like ``(id, pos)``).

    The gram stream feeds both the stats aggregate and the join probe;
    ``materialize_grams`` (default, the ``minhash_dedup_pairs``
    ``materialize_shingles`` pattern) persists it so the build runs
    once (~tokens x 16 bytes, memory-and-disk). Disable at extreme
    scale to trade a second gram build for zero cache footprint.
    """
    grams = gram_hash_rows(df, id_col, text_col, span_tokens, positioned=True)
    if materialize_grams:
        from patito_spark.functions.cache import tracked_persist

        grams = tracked_persist(grams)
    key, checked = _first_occurrence(df.schema[id_col].dataType)
    stats = grams.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.min(checked).alias("__first"),
    )
    dup_stats = stats.filter(F.col("__cnt") >= min_count).select(
        "__h", "__first"
    )
    removable = grams.join(dup_stats, on="__h", how="inner")
    if keep_first:
        removable = removable.filter(key != F.col("__first"))
    return _merge_islands(removable.select("__id", "__pos"), span_tokens, id_col)


def _first_occurrence(id_type: DataType) -> tuple[Column, Column]:
    """``(key, checked)`` over the gram stream's ``__id``/``__pos``:
    ``min(checked)`` is the first occurrence of a gram, and a row is that
    occurrence iff its ``key`` equals it.

    Integral ids pack ``(id << 32) + pos``, which orders exactly like
    ``(id, pos)`` when the id fits in int32 (``pos`` is a token index, so
    0 <= pos < 2^31). ``min`` over a BIGINT keeps the stats aggregate
    HashAggregate-eligible, where ``min(struct(...))`` plans as
    SortAggregate and sorts the gram stream on both sides of the
    exchange; the packed lane won the sf1 race on ``LongType`` ids
    (docs/perf.md). A ``LongType`` id outside int32 fails the job through
    ``raise_error`` inside the aggregate's input — no extra job, and
    never a silently wrong keep-first. Narrower ids always fit.
    """
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        key = F.struct(F.col("__id"), F.col("__pos"))
        return key, key
    # The cast to long is LOAD-BEARING: shiftleft on an IntegerType id
    # is a Java int shift (distance masked mod 32 — a silent no-op) and
    # packed keys would collide.
    doc_id = F.col("__id").cast("long")
    key = F.shiftleft(doc_id, 32) + F.col("__pos")
    if not isinstance(id_type, LongType):
        return key, key
    checked = F.when(
        ~doc_id.between(-(2**31), 2**31 - 1),
        F.raise_error(
            F.concat(
                F.lit("duplicate_span_intervals needs LongType ids that fit"
                      " in int32, got "),
                doc_id.cast("string"),
            )
        ),
    ).otherwise(key)
    return key, checked


def _merge_islands(occ: DataFrame, n: int, id_col: str) -> DataFrame:
    """Gaps-and-islands over candidate gram starts (``__id``, ``__pos``):
    consecutive/overlapping gram intervals [pos, pos+n-1] merge into
    maximal runs ``<id_col>, span_start, span_end``."""
    iv = occ.select(
        "__id",
        F.col("__pos").alias("__s"),
        (F.col("__pos") + F.lit(n - 1)).alias("__e"),
    )
    wd = Window.partitionBy("__id").orderBy("__s")
    prev_max_e = F.max("__e").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = iv.select(
        "__id",
        "__s",
        "__e",
        F.sum(
            F.when(
                prev_max_e.isNull() | (F.col("__s") > prev_max_e + 1), 1
            ).otherwise(0)
        )
        .over(wd)
        .alias("__gid"),
    )
    return (
        islands.groupBy("__id", "__gid")
        .agg(
            F.min("__s").alias("span_start"),
            F.max("__e").alias("span_end"),
        )
        .select(F.col("__id").alias(id_col), "span_start", "span_end")
    )


def _apply_cut(
    df: DataFrame,
    intervals: DataFrame,
    id_col: str,
    text_col: str,
    min_remaining_tokens: Optional[int],
) -> DataFrame:
    """Cut the given ``span_start``/``span_end`` token intervals out of
    each document's text: one fold over the sorted merged-interval
    array per affected doc (O(islands) lambda steps, slices codegen);
    unaffected docs pass through byte-for-byte."""
    per_doc = intervals.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__iv")
    )
    out = df.join(per_doc, on=id_col, how="left")
    toks = F.split(F.col(text_col), " ")
    sz = F.size(toks)
    # acc.cur = next uncut 0-based token index; acc.parts accumulates
    # the kept slices (1-based F.slice).
    folded = F.aggregate(
        F.col("__iv"),
        F.struct(
            F.lit(0).alias("cur"),
            F.array().cast("array<string>").alias("parts"),
        ),
        lambda acc, x: F.struct(
            (x.span_end + 1).alias("cur"),
            F.when(
                x.span_start > acc.cur,
                F.concat(
                    acc.parts,
                    F.slice(toks, acc.cur + 1, x.span_start - acc.cur),
                ),
            )
            .otherwise(acc.parts)
            .alias("parts"),
        ),
        lambda acc: F.when(
            sz > acc.cur,
            F.concat(acc.parts, F.slice(toks, acc.cur + 1, sz - acc.cur)),
        ).otherwise(acc.parts),
    )
    new_text = F.when(
        F.col("__iv").isNull(), F.col(text_col)
    ).otherwise(F.array_join(folded, " "))
    out = out.withColumn(text_col, new_text)
    if min_remaining_tokens is not None:
        # Only CUT documents are subject to the remainder gate — a doc
        # that was empty or tiny on the way in and untouched passes
        # through (dropping it would make the cut a quality filter).
        kept_tokens = F.when(
            F.length(F.col(text_col)) > 0,
            F.size(F.split(F.col(text_col), " ")),
        ).otherwise(F.lit(0))
        out = out.filter(
            F.col("__iv").isNull() | (kept_tokens >= min_remaining_tokens)
        )
    return out.drop("__iv")


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 20,
    min_count: int = 2,
    keep_first: bool = True,
    min_remaining_tokens: Optional[int] = 1,
) -> DataFrame:
    """Cut duplicated >= ``span_tokens``-token runs out of every document.

    ExactSubstr dedup (Lee et al. 2022, arXiv:2107.06499), Spark-first —
    see the module docstring for the formulation. Every token run of at
    least ``span_tokens`` whitespace tokens occurring ``min_count``+
    times corpus-wide is removed from all but its globally-first
    occurrence (``keep_first=False`` removes every copy). The document
    text is rebuilt from the surviving tokens (single-space-joined — the
    same whitespace normalization as :func:`..packing.chunk_documents`);
    documents left with fewer than ``min_remaining_tokens`` tokens are
    dropped (``None`` keeps them). Documents containing no duplicated
    span pass through with their text untouched, byte-for-byte; NULL
    text contributes no grams and passes through as NULL. All other
    columns are preserved.

    The cut itself is one ``aggregate`` fold over each affected doc's
    sorted merged-interval array: the accumulator walks a cursor
    through the token array, concatenating the codegen ``slice``
    between consecutive islands — O(islands) lambda steps per doc,
    never per token.
    """
    intervals = duplicate_span_intervals(
        df,
        id_col=id_col,
        text_col=text_col,
        span_tokens=span_tokens,
        min_count=min_count,
        keep_first=keep_first,
    )
    return _apply_cut(df, intervals, id_col, text_col, min_remaining_tokens)


def scrub_spans(
    df: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_text_col: Optional[str] = None,
    span_tokens: int = 8,
    min_remaining_tokens: Optional[int] = 1,
    max_broadcast_grams: Optional[int] = 5_000_000,
) -> DataFrame:
    """Cut every token run that appears verbatim in ``reference``.

    Surgical decontamination: where :func:`..contamination.
    ngram_contamination` *flags* documents overlapping a benchmark (so
    the pipeline can drop them), ``scrub_spans`` removes just the
    leaked spans — every maximal corpus run covered by
    ``span_tokens``-grams of the reference text is cut, and the rest of
    the document survives. The right tool when benchmark sentences are
    quoted inside otherwise-good documents (dropping the whole doc
    wastes data; keeping it verbatim leaks the benchmark).

    Scale shape: the reference's distinct gram hashes build map-only
    and BROADCAST while under ``max_broadcast_grams`` rows (~8 bytes
    each, so the default bound is ~40 MB — eval suites are tiny next
    to a training corpus); the corpus gram stream then never shuffles
    for the match — a map-side semi join marks leaked positions, and
    only matched candidates reach the islands windows and the cut.
    Above the bound the match falls back to a shuffle join (AQE
    decides). ``keep_first`` does not apply: every copy is leaked by
    definition. The reference side is read once.
    """
    ref_text = ref_text_col or text_col
    ref_grams = (
        # the text doubles as the id: only the hash set is needed
        gram_hash_rows(
            reference, ref_text, ref_text, span_tokens, positioned=True
        )
        .select("__h")
        .distinct()
    )
    if max_broadcast_grams is not None:
        # Persist before the eligibility count so the split+hash+distinct
        # lineage is not evaluated a second time by the join below
        # (released with the other operator intermediates via
        # release_caches()).
        from patito_spark.functions.cache import tracked_persist

        ref_grams = tracked_persist(ref_grams)
        if ref_grams.count() <= max_broadcast_grams:
            ref_grams = F.broadcast(ref_grams)
    else:
        ref_grams = F.broadcast(ref_grams)
    grams = gram_hash_rows(df, id_col, text_col, span_tokens, positioned=True)
    matched = grams.join(ref_grams, on="__h", how="left_semi")
    intervals = _merge_islands(matched, span_tokens, id_col)
    return _apply_cut(df, intervals, id_col, text_col, min_remaining_tokens)
