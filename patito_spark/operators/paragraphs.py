"""Paragraph/line-level dedup and boilerplate removal (CCNet-style).

Web-scale training corpora are deduplicated at PARAGRAPH granularity
before (or in addition to) document-level near-dup: CCNet drops
duplicated paragraphs across shards, and RefinedWeb/Gopher-class
pipelines remove lines that repeat across many documents (navigation
chrome, cookie banners, boilerplate). The reference engine (patito) has
no corpus operators at all; this module is part of the pipeline layer
this engine adds (SURVEY.md §2 [O]).

Scale design (100 TB / 1000 executors):

* ``split_paragraphs`` is map-only: ``posexplode(split(...))`` plus
  codegen normalization — no shuffle, no Python. The standalone
  operators reassemble with ``array_sort(collect_list(struct))
  .getField`` — no interpreted higher-order-function lambda.
  ``paragraph_passes`` reassembles the same way (one split per
  document).
* ``dedup_paragraphs(scope="corpus")`` costs exactly two shuffles on the
  exploded paragraph table (occurrence ranking on the paragraph key,
  then doc reassembly) plus one co-keyed join back to the input. The
  ranking window partitions by the normalized paragraph text itself —
  Spark hash-partitions the key internally, rows only compare within
  identical keys, and (unlike a 64-bit pre-hash) collisions cannot merge
  distinct paragraphs.
* ``scope="document"`` needs no cross-doc state: rank and reassembly
  share the ``(doc, paragraph)`` partitioning and AQE collapses them
  into one exchange.
* Boilerplate removal is one extra hash aggregate (distinct-doc counts
  per paragraph, map-side combined) and a shuffle anti-join; no
  broadcast of unbounded state.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "split_paragraphs",
    "dedup_paragraphs",
    "drop_boilerplate_paragraphs",
    "paragraph_passes",
]


def _norm_key(para: Column, normalize: bool) -> Column:
    """Match key for a paragraph: trimmed, whitespace-collapsed, and
    (optionally) lowercased — two paragraphs differing only in spacing
    or case are the same boilerplate."""
    key = F.regexp_replace(F.trim(para), r"\s+", " ")
    return F.lower(key) if normalize else key


def _rebuild_docs(
    df: DataFrame,
    kept: DataFrame,
    id_col: str,
    text_col: str,
    join_sep: str,
    drop_empty: bool,
) -> DataFrame:
    """Reassemble ``text_col`` from surviving paragraph rows and graft it
    back onto ``df``'s other columns (original column order)."""
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            join_sep,
            F.array_sort(
                F.collect_list(F.struct("para_idx", "paragraph"))
            ).getField("paragraph"),
        ).alias("__rebuilt")
    )
    if drop_empty and set(df.columns) == {id_col, text_col}:
        # The frame carries nothing beyond (id, text): the reassembly
        # aggregate already IS the result — docs that lost every
        # paragraph (or never had one) are simply absent from
        # `rebuilt`, exactly the drop_empty contract, so the join-back
        # would only re-derive the same rows through an extra shuffle.
        return rebuilt.select(
            F.col(id_col), F.col("__rebuilt").alias(text_col)
        ).select(*df.columns)
    how = "inner" if drop_empty else "left"
    out = (
        df.drop(text_col)
        .join(rebuilt, on=id_col, how=how)
        .withColumn(text_col, F.coalesce(F.col("__rebuilt"), F.lit("")))
        .drop("__rebuilt")
    )
    return out.select(*df.columns)


def split_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_pattern: str = r"\n{2,}",
    min_chars: int = 1,
    normalize: bool = True,
) -> DataFrame:
    """Explode documents into ``(id, para_idx, paragraph, para_key)``.

    Map-only (codegen split + posexplode): safe to run on the full
    corpus. ``para_idx`` is the paragraph's position inside its document
    (the reassembly order), ``para_key`` the normalized match key.
    Whitespace-only fragments (empty splits) are dropped; ``min_chars``
    applies to the normalized key.
    """
    out = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_pattern)).alias(
            "para_idx", "paragraph"
        ),
    ).withColumn("para_key", _norm_key(F.col("paragraph"), normalize))
    return out.filter(F.length("para_key") >= max(min_chars, 1))


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_pattern: str = r"\n{2,}",
    join_sep: str = "\n\n",
    scope: str = "corpus",
    min_chars: int = 1,
    normalize: bool = True,
    drop_empty: bool = True,
    paragraph_rows: Optional[DataFrame] = None,
) -> DataFrame:
    """Remove duplicated paragraphs, keeping each one's FIRST occurrence.

    ``scope="corpus"``: a paragraph is kept only in the document where it
    first appears — first by ``(id_col, para_idx)`` ordering, so the
    result is deterministic and replayable in ANSI SQL (the in-test
    DuckDB oracle re-derives it with a row_number window). This is the
    CCNet paragraph-dedup semantics. ``scope="document"`` dedups only
    within each document (repeated chorus/disclaimer inside one doc).

    Returns ``df`` with ``text_col`` rebuilt from the surviving
    paragraphs (original paragraph text, original order, joined with
    ``join_sep``); all other columns pass through. Documents whose every
    paragraph was removed are dropped when ``drop_empty`` (the CCNet
    behavior), else kept with an empty string.
    """
    if scope not in ("corpus", "document"):
        raise ValueError(f"scope must be 'corpus' or 'document', got {scope!r}")

    paras = (
        paragraph_rows
        if paragraph_rows is not None
        else split_paragraphs(
            df, id_col, text_col, sep_pattern, min_chars, normalize
        )
    )

    # Keep-first is a single MERGEABLE hash aggregate: min(struct(id,
    # para_idx, paragraph)) per key — (id, para_idx) is unique per row so
    # the struct min IS the first occurrence and carries its original
    # text. Map-side partial combine collapses a web-ubiquitous paragraph
    # ("Share this post" x 10^8) to one row per map task BEFORE the
    # exchange; a row_number window would instead sort the whole hot key
    # inside one unsplittable partition.
    part = ["para_key"] if scope == "corpus" else [id_col, "para_key"]
    kept = (
        paras.groupBy(*part)
        .agg(
            F.min(
                F.struct(
                    F.col(id_col), F.col("para_idx"), F.col("paragraph")
                )
            ).alias("__f")
        )
        .select(
            F.col(f"__f.{id_col}").alias(id_col),
            F.col("__f.para_idx").alias("para_idx"),
            F.col("__f.paragraph").alias("paragraph"),
        )
    )
    return _rebuild_docs(df, kept, id_col, text_col, join_sep, drop_empty)


def drop_boilerplate_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_pattern: str = r"\n{2,}",
    join_sep: str = "\n\n",
    min_docs: int = 3,
    min_chars: int = 1,
    normalize: bool = True,
    drop_empty: bool = True,
    paragraph_rows: Optional[DataFrame] = None,
) -> DataFrame:
    """Remove EVERY occurrence of paragraphs appearing in >= ``min_docs``
    distinct documents (navigation chrome, cookie banners, license
    footers). RefinedWeb-style boilerplate pruning: unlike
    :func:`dedup_paragraphs` no copy survives, because a paragraph shared
    by many documents is template text, not content.

    One hash aggregate computes per-paragraph distinct-doc counts
    (map-side combined); common paragraphs are removed with a shuffle
    anti-join on the paragraph key. Returns ``df`` with ``text_col``
    rebuilt (other columns untouched).
    """
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")

    paras = (
        paragraph_rows
        if paragraph_rows is not None
        else split_paragraphs(
            df, id_col, text_col, sep_pattern, min_chars, normalize
        )
    )

    common = (
        paras.groupBy("para_key")
        .agg(F.count_distinct(F.col(id_col)).alias("__n_docs"))
        .filter(F.col("__n_docs") >= min_docs)
        .select("para_key")
    )
    kept = paras.join(common, on="para_key", how="left_anti")
    return _rebuild_docs(df, kept, id_col, text_col, join_sep, drop_empty)


def paragraph_passes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_pattern: str = r"\n{2,}",
    join_sep: str = "\n\n",
    min_docs: int = 3,
    min_chars: int = 1,
    normalize: bool = True,
    drop_empty: bool = True,
    paragraph_rows: Optional[DataFrame] = None,
    mode_col: str = "mode",
) -> DataFrame:
    """Both INDEPENDENT paragraph views of a corpus in one fused plan:
    ``mode='dedup'`` rows are :func:`dedup_paragraphs` (corpus scope)
    output, ``mode='boiler'`` rows are
    :func:`drop_boilerplate_paragraphs` output — row-identical to
    composing the two operators FOR NON-NULL ``id_col`` VALUES, tagged
    by ``mode_col``. Null ids (they identify documents) are a
    precondition: the fused stats count a null-id group where the
    composed ``drop_boilerplate_paragraphs`` uses ``count_distinct``
    (which skips nulls).

    The use case is the side-by-side attrition report (what would each
    policy do to this corpus?) where running the operators separately
    pays the paragraph machinery twice.

    Plan: one ``split``+explode of the documents, two stacked MERGEABLE
    aggregates — ``(para_key, id)`` first (a web-ubiquitous paragraph
    splits across docs in this exchange, so no hot single key), then
    ``para_key`` — carrying the paragraph text in the aggregation
    structs, and ONE shared ``(mode, id)`` reassembly shuffle. The
    winner rule is the composed operators' ``min(struct(id, para_idx,
    paragraph))`` exactly. Each document is split once; per-task regex
    CPU, not shuffle bytes, dominates at every locally measurable scale
    (the shuffle-only-keys alternative lost at sf0.1, sf1 and sf3,
    docs/perf.md).
    """
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    paras = (
        paragraph_rows
        if paragraph_rows is not None
        else split_paragraphs(
            df, id_col, text_col, sep_pattern, min_chars, normalize
        )
    )

    per_doc = paras.groupBy("para_key", id_col).agg(
        F.min(F.struct("para_idx", "paragraph")).alias("__d")
    )
    stats = per_doc.groupBy("para_key").agg(
        F.min(
            F.struct(
                F.col(id_col),
                F.col("__d.para_idx").alias("para_idx"),
                F.col("__d.paragraph").alias("paragraph"),
            )
        ).alias("__f"),
        F.count(F.lit(1)).alias("__n_docs"),
    )
    from patito_spark.functions.cache import tracked_persist

    stats = tracked_persist(stats)

    dedup_kept = stats.select(
        F.col(f"__f.{id_col}").alias(id_col),
        F.col("__f.para_idx").alias("para_idx"),
        F.col("__f.paragraph").alias("paragraph"),
    ).withColumn("__mode", F.lit("dedup"))
    common = stats.filter(F.col("__n_docs") >= min_docs).select("para_key")
    boiler_kept = (
        paras.join(common, on="para_key", how="left_anti")
        .select(id_col, "para_idx", "paragraph")
        .withColumn("__mode", F.lit("boiler"))
    )
    kept = dedup_kept.unionByName(boiler_kept)

    rebuilt = kept.groupBy("__mode", id_col).agg(
        F.concat_ws(
            join_sep,
            F.array_sort(
                F.collect_list(F.struct("para_idx", "paragraph"))
            ).getField("paragraph"),
        ).alias("__rebuilt")
    )
    return _emit_tagged(df, rebuilt, id_col, text_col, mode_col, drop_empty)


def _emit_tagged(
    df: DataFrame,
    rebuilt: DataFrame,
    id_col: str,
    text_col: str,
    mode_col: str,
    drop_empty: bool,
) -> DataFrame:
    """Tail of :func:`paragraph_passes`: emit the rebuilt ``(__mode, id,
    __rebuilt)`` rows directly when the frame carries nothing beyond
    (id, text), else graft them back onto ``df``'s other columns through
    the per-mode crossJoin (the mode-tagged analogue of
    :func:`_rebuild_docs`)."""
    if drop_empty and set(df.columns) == {id_col, text_col}:
        out = rebuilt.select(
            F.col("__mode").alias(mode_col),
            F.col(id_col),
            F.col("__rebuilt").alias(text_col),
        )
        return out.select(mode_col, *df.columns)
    how = "inner" if drop_empty else "left"
    modes = df.sparkSession.createDataFrame(
        [("dedup",), ("boiler",)], f"{mode_col} string"
    )
    out = (
        df.drop(text_col)
        .crossJoin(F.broadcast(modes))
        .join(
            rebuilt.withColumnRenamed("__mode", mode_col),
            on=[mode_col, id_col],
            how=how,
        )
        .withColumn(text_col, F.coalesce(F.col("__rebuilt"), F.lit("")))
        .drop("__rebuilt")
    )
    return out.select(mode_col, *df.columns)
