"""Benchmark-contamination detection for training corpora.

A document is contaminated when it shares long n-grams with an evaluation
benchmark — the standard decontamination test (e.g. GPT-3's 13-gram
filter) run before training. The benchmark side is tiny by definition
(an eval set), so both physical strategies broadcast it and stream the
corpus exactly once with no corpus shuffle before the result:

* ``"set"`` (default via ``"auto"``) — broadcast the benchmark's
  distinct gram set, intersect per document in one Arrow-batched
  ``mapInPandas`` stage (zero shuffles, zero joins);
* ``"join"`` — gram-hash both sides with
  :func:`patito_spark.operators.dedup.shingle_hash_rows` and resolve the
  overlap as a broadcast hash equi-join + per-doc count (all-JVM).

``hash_mode="portable"`` makes the join pipeline SQL-replayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from patito_spark.operators.dedup import shingle_hash_rows


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_shared: int = 1,
    hash_mode: str = "xxhash64",
    broadcast_benchmark: bool = True,
    strategy: str = "auto",
    max_broadcast_grams: int = 2_000_000,
    bloom_fpp: float = 1e-4,
) -> DataFrame:
    """Corpus documents sharing ≥ ``min_shared`` distinct n-grams with the
    benchmark.

    Returns ``doc_id, n_shared_grams`` (one row per contaminated corpus
    document). Grams are word ``n``-grams; documents shorter than ``n``
    tokens contribute their whole text as one gram (so short exact copies
    are still caught); NULL text, on either side, contributes no grams.

    ``strategy`` picks the physical shape (A/B-raced at sf0.1,
    docs/perf.md):

    * ``"set"`` (0.27 s) — the benchmark's distinct grams are collected
      once (bounded by ``max_broadcast_grams``) and shipped as a
      broadcast variable; the corpus runs ONE Arrow-batched
      ``mapInPandas`` stage intersecting each document's gram set
      in-batch. Zero shuffles, no join: the corpus is a pure map-only
      scan — the GPT-3-style decontamination shape (broadcast the eval
      set, stream the corpus). Exact string matching (no hash
      collisions at all).
    * ``"join"`` (0.72 s) — all-JVM: both sides through
      :func:`shingle_hash_rows`, broadcast hash equi-join on the gram
      hash, map-side-combined per-doc count. Use when Python worker
      lanes are saturated, or the benchmark exceeds the broadcast cap.
    * ``"bloom"`` — the bounded-MEMORY shape for a LARGE benchmark
      suite (many eval sets decontaminated at once): the benchmark's
      distinct gram hashes are folded into a packed Bloom bitset
      (:class:`patito_spark.functions.bloom.BloomBits`, ~2.4 bytes per
      gram at the default ``bloom_fpp=1e-4`` — vs 8+ for the join's
      hash broadcast, ~50× less than the string set), built in one
      distributed pass and broadcast once per executor; the corpus runs
      scan → JVM gram-hash → vectorized-numpy membership → one
      map-side-combined per-doc count. No false negatives (contaminated
      documents are never missed). Over-flagging is per-PROBE: expected
      falsely-flagged docs ≈ total distinct corpus grams × fpp at
      ``min_shared=1`` — at 1M docs × 8 grams the default 1e-4 costs
      ~0.08% of the corpus, while fpp=0.01 costs 8% (measured; that is
      why the default is 1e-4 — size fpp to the corpus gram count, not
      to intuition). Measured at 1M docs / 100k-gram benchmark, where
      the join still fits: join 3.4 s, bloom ~4.5 s — bloom trades ~1.3×
      wall for an ~3× smaller broadcast that stays feasible when the
      benchmark outgrows the join (docs/perf.md).
    * ``"auto"`` (default) — ``"set"`` unless the benchmark's distinct
      gram count exceeds ``max_broadcast_grams`` (each Python worker
      holds one copy of the set — at the default 2M cap that is a few
      hundred MB per worker), else ``"join"``.

    ``hash_mode``/``broadcast_benchmark`` only affect the join and
    bloom strategies (both gram-hash JVM-side through
    :func:`shingle_hash_rows`).
    """
    if strategy == "bloom":
        return _bloom_contamination(
            corpus,
            benchmark,
            id_col=id_col,
            text_col=text_col,
            n=n,
            min_shared=min_shared,
            hash_mode=hash_mode,
            fpp=bloom_fpp,
        )
    if strategy in ("auto", "set"):
        from patito_spark.operators.dedup import shingles

        # Distinct benchmark grams, bounded collect: an eval set is tiny
        # by definition — if it is not, fall back to the join strategy
        # ("auto") or fail loudly ("set").
        bench_grams_df = (
            benchmark.filter(F.col(text_col).isNotNull())
            .select(F.explode(shingles(text_col, n)).alias("__g"))
            .distinct()
            .limit(max_broadcast_grams + 1)
        )
        bench_pdf = bench_grams_df.toPandas()
        if len(bench_pdf) > max_broadcast_grams:
            if strategy == "set":
                raise ValueError(
                    f"benchmark has more than {max_broadcast_grams} "
                    "distinct grams; raise max_broadcast_grams or use "
                    "strategy='join'"
                )
        else:
            import pandas as pd

            bench_set = set(bench_pdf["__g"])
            bc = corpus.sparkSession.sparkContext.broadcast(bench_set)
            out_schema = T.StructType(
                [
                    T.StructField(id_col, corpus.schema[id_col].dataType),
                    T.StructField("n_shared_grams", T.LongType()),
                ]
            )

            def shared_counts(batches):
                bs = bc.value
                for pdf in batches:
                    ids, counts = [], []
                    for i, txt in zip(pdf[id_col], pdf[text_col]):
                        if txt is None:
                            continue
                        toks = txt.split(" ")
                        if len(toks) < n:
                            grams = {txt}
                        else:
                            grams = {
                                " ".join(toks[j : j + n])
                                for j in range(len(toks) - n + 1)
                            }
                        k = len(grams & bs)
                        if k >= min_shared:
                            ids.append(i)
                            counts.append(k)
                    yield pd.DataFrame(
                        {id_col: ids, "n_shared_grams": counts}
                    )

            return corpus.select(id_col, text_col).mapInPandas(
                shared_counts, out_schema
            )

    # distinct=False on BOTH sides: the corpus side's repeats collapse in
    # the post-join count_distinct, and the benchmark side dedups on __h
    # alone below. The gram build itself never exchanges.
    corpus_grams = shingle_hash_rows(
        corpus, id_col=id_col, text_col=text_col, n=n,
        hash_mode=hash_mode, distinct=False,
    )
    bench_grams = shingle_hash_rows(
        benchmark, id_col=id_col, text_col=text_col, n=n, hash_mode=hash_mode,
        distinct=False,
    ).select("__h").distinct()
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    shared = corpus_grams.join(bench_grams, on="__h")
    return (
        shared.groupBy(F.col("__id").alias(id_col))
        .agg(F.count_distinct("__h").alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= min_shared)
    )


def _bloom_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    min_shared: int,
    hash_mode: str,
    fpp: float,
) -> DataFrame:
    """``strategy="bloom"`` body — see :func:`ngram_contamination`.

    Both sides hash grams JVM-side (:func:`shingle_hash_rows`, the same
    ``hash_mode`` the join strategy uses), so the Python stage touches
    only int64 hash columns — the membership test is pure vectorized
    numpy over Arrow batches, never per-gram string work.
    """
    import pandas as pd

    from patito_spark.functions.bloom import BloomBits

    bench_hashes = shingle_hash_rows(
        benchmark, id_col=id_col, text_col=text_col, n=n,
        hash_mode=hash_mode, distinct=False,
    ).select("__h")
    bloom = BloomBits.build(bench_hashes, "__h", fpp=fpp)
    bc = corpus.sparkSession.sparkContext.broadcast(
        (bloom.words, bloom.m, bloom.k)
    )

    # Per-row distinct: each doc's hash stream is unique before the
    # filter, so the per-doc tally is count(*) after ONE map-side-
    # combined shuffle.
    corpus_hashes = shingle_hash_rows(
        corpus, id_col=id_col, text_col=text_col, n=n, hash_mode=hash_mode
    )
    out_schema = T.StructType(
        [T.StructField("__id", corpus.schema[id_col].dataType)]
    )

    def members(batches):
        words, m, k = bc.value
        probe = BloomBits(words, m=m, k=k, n_items=0)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            hit = probe.contains(pdf["__h"].to_numpy())
            if hit.any():
                yield pd.DataFrame({"__id": pdf["__id"].to_numpy()[hit]})

    shared = corpus_hashes.select("__id", "__h").mapInPandas(
        members, out_schema
    )
    return (
        shared.groupBy(F.col("__id").alias(id_col))
        .agg(F.count("*").alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= min_shared)
    )
