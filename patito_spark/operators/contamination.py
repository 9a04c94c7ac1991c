"""Benchmark-contamination detection for training corpora.

A document is contaminated when it shares long n-grams with an evaluation
benchmark — the standard decontamination test (e.g. GPT-3's 13-gram
filter) run before training. The benchmark side is tiny by definition
(an eval set), so it is broadcast and the corpus streams exactly once
with no corpus shuffle before the result: the benchmark's distinct gram
set is intersected per document in one Arrow-batched ``mapInPandas``
stage (zero shuffles, zero joins). Past the set's size cap the
benchmark is gram-hashed with
:func:`patito_spark.operators.dedup.shingle_hash_rows` and the overlap
resolved as a broadcast hash equi-join + per-doc count (all-JVM).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from patito_spark.operators.dedup import shingle_hash_rows, shingles


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_shared: int = 1,
    broadcast_benchmark: bool = True,
    max_broadcast_grams: int = 2_000_000,
    bloom_fpp: Optional[float] = None,
) -> DataFrame:
    """Corpus documents sharing ≥ ``min_shared`` distinct n-grams with the
    benchmark.

    Returns ``doc_id, n_shared_grams`` (one row per contaminated corpus
    document). Grams are word ``n``-grams; documents shorter than ``n``
    tokens contribute their whole text as one gram (so short exact copies
    are still caught); NULL text, on either side, contributes no grams.

    The exact answer (``bloom_fpp=None``, the default) takes one of two
    shapes, picked by the size of the benchmark's gram set:

    * up to ``max_broadcast_grams`` distinct grams — the set is collected
      once and shipped as a broadcast variable; the corpus runs ONE
      Arrow-batched ``mapInPandas`` stage intersecting each document's
      gram set in-batch. Zero shuffles, no join: the GPT-3-style
      decontamination shape (broadcast the eval set, stream the corpus).
      Exact string matching (no hash collisions at all). The all-JVM
      join below lost to it at sf1, at sf3 and on 1M documents against
      a 100k-gram benchmark (docs/perf.md).
    * past the cap (each Python worker would hold a copy of a set of a
      few hundred MB) — both sides through :func:`shingle_hash_rows`, a
      hash equi-join on the gram hash (broadcast unless
      ``broadcast_benchmark=False``), and a map-side-combined per-doc
      count.

    ``bloom_fpp`` trades exactness for memory, for a LARGE benchmark
    suite (many eval sets decontaminated at once): the benchmark's
    distinct gram hashes are folded into a packed Bloom bitset
    (:class:`patito_spark.functions.bloom.BloomBits`, ~2.4 bytes per
    gram at ``bloom_fpp=1e-4`` — vs 8+ for the join's hash broadcast,
    ~50× less than the string set), built in one distributed pass and
    broadcast once per executor; the corpus runs scan → JVM gram-hash →
    vectorized-numpy membership → one map-side-combined per-doc count.
    No false negatives (contaminated documents are never missed).
    Over-flagging is per-PROBE: expected falsely-flagged docs ≈ total
    distinct corpus grams × fpp at ``min_shared=1`` — at 1M docs × 8
    grams, 1e-4 costs ~0.08% of the corpus while 0.01 costs 8%
    (measured; size fpp to the corpus gram count, not to intuition).
    Measured at 1M docs / 100k-gram benchmark: join 3.4 s, bloom ~4.5 s
    (docs/perf.md) — the filter buys a smaller broadcast, not speed.

    The join and the Bloom filter gram-hash JVM-side through
    :func:`shingle_hash_rows` (``xxhash64``). The join's answer is the
    same under any 64-bit hash, up to collisions; which documents the
    Bloom filter over-flags depends on the hash, its contaminated
    documents do not.
    """
    if bloom_fpp is not None:
        return _bloom_contamination(
            corpus,
            benchmark,
            id_col=id_col,
            text_col=text_col,
            n=n,
            min_shared=min_shared,
            fpp=bloom_fpp,
        )
    # Distinct benchmark grams, bounded collect: an eval set is tiny by
    # definition — if it is not, fall back to the join.
    bench_grams_df = (
        benchmark.filter(F.col(text_col).isNotNull())
        .select(F.explode(shingles(text_col, n)).alias("__g"))
        .distinct()
        .limit(max_broadcast_grams + 1)
    )
    bench_pdf = bench_grams_df.toPandas()
    if len(bench_pdf) <= max_broadcast_grams:
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
                yield pd.DataFrame({id_col: ids, "n_shared_grams": counts})

        return corpus.select(id_col, text_col).mapInPandas(
            shared_counts, out_schema
        )

    # distinct=False on BOTH sides: the corpus side's repeats collapse in
    # the post-join count_distinct, and the benchmark side dedups on __h
    # alone below. The gram build itself never exchanges.
    corpus_grams = shingle_hash_rows(
        corpus, id_col=id_col, text_col=text_col, n=n, distinct=False
    )
    bench_grams = shingle_hash_rows(
        benchmark, id_col=id_col, text_col=text_col, n=n, distinct=False
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
    fpp: float,
) -> DataFrame:
    """The ``bloom_fpp`` body of :func:`ngram_contamination`.

    Both sides hash grams JVM-side (:func:`shingle_hash_rows`, the
    join's hash), so the Python stage touches
    only int64 hash columns — the membership test is pure vectorized
    numpy over Arrow batches, never per-gram string work.
    """
    import pandas as pd

    from patito_spark.functions.bloom import BloomBits

    bench_hashes = shingle_hash_rows(
        benchmark, id_col=id_col, text_col=text_col, n=n, distinct=False
    ).select("__h")
    bloom = BloomBits.build(bench_hashes, "__h", fpp=fpp)
    bc = corpus.sparkSession.sparkContext.broadcast(
        (bloom.words, bloom.m, bloom.k)
    )

    # Per-row distinct: each doc's hash stream is unique before the
    # filter, so the per-doc tally is count(*) after ONE map-side-
    # combined shuffle.
    corpus_hashes = shingle_hash_rows(
        corpus, id_col=id_col, text_col=text_col, n=n
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
