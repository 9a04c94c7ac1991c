"""BloomBits filter + the bloom contamination strategy.

The no-false-negative property is exact (every inserted hash sets its k
bits, every probe of an inserted hash finds them), so it is asserted
absolutely; the false-positive rate is statistical and asserted against
a 3× slack on the configured fpp.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from patito_spark.functions.bloom import BloomBits
from patito_spark.operators.contamination import ngram_contamination


@pytest.fixture(scope="module")
def hashes(spark):
    n = 20_000
    df = spark.range(n).select(
        F.xxhash64(F.col("id").cast("string")).alias("h")
    )
    member = np.array([r.h for r in df.collect()], dtype=np.int64)
    non = np.array(
        [
            r.h
            for r in spark.range(n, 2 * n)
            .select(F.xxhash64(F.col("id").cast("string")).alias("h"))
            .collect()
        ],
        dtype=np.int64,
    )
    return df, member, non


def test_no_false_negatives(hashes):
    df, member, _ = hashes
    bloom = BloomBits.build(df, "h", fpp=0.01)
    assert bloom.contains(member).all()


def test_fp_rate_near_configured(hashes):
    df, _, non = hashes
    for fpp in (0.05, 0.01):
        bloom = BloomBits.build(df, "h", n_items=len(non), fpp=fpp)
        rate = bloom.contains(non).mean()
        assert rate <= 3 * fpp, (fpp, rate)
        # and the filter is not degenerate (rejects most non-members)
        assert rate < 0.5


def test_geometry_bits_per_item():
    m, k = BloomBits.geometry(1_000_000, 0.01)
    assert 9 <= m / 1_000_000 <= 10.5  # ~9.6 bits/item at 1%
    assert k in (6, 7)


def test_oversize_raises(hashes):
    df, _, _ = hashes
    with pytest.raises(ValueError, match="max_bits"):
        BloomBits.build(df, "h", n_items=10**9, fpp=0.01, max_bits=1 << 20)


def test_partition_partials_merge(spark):
    """The OR of per-partition partials equals a single-partition build."""
    df = spark.range(5_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("h")
    )
    many = BloomBits.build(df.repartition(16), "h", n_items=5_000, fpp=0.02)
    one = BloomBits.build(df.coalesce(1), "h", n_items=5_000, fpp=0.02)
    assert np.array_equal(many.words, one.words)


def test_build_is_distributed_o1_to_driver(spark):
    """BloomBits.build must not collect per-partition bitsets: the
    driver receives ONE tree-reduced array. DataFrame.collect is the
    per-partition-collect code path — patch it to explode; the
    treeReduce path never touches it (n_items passed so the
    cardinality count is skipped too)."""
    from unittest import mock

    from pyspark.sql import DataFrame

    df = spark.range(2_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("h")
    )
    with mock.patch.object(
        DataFrame,
        "collect",
        side_effect=AssertionError("BloomBits.build collected a DataFrame"),
    ):
        bits = BloomBits.build(
            df.repartition(16), "h", n_items=2_000, fpp=0.02,
            distinct=False,
        )
    assert bits.n_items == 2_000 and bits.words.any()


def test_build_empty_input_zero_bitset(spark):
    df = spark.range(0).select(
        F.xxhash64(F.col("id").cast("string")).alias("h")
    )
    bits = BloomBits.build(df, "h", n_items=10, fpp=0.02)
    assert not bits.words.any()


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "completely unrelated text with no overlap at all"),
            (102, "quick brown fox jumps over and over again today"),
            (103, "short doc"),
        ],
        "doc_id long, text string",
    )


@pytest.fixture()
def bench_docs(spark):
    return spark.createDataFrame(
        [(1, "the quick brown fox jumps over a fence")],
        "doc_id long, text string",
    )


def test_bloom_strategy_matches_exact(corpus, bench_docs):
    """At this scale FPs are ~impossible (9.6 bits/gram, 7 grams), so the
    bloom result must equal the exact answer exactly."""
    exact = ngram_contamination(corpus, bench_docs, n=5)
    bloom = ngram_contamination(corpus, bench_docs, n=5, bloom_fpp=1e-4)
    as_map = lambda d: {r.doc_id: r.n_shared_grams for r in d.collect()}
    assert as_map(bloom) == as_map(exact)


def test_bloom_min_shared_and_short_doc(corpus, bench_docs, spark):
    out = ngram_contamination(
        corpus, bench_docs, n=5, min_shared=2, bloom_fpp=1e-4
    )
    assert {r.doc_id for r in out.collect()} == {100}

    tiny_c = spark.createDataFrame([(1, "tiny doc")], "doc_id long, text string")
    tiny_b = spark.createDataFrame([(2, "tiny doc")], "doc_id long, text string")
    assert ngram_contamination(tiny_c, tiny_b, n=8, bloom_fpp=1e-4).count() == 1


def test_bloom_no_missed_contamination_at_scale(spark):
    """1000 corpus docs, 200 of them contaminated (share one 8-gram with
    the benchmark): every contaminated doc is flagged — the guarantee
    decontamination actually needs."""
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    corpus = spark.range(1000).selectExpr(
        "id as doc_id",
        "case when id % 5 = 0 then "
        "concat('x', id, ' alpha beta gamma delta epsilon zeta eta theta y', id) "
        "else concat_ws(' ', 'w1x', id, 'w2', id, 'w3', id, 'w4', id, "
        "'w5', id, 'w6', id, 'w7', id, 'w8', id, 'w9') end as text",
    )
    out = ngram_contamination(corpus, bench, n=8, bloom_fpp=1e-4)
    flagged = {r.doc_id for r in out.collect()}
    assert set(range(0, 1000, 5)) <= flagged
