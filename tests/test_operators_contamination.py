"""ngram_contamination vs hand-checked overlaps."""

import pytest
from pyspark.sql import functions as F

from patito_spark.operators.contamination import ngram_contamination


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # contains benchmark 5-gram
            (101, "completely unrelated text with no overlap at all"),
            (102, "quick brown fox jumps over and over again today"),  # shares as well
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


def test_contamination_detects_shared_grams(corpus, bench_docs):
    out = ngram_contamination(corpus, bench_docs, n=5)
    got = {r["doc_id"]: r["n_shared_grams"] for r in out.collect()}
    # benchmark 5-grams: 'the quick brown fox jumps', 'quick brown fox jumps over', ...
    assert 100 in got and got[100] >= 2
    assert 102 in got and got[102] >= 1  # 'quick brown fox jumps over'
    assert 101 not in got
    assert 103 not in got


def test_contamination_min_shared(corpus, bench_docs):
    out = ngram_contamination(corpus, bench_docs, n=5, min_shared=2)
    got = {r["doc_id"] for r in out.collect()}
    assert 100 in got
    assert 102 not in got  # only one shared 5-gram


def test_contamination_short_doc_whole_text(spark):
    corpus = spark.createDataFrame([(1, "tiny doc")], "doc_id long, text string")
    benchmark = spark.createDataFrame([(2, "tiny doc")], "doc_id long, text string")
    out = ngram_contamination(corpus, benchmark, n=8)
    assert out.count() == 1  # whole-text fallback catches short exact copies


def test_contamination_plan_broadcasts_benchmark(corpus, bench_docs):
    # past the set cap the benchmark's gram hashes are broadcast
    out = ngram_contamination(corpus, bench_docs, n=5, max_broadcast_grams=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# The broadcast set (default), the join past the set cap, and the Bloom
# filter (no false positive is possible at this size).
SHAPES = {
    "set": {},
    "join": {"max_broadcast_grams": 0},
    "bloom": {"bloom_fpp": 1e-4},
}


def test_contamination_strategies_agree(corpus, bench_docs):
    """The set, the join fallback and the Bloom filter must all agree."""
    results = [
        {
            r["doc_id"]: r["n_shared_grams"]
            for r in ngram_contamination(
                corpus, bench_docs, n=5, **kwargs
            ).collect()
        }
        for kwargs in SHAPES.values()
    ]
    assert results[0] == results[1] == results[2], results


@pytest.mark.parametrize("strategy", sorted(SHAPES))
def test_contamination_null_text_contributes_no_grams(spark, strategy):
    """NULL text is neither a crash (set) nor the "" gram (bloom): it
    contributes no grams on either side, so only doc 11 is flagged."""
    corpus = spark.createDataFrame(
        [(10, None), (11, "p q r s")], "doc_id long, text string"
    )
    benchmark = spark.createDataFrame(
        [(1, "p q r"), (2, ""), (3, None)], "doc_id long, text string"
    )
    out = ngram_contamination(corpus, benchmark, n=3, **SHAPES[strategy])
    assert sorted(tuple(r) for r in out.collect()) == [(11, 1)]


def test_contamination_set_strategy_no_shuffle(corpus, bench_docs):
    """Under the set cap the corpus plan is a single map-only Arrow stage —
    no Exchange, no join, nothing but scan → mapInPandas."""
    out = ngram_contamination(corpus, bench_docs, n=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_contamination_set_strategy_cap(corpus, bench_docs):
    """Past the set cap the answer falls back to the join shape and is
    unchanged."""
    out = ngram_contamination(corpus, bench_docs, n=5, max_broadcast_grams=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # fell back to the join
    got = {r["doc_id"]: r["n_shared_grams"] for r in out.collect()}
    want = {
        r["doc_id"]: r["n_shared_grams"]
        for r in ngram_contamination(corpus, bench_docs, n=5).collect()
    }
    assert got == want
