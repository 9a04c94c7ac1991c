"""Large-input smoke tests (opt-in: SPARK_GRAFT_SCALE_SMOKE=1).

Synthesizes 10M-row inputs in-memory (spark.range — no testdata writes)
and runs the shuffle-heavy operators end-to-end. Catches plans that only
work at unit-test sizes (driver collects, unbounded state, per-row Python).
"""

import os

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SCALE_SMOKE") != "1",
    reason="scale smoke is opt-in (SPARK_GRAFT_SCALE_SMOKE=1)",
)

N = 10_000_000


def test_validation_single_pass_10m(spark):
    import patito_spark as pt

    class Row(pt.Model):
        id: int = pt.Field(ge=0)
        v: float
        bucket: int = pt.Field(ge=0, le=99)

    df = spark.range(N).selectExpr(
        "id", "cast(id % 1000 as double) / 7 as v", "cast(id % 100 as int) as bucket"
    ).withColumn("bucket", F.col("bucket").cast("long"))
    Row.validate_df(df, approximate_unique=True)


def test_exact_dedup_10m(spark):
    from patito_spark.operators.dedup import dedup_exact

    df = spark.range(N).selectExpr("id % 1000000 as k", "id as payload")
    out = dedup_exact(df, subset=["k"], id_col="payload")
    assert out.count() == 1_000_000


def test_salted_aggregate_10m_hot_key(spark):
    from patito_spark.operators.skew import salted_aggregate

    # 50% of rows share one key
    df = spark.range(N).selectExpr(
        "if(id % 2 = 0, 0, id) as k", "cast(id % 13 as double) as v"
    )
    out = salted_aggregate(
        df, keys=["k"], aggs={"s": ("v", "sum"), "n": ("v", "count")},
        salt_buckets=32,
    )
    hot = out.filter("k = 0").first()
    assert hot["n"] == N // 2


def test_minhash_1m_docs(spark):
    from patito_spark.operators.dedup import minhash_lsh_candidates

    # 1M short synthetic docs, every 1000th is a duplicate of doc 0
    docs = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "if(id % 1000 = 0, 'alpha beta gamma delta epsilon zeta', "
        "concat('w', id, ' x', id + 1, ' y', id + 2, ' z', id + 3)) as text",
    )
    pairs = minhash_lsh_candidates(
        docs, num_hashes=32, bands=8, max_bucket_size=2000
    )
    # the 1000 planted duplicates form up to ~500k candidate pairs capped
    # by bucket size; just require the pipeline completes and finds some
    assert pairs.limit(1).count() == 1


def test_topk_1m_corpus(spark):
    from patito_spark.operators.similarity import cosine_topk

    corpus = spark.range(1_000_000).selectExpr(
        "id as vec_id",
        "array(cast(id % 97 as double), cast(id % 89 as double), "
        "cast(id % 83 as double), 1.0d) as embedding",
    )
    queries = corpus.filter("vec_id < 3")
    out = cosine_topk(corpus, queries, k=5)
    assert out.count() == 15


def test_asof_join_10m(spark):
    """As-of join at 10M left rows x 1M right rows: the union-window plan
    must complete without nested loops or driver materialization."""
    from patito_spark.operators.temporal import asof_join

    left = spark.range(N).selectExpr(
        "id % 100000 as k", "id as t", "id as payload"
    )
    right = spark.range(1_000_000).selectExpr(
        "id % 100000 as k", "id * 10 as t", "cast(id as double) as px"
    )
    out = asof_join(left, right, on="t", by=["k"])
    assert out.count() == N


def test_range_join_2m_points(spark):
    """Bucketed range join: 2M points x 10k intervals resolves through the
    bucket equi-join (a nested-loop cross product would be 2e10 pairs)."""
    from patito_spark.operators.temporal import range_join

    points = spark.range(2_000_000).selectExpr("id as p")
    intervals = spark.range(10_000).selectExpr(
        "id as iv_id", "id * 200 as s", "id * 200 + 100 as e"
    )
    out = range_join(points, intervals, "p", "s", "e", bucket_width=200)
    # every interval covers exactly 100 integer points
    assert out.count() == 10_000 * 100


def test_apply_changes_10m(spark):
    from patito_spark.operators.temporal import apply_changes

    changes = spark.range(N).selectExpr(
        "id % 1000000 as k",
        "id as seq",
        "concat('v', id) as v",
        "if(id % 17 = 0, 'D', 'U') as op",
    )
    out = apply_changes(None, changes, key_cols=["k"], seq_col="seq")
    n = out.count()
    assert 0 < n <= 1_000_000


def test_contamination_1m_docs(spark):
    """1M synthetic docs scanned against a 1k-doc benchmark: the overlap
    must resolve through the broadcast gram-hash join (corpus never
    shuffles on the gram)."""
    from patito_spark.operators.contamination import ngram_contamination

    corpus = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "concat('tok', id % 997, ' tok', (id + 1) % 997, ' tok', (id + 2) % 997, "
        "' tok', (id + 3) % 997, ' tok', (id + 4) % 997) as text",
    )
    benchmark = spark.range(1_000).selectExpr(
        "id + 2000000 as doc_id",
        "concat('tok', id % 997, ' tok', (id + 1) % 997, ' tok', (id + 2) % 997, "
        "' tok', (id + 3) % 997, ' tok', (id + 4) % 997) as text",
    )
    out = ngram_contamination(corpus, benchmark, n=5)
    assert out.count() > 0  # constructed overlaps exist


def test_pack_sequences_1m_docs(spark):
    """1M docs packed per-partition: the best-fit bisect lookup must keep
    partitions with many small docs from going quadratic (the first-fit
    linear scan did), and seq ids must stay globally unique."""
    from patito_spark.operators.packing import pack_sequences

    df = spark.range(1_000_000).selectExpr(
        "id as doc_id", "cast(1 + id % 97 as long) as n_tok"
    )
    packed = pack_sequences(df, length_col="n_tok", max_len=2048)
    agg = packed.agg(
        F.sum("total_tokens").alias("toks"),
        F.sum("n_docs").alias("docs"),
        F.count("*").alias("seqs"),
        F.count_distinct("seq_id").alias("uniq"),
    ).first()
    assert agg["docs"] == 1_000_000
    assert agg["uniq"] == agg["seqs"]
    # token mass conserved: sum over 0..999999 of (1 + id % 97)
    expected = 1_000_000 + sum(i % 97 for i in range(1_000_000))
    assert agg["toks"] == expected


def test_streaming_dedup_lsh_100k_docs(spark, tmp_path):
    """100k synthetic docs through the streaming near-dup path: bounded
    state (one rep per occupied bucket), no driver collects, and the
    planted duplicate cohort is flagged."""
    from patito_spark.streaming.dedup import streaming_dedup_lsh

    path = str(tmp_path / "stream_docs")
    # 1000 cohorts with fully disjoint token sets (every token carries the
    # cohort id), each repeated 100x with a distinct doc id: exactly the
    # non-first cohort members should be flagged, nothing across cohorts.
    spark.range(100_000).selectExpr(
        "id as doc_id",
        "array_join(transform(sequence(1, 12), "
        "i -> concat('w', id % 1000, 'x', i)), ' ') as text",
    ).write.parquet(path)
    stream = spark.readStream.schema("doc_id long, text string").parquet(path)
    flagged = streaming_dedup_lsh(stream, num_hashes=16, bands=4)
    q = (
        flagged.select("doc_id").writeStream.format("memory")
        .queryName("t_sdl_smoke")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    n = spark.sql("select count(distinct doc_id) as n from t_sdl_smoke").first()["n"]
    assert n == 100_000 - 1000  # everyone but the 1000 representatives


def test_bloom_contamination_1m_docs(spark):
    """1M docs vs a 100k-gram benchmark through the Bloom path — the
    regime the bitset exists for (too many grams to broadcast as a
    set comfortably). Every planted contaminated doc must be flagged."""
    from patito_spark.operators.contamination import ngram_contamination

    bench = spark.range(12_500).selectExpr(
        "id as doc_id",
        "concat_ws(' ', 'b1x', id, 'b2', id, 'b3', id, 'b4', id, "
        "'b5', id, 'b6', id, 'b7', id, 'b8') as text",
    )
    corpus = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "case when id % 100 = 0 then "
        "concat_ws(' ', 'b1x', id % 12500, 'b2', id % 12500, 'b3', "
        "id % 12500, 'b4', id % 12500, 'b5', id % 12500, 'b6', "
        "id % 12500, 'b7', id % 12500, 'b8') "
        "else concat_ws(' ', 'c1x', id, 'c2', id, 'c3', id, 'c4', id, "
        "'c5', id, 'c6', id, 'c7', id, 'c8') end as text",
    )
    out = ngram_contamination(corpus, bench, n=8, bloom_fpp=1e-4)
    assert out.count() >= 10_000  # all planted hits (FPs may add a few)


def test_semantic_dedup_100k_vectors(spark):
    """100k unit vectors, 5k planted duplicate pairs, auto cell count
    (~316 cells of ~316): the within-cell pass must stay bounded and the
    planted pairs collapse."""
    import numpy as np

    from patito_spark.operators.semdedup import semantic_dedup

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rng = np.random.RandomState(int(pdf["id"].iloc[0]) % 2**31)
            base = rng.normal(size=(len(pdf), 16))
            base /= np.linalg.norm(base, axis=1, keepdims=True)
            dup = pdf["id"].to_numpy() >= 95_000
            # ids >= 95k duplicate the vector of (id - 95k) via shared seed
            for j, (i, is_dup) in enumerate(zip(pdf["id"], dup)):
                if is_dup:
                    r2 = np.random.RandomState(int(i - 95_000))
                    v = r2.normal(size=16)
                    base[j] = v / np.linalg.norm(v)
                else:
                    r2 = np.random.RandomState(int(i))
                    v = r2.normal(size=16)
                    base[j] = v / np.linalg.norm(v)
            yield pd.DataFrame({"vec_id": pdf["id"], "embedding": list(base)})

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.range(100_000).mapInPandas(gen, schema)
    out = semantic_dedup(df, threshold=0.999, keep="min_id")
    n = out.count()
    # exact duplicates land in the same cell (identical vectors -> same
    # argmax), so all 5k collapse
    assert n == 95_000


def test_hll_rollup_10m(spark):
    from patito_spark.operators.sketch import hll_distinct_rollup

    df = spark.range(N).selectExpr(
        "cast(id % 864000 as long) as ts",          # 10 'days' of seconds
        "concat('u', cast(id % 1000000 as string)) as user",
    )
    out = hll_distinct_rollup(df, "ts", "user", widths=[3600, 86400])
    rows = out.collect()
    assert len(rows) == 240 + 10
    total = [r for r in rows if r.resolution == 86400]
    for r in total:
        assert r.distinct_est > 0


def test_paragraph_dedup_1m_docs(spark):
    from patito_spark.operators.paragraphs import dedup_paragraphs

    # 1M docs x 4 paragraphs from a 100k-paragraph pool: heavy cross-doc
    # duplication, ~4M exploded rows through the keep-first window.
    docs = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "concat_ws('\n\n',"
        " concat('para ', cast(id % 100000 as string), ' body'),"
        " concat('para ', cast((id * 7 + 1) % 100000 as string), ' body'),"
        " concat('para ', cast((id * 13 + 2) % 100000 as string), ' body'),"
        " concat('unique tail ', cast(id as string))) as text",
    )
    out = dedup_paragraphs(docs, drop_empty=True)
    # Every doc keeps at least its unique tail paragraph.
    assert out.count() == 1_000_000


def test_mix_corpora_4m_docs(spark):
    from patito_spark.operators.mixing import mix_corpora

    big = spark.range(3_000_000).selectExpr(
        "id as doc_id", "'web token text body here' as text"
    )
    small = spark.range(1_000_000).selectExpr(
        "id as doc_id", "'book words' as text"
    )
    out = mix_corpora(
        {"web": big, "books": small},
        weights={"web": 3, "books": 2},
        token_budget=9_000_000,
    )
    plan = {p["source"]: p for p in out["plan"]}
    # books target 3.6M of 2M tokens -> repeats (1 full epoch + partial);
    # web target 5.4M of 15M -> fraction 0.36. Expected docs:
    # 3M*0.36 + 1M*1.8 = ~2.88M.
    assert plan["books"]["epochs"] == 1
    n = out["mixed"].count()
    assert 2_700_000 < n < 3_100_000


def test_cross_doc_repetition_1m_docs(spark):
    from patito_spark.operators.text import cross_doc_repetition

    # 1M docs, 12 tokens each from a 50k-word pool -> every trigram
    # stream flows through the doc-frequency aggregate (~10M gram rows).
    docs = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "concat_ws(' ', transform(sequence(0, 11),"
        " i -> concat('w', cast((id * 17 + i * 7919) % 50000 as string))))"
        " as text",
    )
    out = cross_doc_repetition(docs, ngram=3)
    assert out.count() == 1_000_000


def test_update_corpus_1m_history_100k_batch(spark):
    from patito_spark.operators.incremental import update_corpus

    history = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "concat('historic doc ', id, ' alpha beta gamma delta epsilon') as text",
        "concat('https://example.com/h/', id) as url",
    )
    # 100k incoming: half are exact resubmissions of history docs (new
    # ids, same text), half genuinely new.
    incoming = spark.range(100_000).selectExpr(
        "id + 2000000 as doc_id",
        "if(id % 2 = 0,"
        " concat('historic doc ', id, ' alpha beta gamma delta epsilon'),"
        " concat('fresh doc ', id, ' zeta eta theta iota kappa')) as text",
        "concat('https://example.com/n/', id) as url",
    )
    out = update_corpus(
        history, incoming, url_col="url", neardup_threshold=None,
        within_batch_threshold=None,
    )["admitted"]
    assert out.count() == 50_000


def test_dedup_spans_1m_docs(spark):
    from patito_spark.operators.spans import dedup_spans

    # 1M docs: a per-doc-unique 5-token head (every token embeds the id,
    # so no head gram is ever shared) and, on even ids, one of 1000
    # 6-token template runs duplicated 500x each -> ~6M gram rows through
    # the count+rank window, ~499k docs cut.
    docs = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "concat("
        " 'a', id, ' b', id, ' c', id, ' d', id, ' e', id,"
        " if(id % 2 = 0,"
        "  concat(' template run number ', cast((id div 2) % 1000 as string),"
        "         ' shared verbatim'),"
        "  '')) as text",
    )
    out = dedup_spans(docs, span_tokens=6)
    # Nothing is dropped (every doc keeps its unique head), and exactly
    # the non-first copies of each of the 1000 templates lose their run.
    assert out.count() == 1_000_000
    kept = out.filter(F.col("text").contains("template run")).count()
    assert kept == 1000


def test_conversation_prep_1m(spark):
    from patito_spark.operators.conversations import (
        dedup_conversations,
        filter_conversations,
        render_conversations,
    )

    # 1M two-turn conversations; 20% are formatting variants of a 100k
    # template pool (dup under normalization), the rest unique.
    convs = spark.range(1_000_000).selectExpr(
        "id as conv_id",
        "array("
        " named_struct('role', 'user', 'content',"
        "   concat('question number ', cast(if(id % 5 = 0, id % 100000, id) as string))),"
        " named_struct('role', 'assistant', 'content',"
        "   concat(if(id % 10 = 0, 'ANSWER BODY ', 'answer body '),"
        "          cast(if(id % 5 = 0, id % 100000, id) as string)))"
        ") as messages",
    )
    gated = filter_conversations(convs)
    assert gated.count() == 1_000_000
    deduped = dedup_conversations(gated)
    # Map-only gate + one hash aggregate for the dedup; uniqueness holds.
    n = deduped.count()
    assert n < 1_000_000
    assert deduped.select("conv_id").distinct().count() == n
    rendered = render_conversations(deduped)
    assert rendered.filter(F.length("text") > 0).count() == n


def test_training_shards_1m_docs(spark, tmp_path):
    from patito_spark.sources import write_training_shards

    docs = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "concat_ws(' ', transform(sequence(1, cast(id % 50 + 5 as int)),"
        " i -> concat('t', i))) as text",
    )
    info = write_training_shards(
        docs, str(tmp_path / "shards"),
        target_tokens_per_shard=1_000_000, mode="overwrite",
    )
    sizes = [r["n_tokens"] for r in info["manifest"]]
    assert sum(r["n_docs"] for r in info["manifest"]) == 1_000_000
    mean = sum(sizes) / len(sizes)
    # ~30 shards of ~34k docs each: hash balance concentrates tightly.
    assert all(0.9 * mean < s < 1.1 * mean for s in sizes)


def test_quantile_bins_10m(spark):
    from patito_spark.operators.sampling import quantile_bins

    df = spark.range(N).selectExpr(
        "id", "cast(pmod(id * 2654435761, 1000003) as double) as score"
    )
    out = quantile_bins(df, "score", n_bins=10)
    sizes = [
        r["count"] for r in out.groupBy("bin").count().collect()
    ]
    assert len(sizes) == 10
    mean = sum(sizes) / 10
    # GK sketch at 0.001 relative error: every decile within 2%.
    assert all(0.98 * mean < s < 1.02 * mean for s in sizes)


def test_scrub_spans_1m_docs(spark):
    from patito_spark.operators.spans import scrub_spans

    # 1M docs with unique heads; 10% quote one of 200 benchmark items
    # verbatim. The benchmark gram set broadcasts; exactly the quoting
    # docs lose exactly the quoted run.
    bench = spark.range(200).selectExpr(
        "concat('eval question ', id, ' with answer ', id, ' inside') as text"
    )
    docs = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "concat("
        " 'h', id, ' i', id, ' j', id,"
        " if(id % 10 = 0,"
        "  concat(' eval question ', cast(id % 200 as string),"
        "         ' with answer ', cast(id % 200 as string), ' inside'),"
        "  '')) as text",
    )
    out = scrub_spans(docs, bench, span_tokens=4)
    assert out.count() == 1_000_000  # unique heads always survive
    leaked = out.filter(F.col("text").contains("eval question")).count()
    assert leaked == 0  # every quoted copy cut, no exemptions


def test_dsir_sample_1m_docs(spark):
    from patito_spark.operators.selection import dsir_sample

    # 1M raw docs, half code-flavored / half prose-flavored; target is
    # a 2k code-flavored corpus. Hashed-bigram feature mode: the LM
    # vocab is capped at ngram_buckets regardless of corpus size, so
    # both LMs broadcast. Selection must skew hard toward code docs.
    raw = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "if(id % 2 = 0,"
        " concat('def func return class import value ', id),"
        " concat('the weather was lovely yesterday evening ', id)) as text",
    )
    target = spark.range(2_000).selectExpr(
        "id as doc_id",
        "concat('def func return class import lambda yield ', id) as text",
    )
    out = dsir_sample(
        raw, target, fraction=0.2, temperature=0.5,
        features="hashed", ngram_buckets=10_000,
    )
    kept = out.groupBy((F.col("doc_id") % 2).alias("flavor")).count()
    by = {r["flavor"]: r["count"] for r in kept.collect()}
    n_code, n_prose = by.get(0, 0), by.get(1, 0)
    total = n_code + n_prose
    assert 100_000 < total < 350_000  # ~20% after weight truncation
    assert n_code > 5 * max(n_prose, 1)  # strongly target-skewed


def test_cap_per_group_10m_hot_domain(spark):
    from patito_spark.operators.sampling import cap_per_group

    # 50% of the corpus is ONE domain. The partial WindowGroupLimit
    # must keep the hot group's shuffle input at K rows per input
    # partition — without it this is a 5M-row single-partition sort.
    df = spark.range(N).selectExpr(
        "if(id % 2 = 0, 0, 1 + pmod(id div 2, 1000)) as domain", "id"
    )
    out = cap_per_group(df, "domain", 1000, key_col="id")
    sizes = out.groupBy("domain").count()
    hot = sizes.filter("domain = 0").first()["count"]
    assert hot == 1000
    assert sizes.filter("count > 1000").count() == 0
    assert out.count() == 1001 * 1000  # 1001 domains, all capped at 1000


def test_bigram_logloss_1m_docs(spark):
    from patito_spark.operators.text import bigram_logloss

    # 1M docs over a closed 1k-word vocabulary: bigram table stays
    # broadcastable, scoring is the positioned-pair explode + three
    # broadcast joins + per-doc aggregate.
    df = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "concat('w', id % 1000, ' w', (id + 1) % 1000, ' w', (id + 2) % 1000,"
        " ' w', (id * 7) % 1000, ' w', (id * 13) % 1000) as text",
    )
    out = bigram_logloss(df)
    agg = out.agg(
        F.count("*").alias("n"), F.min("cross_entropy").alias("lo"),
        F.max("cross_entropy").alias("hi"),
    ).first()
    assert agg["n"] == 1_000_000
    assert 0 < agg["lo"] <= agg["hi"] < 50


def test_dedup_spans_hot_gram_50pct(spark):
    """50% of a 1M-doc corpus opens with the same 11-token sentence: each
    shared 5-gram occurs 500k times. The mergeable min/count aggregate
    collapses the hot grams map-side; the old row_number window had to
    sort each 500k-row gram key inside one unsplittable task."""
    from patito_spark.operators.spans import duplicate_span_intervals

    docs = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "case when id % 2 = 0 then concat("
        "'the quick brown fox jumps over the lazy dog again and ',"
        " cast(id as string), ' unique tail words')"
        " else concat('unique text body number ', cast(id as string),"
        " ' tail words here now') end as text",
    )
    out = duplicate_span_intervals(docs, span_tokens=5)
    # every even doc except the first-occurrence one gets one merged
    # interval over the shared prefix
    assert out.count() == 499_999


def test_dedup_paragraphs_hot_paragraph_50pct(spark):
    """One boilerplate paragraph shared by 50% of 2M docs (the 'Share
    this post' shape): keep-first collapses it map-side to one row per
    task before the exchange."""
    from patito_spark.operators.paragraphs import dedup_paragraphs

    docs = spark.range(2_000_000).selectExpr(
        "id as doc_id",
        "case when id % 2 = 0 then concat("
        "'Share this post on social media', '\n\n',"
        " 'unique ', cast(id as string))"
        " else concat('unique body ', cast(id as string)) end as text",
    )
    out = dedup_paragraphs(docs, drop_empty=True)
    # every doc keeps its unique paragraph; only doc 0 keeps the shared one
    assert out.count() == 2_000_000


def test_dedup_urls_hot_canonical_50pct(spark):
    """50% of 2M fetch records hit one canonical URL: min_id keep is a
    mergeable min-struct aggregate, so the hot key combines map-side."""
    from patito_spark.operators.urls import dedup_urls

    df = spark.range(2_000_000).selectExpr(
        "id as doc_id",
        "case when id % 2 = 0 then 'https://example.com/hot'"
        " else concat('https://example.com/p/', cast(id as string))"
        " end as url",
    )
    out = dedup_urls(df, keep="min_id")
    assert out.count() == 1_000_001
    hot = out.filter(F.col("url") == "https://example.com/hot").collect()
    assert [r.doc_id for r in hot] == [0]


def test_paragraph_passes_hot_paragraph_50pct(spark):
    """The fused dual-pass under the same 50%-hot-paragraph skew as the
    single-mode smokes: the (para_key, id) first-level exchange splits
    the hot key across doc ids, the second level sees one row per
    (key, doc)."""
    from patito_spark.operators.paragraphs import paragraph_passes

    docs = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "case when id % 2 = 0 then concat("
        "'Share this post on social media', '\n\n',"
        " 'unique ', cast(id as string))"
        " else concat('unique body ', cast(id as string)) end as text",
    )
    out = paragraph_passes(docs, min_docs=3)
    by_mode = {r["mode"]: r["n"] for r in
               out.groupBy("mode").agg(F.count("*").alias("n")).collect()}
    # dedup: every doc keeps its unique paragraph (doc 0 also keeps the
    # shared one); boiler: the shared paragraph is scrubbed everywhere
    # but every doc still has its unique paragraph
    assert by_mode == {"dedup": 1_000_000, "boiler": 1_000_000}


def test_ivfadc_1m_vectors(spark):
    """Encode + route + ADC-search 1M synthetic vectors: the corpus-wide
    stages are one assignment pass and one encode pass (both map-only
    Arrow); search reads only probed cells' codes. Self-queries must
    find themselves at rank 1 (their own code is their nearest by
    construction of a deterministic corpus)."""
    from patito_spark.operators.quantize import (
        ann_ivfadc_topk,
        build_ivfadc_index,
    )

    dims = [
        ((F.hash(F.col("id") * (i + 1)) % 1000) / 250.0).cast("double")
        for i in range(8)
    ]
    emb = spark.range(1_000_000).select(
        F.col("id").alias("vec_id"), F.array(*dims).alias("embedding")
    )
    idx = build_ivfadc_index(
        emb, m=4, nbits=8, n_centroids=64, max_train_vectors=20_000
    )
    try:
        queries = emb.filter(F.col("vec_id") % 100_000 == 7)  # 10 queries
        out = ann_ivfadc_topk(idx, queries, k=3, n_probe=8)
        rows = sorted(
            (r.query_id, r.rank, r.neighbor_id, r.score)
            for r in out.collect()
        )
        assert len(rows) == 30
        # scores descend within each query; ranks are 1..3
        by_q: dict = {}
        for q, rank, nid, score in rows:
            by_q.setdefault(q, []).append((rank, score))
        for q, rs in by_q.items():
            assert [r for r, _ in rs] == [1, 2, 3]
            assert rs[0][1] >= rs[1][1] >= rs[2][1]
        # the hash corpus is deterministic -> the whole search replays
        # bit-identically (routing, LUTs, tie-breaks)
        rows2 = sorted(
            (r.query_id, r.rank, r.neighbor_id, r.score)
            for r in ann_ivfadc_topk(idx, queries, k=3, n_probe=8).collect()
        )
        assert rows2 == rows
    finally:
        idx.unpersist()


def test_hamming_pairs_1m_half_degenerate(spark):
    """The blank-image case: 50% of 1M signatures are ONE value. The
    distinct-signature collapse turns the hot group into a single row
    before any join; star expansion keeps the output linear (the full
    contract would be 125B pairs — inherently unmaterializable)."""
    from patito_spark.functions.cache import release_caches
    from patito_spark.operators.dedup import hamming_pairs

    sigs = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        # xxhash64, not hash(): the 32-bit murmur leaves the top 32
        # bits constant, which manufactures ~150k REAL near pairs
        "if(id % 2 = 0, 42L, xxhash64(id)) as sig",
    )
    try:
        out = hamming_pairs(
            sigs, id_col="doc_id", sig_col="sig",
            max_hamming=3, chunks=8, expand="star",
        )
        n = out.count()
    finally:
        release_caches()
    # 500k-member degenerate group -> 499,999 star edges; random 64-bit
    # hashes land within hamming 3 of each other with p ~ 2e-15, so at
    # most a handful of extra near edges.
    assert 499_999 <= n <= 500_100


def test_image_dedup_pairs_200k_half_blank(spark):
    """pHash path end-to-end at its degenerate worst: 200k blobs, half
    byte-identical (one pHash). Star mode completes and stays linear."""
    from patito_spark.functions.cache import release_caches
    from patito_spark.operators.multimodal import image_dedup_pairs

    blobs = spark.range(200_000).selectExpr(
        "id as doc_id",
        "if(id % 2 = 0, cast('blank' as binary), "
        "cast(concat('img', id) as binary)) as blob",
    )
    try:
        out = image_dedup_pairs(blobs, expand="star")
        n = out.count()
    finally:
        release_caches()
    assert n >= 99_999  # the blank group's star edges
    assert n <= 101_000  # fake-pHash collisions are ~random beyond it


def test_arpa_logloss_1m_docs(spark, tmp_path):
    """Pretrained-.arpa scoring at 1M synthetic docs: the distinct
    (h.., w) tuple aggregate, broadcast model lookups and the
    null-safe corpus join complete without driver-side blowups; every
    doc scores finite."""
    from patito_spark.operators.arpa import arpa_logloss, load_arpa

    arpa = tmp_path / "smoke.arpa"
    lines = ["\\data\\", "ngram 1=52", "ngram 2=3", "", "\\1-grams:"]
    lines.append("-2.5\t<unk>")
    lines.append("-0.5\t<s>\t-0.2")
    for i in range(50):
        lines.append(f"-1.{i % 9}\tw{i}\t-0.1")
    lines += ["", "\\2-grams:", "-0.3\t<s> w0", "-0.4\tw0 w1",
              "-0.5\tw1 w2", "", "\\end\\"]
    arpa.write_text("\n".join(lines) + "\n")
    lm = load_arpa(spark, str(arpa))

    docs = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "concat('w', id % 64, ' w', (id + 1) % 64, ' w', (id + 2) % 64,"
        " ' w', (id * 7) % 64, ' w', (id * 11) % 64) as text",
    )
    out = arpa_logloss(docs, lm, order=2)
    agg = out.agg(
        F.count("*").alias("n"),
        F.min("arpa_ce").alias("lo"),
        F.max("arpa_ce").alias("hi"),
    ).first()
    assert agg["n"] == 1_000_000
    assert 0.0 < agg["lo"] <= agg["hi"] < 50.0
    lm.unpersist()


def test_trigram_fused_1m_docs(spark):
    """lm_quality_scores(trigram=True) at 1M docs: the triple-table
    base aggregate, the derived pair table and the triple-keyed score
    join complete with finite scores (the round-13 fused shape's big
    aggregate is the triple table — this is its blow-up guard)."""
    from patito_spark.operators.text import lm_quality_scores

    docs = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "concat('w', id % 97, ' w', (id + 1) % 97, ' w', (id * 3) % 97,"
        " ' w', (id * 7) % 97, ' w', (id * 11) % 97) as text",
    )
    out = lm_quality_scores(docs, kneser_ney=True, trigram=True)
    agg = out.agg(
        F.count("*").alias("n"),
        F.min("trigram_ce").alias("lo"),
        F.max("trigram_ce").alias("hi"),
    ).first()
    assert agg["n"] == 1_000_000
    assert 0.0 < agg["lo"] <= agg["hi"] < 50.0


def test_winnow_pairs_200k_boilerplate_half(spark):
    """winnow_pairs at its degenerate worst: 200k docs where HALF share
    one boilerplate sentence. The shared fingerprints land in a bucket
    of ~100k members — the count guard must drop it BEFORE pairing
    (an unguarded self-join would face ~5B candidate rows) while the
    planted unique near-dup pair still surfaces."""
    from patito_spark.functions.cache import release_caches
    from patito_spark.operators.winnow import winnow_pairs

    boiler = "all rights reserved contact the site administrator today"
    docs = spark.range(200_000).selectExpr(
        "id as doc_id",
        f"if(id % 2 = 0, concat('doc ', id, ' opening words then "
        f"{boiler} and unique tail ', id * 7), "
        f"concat('free text body ', id, ' with its own run of tokens "
        f"number ', id * 13, ' extended'))  as text",
    )
    # plant one true partial-overlap pair OUTSIDE the boilerplate set
    quote = "a very specific quoted passage repeated in exactly two docs"
    planted = spark.createDataFrame(
        [
            (900_001, "first holder of " + quote + " with extra prose"),
            (900_002, "second place where " + quote + " appears too"),
        ],
        "doc_id long, text string",
    )
    try:
        out = winnow_pairs(
            docs.unionByName(planted), min_shared=2,
            max_bucket_size=1000,
        )
        pairs = {
            (r.id_a, r.id_b)
            for r in out.filter("id_a >= 900000").collect()
        }
    finally:
        release_caches()
    assert (900_001, 900_002) in pairs


def test_gopher_repetition_rules_200k_docs(spark):
    """The Table-A2 battery at 200k synthetic docs: doc-local Counter
    + span-marking work stays an Arrow map (no shuffle before the
    count), throughput sane, spammy docs gate out."""
    from patito_spark.operators.heuristics import gopher_repetition_rules

    docs = spark.range(200_000).selectExpr(
        "id as doc_id",
        "if(id % 10 = 0,"
        " concat_ws(' ', transform(sequence(1, 40),"
        "   i -> 'buy cheap pills now')),"
        " concat_ws(' ', transform(sequence(1, 40),"
        "   i -> concat('w', (id + i * 7) % 9973)))) as text",
    )
    out = gopher_repetition_rules(docs)
    agg = out.agg(
        F.count("*").alias("n"),
        F.sum(F.col("pass_repetition").cast("int")).alias("passed"),
    ).first()
    assert agg["n"] == 200_000
    # the 10% stuffed docs fail, the fresh ones pass
    assert 175_000 <= agg["passed"] <= 185_000


def test_arrow_portable_lanes_1m_docs(spark):
    """The round-15 map-only Arrow lanes stay memory-bounded and
    map-only at 1M docs: per-batch state is bounded by Arrow batch
    size regardless of corpus size."""
    from pyspark.sql import functions as F

    from patito_spark.operators.dedup import (
        minhash_dedup_pairs,
        simhash_signatures,
    )

    docs = spark.range(1_000_000).selectExpr(
        "id as doc_id",
        "if(id % 1000 = 0, 'alpha beta gamma delta epsilon zeta', "
        "concat('w', id % 5000, ' x', id % 7000, ' y', id + 2)) as text",
    )
    sigs = simhash_signatures(docs)
    assert sigs.count() == 1_000_000
    pairs = minhash_dedup_pairs(
        docs, threshold=0.9,
        num_hashes=32, bands=8, max_bucket_size=2000,
        broadcast_verify_max_docs=2_000_000,
    )
    assert pairs.limit(1).count() == 1
