"""Plan-shape assertions: pushdown, pruning, broadcast — the scale contract."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from patito_spark.plans import (
    executed_plan,
    has_broadcast_join,
    has_whole_stage_codegen,
    pushed_filters,
    read_schema_columns,
    scan_count,
)


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    df = entry_mod.q6_forecast_revenue(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed


def test_q6_column_pruning(spark, sf_dir):
    df = entry_mod.q6_forecast_revenue(spark, sf_dir)
    cols = read_schema_columns(df)
    # only the four needed columns are read, not all 11
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_q1_column_pruning(spark, sf_dir):
    df = entry_mod.q1_pricing_summary(spark, sf_dir)
    cols = read_schema_columns(df)
    assert "l_orderkey" not in cols
    assert "l_partkey" not in cols


def test_q5_broadcasts_dims(spark, sf_dir):
    df = entry_mod.q5_local_supplier(spark, sf_dir)
    assert has_broadcast_join(df)


def test_rel_join_broadcasts(spark, sf_dir):
    df = entry_mod.rel_join(spark, sf_dir)
    assert has_broadcast_join(df)


def test_rel_filter_pushdown_through_relation_layer(spark, sf_dir):
    df = entry_mod.rel_filter(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_discount" in pushed
    assert "l_returnflag" in pushed


def test_validated_read_prunes(spark, sf_dir):
    # model-driven read prunes the scan to the model's columns
    from pyspark.sql import types as T

    import patito_spark as pt
    from patito_spark.sources.readers import read_parquet

    class TwoCols(pt.Model):
        l_orderkey: int
        l_quantity: float

    df = read_parquet(f"{sf_dir}/lineitem.parquet", model=TwoCols, spark=spark)
    cols = read_schema_columns(df.inner)
    assert cols == {"l_orderkey", "l_quantity"}


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    df = entry_mod.q1_pricing_summary(spark, sf_dir)
    assert has_whole_stage_codegen(df)


def test_validation_is_single_scan(spark, sf_dir):
    """All row-level checks must collapse into ONE pass over the input.

    (Reference runs ~5 polars passes per column; at 100 TB each extra pass
    is a full scan. We assert the aggregate the validator builds reads the
    source exactly once.)
    """
    import patito_spark as pt
    from patito_spark.validators import _check_aggregate

    class Nation(pt.Model):
        n_nationkey: int = pt.Field(unique=True, ge=0)
        n_name: str = pt.Field(min_length=1, constraints="_ <> 'x'")
        n_regionkey: int = pt.Field(ge=0, le=4)

    df = spark.read.parquet(f"{sf_dir}/nation.parquet")
    df = df.select(
        F.col("n_nationkey").cast("long"),
        "n_name",
        F.col("n_regionkey").cast("long"),
    )
    checks, keys = _check_aggregate(df, Nation)
    assert {kind for kind, _ in keys} == {
        "nulls", "bounds", "unique", "constraints",
    }
    assert scan_count(checks) == 1
    # and the real validator passes cleanly on the real table
    Nation.validate_df(df)


def test_rel_pipeline_pushdown_through_chain(spark, sf_dir):
    """Pushed filters survive the four-method Relation chain
    (filter -> case -> select -> aggregate compiled to one plan)."""
    df = entry_mod.rel_pipeline(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "c_acctbal" in pushed


def test_dedup_semantic_no_cross_product(spark, sf_dir):
    """SemDeDup's in-cell scoring is a (cell, block, block) equi-join
    over the inverted file — never a corpus cross product."""
    df = entry_mod.dedup_semantic(spark, sf_dir)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_filter_corpus_maponly_gates_no_shuffle(spark, sf_dir):
    """With both repetition gates off, the whole quality gate stack is a
    filtered projection of the scan — zero exchanges."""
    from patito_spark.operators.text import filter_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gated = filter_corpus(
        docs, min_quality=0.2, languages=["en", "de"],
        min_tokens=5, max_tokens=500,
    )
    assert "Exchange" not in executed_plan(gated)


def test_keep_first_is_mergeable_aggregate_not_window(spark):
    """The keep-first family (spans/paragraphs/urls) must plan as a
    PARTIAL (map-side combined) aggregate before the exchange — never a
    row_number window over the content key. A window partition cannot be
    split, so a web-ubiquitous gram/paragraph/URL (10^8 occurrences at
    100 TB) would sort inside one straggler task; the partial min/count
    aggregate collapses it to one row per map task instead."""
    from patito_spark.operators.paragraphs import dedup_paragraphs
    from patito_spark.operators.spans import duplicate_span_intervals
    from patito_spark.operators.urls import dedup_urls

    docs = spark.range(64).selectExpr(
        "id as doc_id",
        "concat('tok a b c d e f g h i j ', cast(id % 4 as string)) as text",
    )
    spans_plan = executed_plan(duplicate_span_intervals(docs, span_tokens=3))
    assert "partial_min" in spans_plan and "partial_count" in spans_plan
    assert "row_number" not in spans_plan

    paras = spark.range(64).selectExpr(
        "id as doc_id",
        "concat('shared para\\n\\nuniq ', cast(id as string)) as text",
    )
    para_plan = executed_plan(dedup_paragraphs(paras))
    assert "partial_min" in para_plan
    assert "row_number" not in para_plan

    urls = spark.range(64).selectExpr(
        "id as doc_id",
        "concat('https://Example.com/p?id=', cast(id % 8 as string)) as url",
    )
    url_plan = executed_plan(dedup_urls(urls, keep="min_id"))
    assert "partial_min" in url_plan
    assert "row_number" not in url_plan


def test_cross_doc_repetition_mergeable_doc_frequency(spark):
    """Gram doc-frequency is a map-side combined count (partial_count
    before the exchange), not a count() window over the gram hash."""
    from patito_spark.operators.text import cross_doc_repetition

    docs = spark.range(64).selectExpr(
        "id as doc_id", "'w1 w2 w3 w4 w5' as text"
    )
    plan = executed_plan(cross_doc_repetition(docs, ngram=3))
    assert "partial_count" in plan
    assert "windowspecdefinition(__h" not in plan


def test_rank_limited_windows_plan_partial_window_group_limit(spark):
    """dedup_exact (rn == 1) and kmv_distinct (rn <= k) keep their
    windows ONLY because Spark plans a Partial WindowGroupLimit before
    the exchange — each map partition forwards at most k rows per key,
    so hot keys collapse map-side. If a Spark upgrade ever stops
    planning the partial limit, these operators join the keep-first
    anti-pattern and need the min-struct-aggregate treatment. The inputs
    have 4 splits at any core count: one split plans no exchange, and so no
    partial limit."""
    from patito_spark.operators.dedup import dedup_exact
    from patito_spark.operators.sketch import kmv_distinct

    df = spark.range(0, 10_000, 1, 4).selectExpr(
        "concat('l', id % 5) as lang",
        "concat('s', id % 7) as source",
        "id as doc_id",
    )
    p1 = executed_plan(dedup_exact(df, subset=["lang", "source"], id_col="doc_id"))
    assert "WindowGroupLimit" in p1 and "Partial" in p1

    ev = spark.range(0, 10_000, 1, 4).selectExpr(
        "concat('t', id % 3) as event_type",
        "concat('u', id % 1000) as user_id",
    )
    p2 = executed_plan(kmv_distinct(ev, "user_id", group_cols=["event_type"], k=32))
    assert "WindowGroupLimit" in p2 and "Partial" in p2


def test_adc_topk_plan_partial_window_group_limit(spark):
    """pq_adc_topk / ann_ivfadc_topk end in row_number <= k over
    partitionBy(query_id). The per-batch local top-k already bounds the
    window input to k x |queries| x n_batches rows, but a single hot
    query with many batches still funnels to one task UNLESS Spark
    plans the Partial WindowGroupLimit before the exchange — each map
    task then forwards at most k rows per query_id, so the reduce-side
    window sees <= k x n_tasks rows per query no matter how many
    batches scored it. Pin that plan shape for both ADC rankers (on a
    4-split input, so a single-core session plans the exchange too)."""
    from patito_spark.operators.quantize import (
        build_ivfadc_index,
        ann_ivfadc_topk,
        fit_pq,
        pq_adc_topk,
        pq_encode,
    )

    emb = spark.range(0, 256, 1, 4).selectExpr(
        "id as vec_id",
        "array(cast(id % 7 as double), cast(id % 5 as double), "
        "cast(id % 3 as double), cast(id % 11 as double)) as embedding",
    )
    qs = emb.limit(3)

    pq = fit_pq(emb, m=2, nbits=4, n_rows=256, dim=4)
    codes = pq_encode(emb, pq)
    p1 = executed_plan(pq_adc_topk(codes, qs, pq, k=5, id_col="vec_id"))
    assert "WindowGroupLimit" in p1 and "Partial" in p1

    idx = build_ivfadc_index(emb, n_centroids=4, m=2, nbits=4, id_col="vec_id")
    try:
        p2 = executed_plan(ann_ivfadc_topk(idx, qs, k=5, n_probe=2))
        assert "WindowGroupLimit" in p2 and "Partial" in p2
    finally:
        idx.unpersist()


def test_paragraph_passes_plan_fused_no_expand(spark):
    """paragraph_passes (round 11): the stacked stats aggregates plan as
    PARTIAL (map-side combined) min-struct/count with no Expand (the
    exact distinct-doc count comes from the (key, id) collapse, not a
    count_distinct rewrite) and no window; both modes share ONE
    reassembly aggregate — collect_list appears once (partial+final),
    not once per mode."""
    from patito_spark.operators.paragraphs import paragraph_passes

    docs = spark.range(64).selectExpr(
        "id as doc_id",
        "concat('shared para\\n\\nuniq ', cast(id as string)) as text",
    )
    plan = executed_plan(paragraph_passes(docs, min_docs=3))
    assert "partial_min" in plan
    assert "row_number" not in plan
    assert "Expand" not in plan
    assert plan.count("partial_collect_list") == 1


def test_lm_quality_scoring_pass_single_corpus_join(spark):
    """lm_quality_scores (round 11): the corpus-sized positioned stream
    is exploded exactly twice (LM build + scoring) and the scoring pass
    joins it ONCE against the fused pair-level score table (null-safe
    prev key '__sp') — the bigram/unigram/target lookups live inside
    the small build side, never as extra corpus-stream joins."""
    from patito_spark.operators.text import lm_quality_scores

    docs = spark.range(64).selectExpr(
        "id as doc_id",
        "concat('tok a b c d ', cast(id % 4 as string)) as text",
    )
    target = docs.filter("doc_id % 2 = 0")
    plan = executed_plan(lm_quality_scores(docs, target))
    assert "__sp" in plan  # the fused score table is in play
    # The scoring subtree runs from the per-doc PARTIAL aggregate down
    # to the corpus explode; exactly ONE join may sit between them (the
    # fused score-table probe — the old shape had three or four).
    # Textual occurrence counts over the whole plan are useless here:
    # InMemoryRelation reprints the cached pair-table lineage in every
    # branch that reads it.
    start = plan.index("partial_count(1), partial_avg")
    end = plan.index("Generate explode(arrays_zip", start)
    scoring = plan[start:end]
    assert scoring.count("Join") == 1, scoring
    assert "row_number" not in plan


def test_lm_quality_trigram_mode_single_corpus_join(spark):
    """trigram=True (round 13) keeps the fused contract: the positioned
    stream widens to triples but STILL joins the score table exactly
    once (null-safe p2/prev keys); the trigram LM, context counts and
    every pair-level lookup live inside the small build side."""
    from patito_spark.operators.text import lm_quality_scores

    docs = spark.range(64).selectExpr(
        "id as doc_id",
        "concat('tok a b c d ', cast(id % 4 as string)) as text",
    )
    target = docs.filter("doc_id % 2 = 0")
    plan = executed_plan(
        lm_quality_scores(docs, target, kneser_ney=True, trigram=True)
    )
    assert "__s2" in plan  # triple-keyed fused score table in play
    start = plan.index("partial_count(1), partial_avg")
    end = plan.index("Generate explode(arrays_zip", start)
    scoring = plan[start:end]
    assert scoring.count("Join") == 1, scoring
    assert "row_number" not in plan


def test_winnow_pairs_exchange_reuse(spark):
    """winnow_pairs (round 14): the window bucket guard, the bucket
    aggregate, and the in-bucket pair expansion all ride ONE fp
    exchange of the fingerprint stream — no self-join anywhere in the
    candidate stage (the round-13 join shape paid a second fp exchange
    or a broadcast of the guarded stream)."""
    import re

    from patito_spark.operators.winnow import winnow_pairs

    df = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 3 + j) % 40}" for j in range(12)))
         for i in range(64)],
        "doc_id long, text string",
    )
    plan = executed_plan(winnow_pairs(df, min_shared=1))
    fp_exchanges = re.findall(r"Exchange hashpartitioning\(fp", plan)
    assert len(fp_exchanges) == 1, plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_hamming_pairs_plan_sub_quadratic(spark):
    """hamming_pairs candidate generation: distinct-signature collapse
    (one HashAggregate before the pair stage), combination-keyed
    buckets (never a cross product or nested loop — and since round 14
    no self-join at all: pairs expand from ONE bucket aggregate), the
    bucket guard fused into that stage's single exchange as a window
    count over partitionBy(combo, key), and the canonical-combination
    filter in place of a pair-distinct exchange."""
    import re

    from patito_spark.operators.dedup import hamming_pairs

    sigs = spark.range(256).selectExpr(
        "id as doc_id", "cast(hash(id) as long) as sig"
    )
    plan = executed_plan(
        hamming_pairs(sigs, id_col="doc_id", sig_col="sig",
                      max_hamming=3, chunks=8)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan        # bucket guard is wired in
    assert "posexplode" in plan    # combination keys, not raw sigs
    # the near-pair stage pays exactly ONE (combo, key) shuffle of the
    # exploded stream — the window guard, the bucket aggregate, and the
    # pair expansion all ride it (the old self-join shape paid a second
    # exchange or a full-stream broadcast for the probe side)
    combo_exchanges = re.findall(
        r"Exchange hashpartitioning\(__combo", plan
    )
    assert len(combo_exchanges) == 1, plan
    # no distinct over the expanded pair stream: the canonical
    # combination keeps each pair exactly once, so no aggregate keys on
    # (sig_a, sig_b) anywhere in the plan
    assert not re.search(r"HashAggregate\(keys=\[sig_a", plan), plan


def test_hamming_pairs_star_no_member_fanout(spark):
    """expand='star' output is member-linear: no member-x-member join
    survives in the plan (members only join group reps / sig pairs)."""
    from patito_spark.operators.dedup import hamming_pairs

    sigs = spark.range(256).selectExpr(
        "id as doc_id", "cast(hash(id % 7) as long) as sig"
    )
    out = hamming_pairs(
        sigs, id_col="doc_id", sig_col="sig",
        max_hamming=3, chunks=8, expand="star",
    )
    assert out.count() == 256 - 7  # one star edge per non-rep member
    plan = executed_plan(out)
    assert "CartesianProduct" not in plan


def test_pq_adc_topk_rank_window_partial_limit(spark):
    """pq_adc_topk's global rank window is bounded to k x batches per
    query by the per-batch local top-k, but a hot query with many
    batches still funnels its rows to one task — the window survives
    ONLY because Spark plans a Partial WindowGroupLimit before the
    exchange (same contract as dedup_exact/kmv_distinct). Assert it for
    both ADC rankers."""
    import numpy as np

    from patito_spark.operators.quantize import (
        build_ivfadc_index,
        ann_ivfadc_topk,
        fit_pq,
        pq_adc_topk,
        pq_encode,
    )

    rng = np.random.RandomState(3)
    rows = [(i, rng.normal(size=16).tolist()) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.limit(2)

    pq = fit_pq(emb, m=4, nbits=4)
    codes = pq_encode(emb, pq)
    p1 = executed_plan(pq_adc_topk(codes, queries, pq, k=5))
    assert "WindowGroupLimit" in p1 and "Partial" in p1

    idx = build_ivfadc_index(emb, m=4, nbits=4, n_centroids=4,
                             materialize=False)
    p2 = executed_plan(ann_ivfadc_topk(idx, queries, k=5, n_probe=2))
    assert "WindowGroupLimit" in p2 and "Partial" in p2


def test_gopher_repetition_rules_single_stage_no_exchange(spark):
    """The Table-A2 repetition battery is strictly doc-local: the whole
    thirteen-metric pass plans as ONE Arrow-batched python stage over
    the scan — zero exchanges, no per-gram rows materialize."""
    from patito_spark.operators.heuristics import gopher_repetition_rules

    docs = spark.createDataFrame(
        [(i, f"w{i} " * 20) for i in range(50)],
        "doc_id long, text string",
    )
    plan = executed_plan(gopher_repetition_rules(docs))
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") == 1


def test_scalar_crossjoin_assemblies_plan_bnlj(spark):
    """The 1-row scalar-assembly crossJoins (mix_corpora domain totals,
    lm_quality_scores stats+target fusion) must plan as
    BroadcastNestedLoopJoin over the 1-row aggregate sides with no
    sort-merge join anywhere — an SMJ here would shuffle to join single
    rows and serialize the domain scans the fusion exists to overlap."""
    from patito_spark.operators.mixing import _domain_totals

    corpora = {
        f"d{i}": spark.range(50 + i).selectExpr(
            "id as doc_id", "concat('w x y z ', cast(id as string)) as text"
        )
        for i in range(3)
    }
    plan = executed_plan(
        _domain_totals(corpora, "whitespace", "text", None)
    )
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan
    assert "SortMergeJoin" not in plan
    # every domain aggregate is map-side partial + single-partition
    # final: no shuffle exchange anywhere in the assembly
    assert "Exchange hashpartitioning" not in plan
