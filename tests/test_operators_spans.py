"""Exact-substring (span) dedup: hand-checked values, a brute-force
token-level reference oracle (independent re-derivation of the Lee
et al. semantics, not a pipeline replay), and plan-shape pins."""

import random
from collections import defaultdict

import pytest

from pyspark.sql import functions as F

from patito_spark.operators.spans import dedup_spans, duplicate_span_intervals
from patito_spark.plans.explain import executed_plan


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "x a b c d tail one", "web"),
            (2, "a b c d y more words here", "web"),
            (3, "totally unique content here", "book"),
            (4, "a b c d", "web"),
            (5, "", "web"),
        ],
        schema="doc_id long, text string, source string",
    )


def by_id(df):
    return {r["doc_id"]: r["text"] for r in df.collect()}


# ---------------------------------------------------------------- reference

def ref_dedup_spans(docs, n, min_count=2, keep_first=True, min_remaining=1):
    """Brute-force ExactSubstr on token streams (no hashing, no Spark).

    docs: {id: text}. Returns {id: text} after cutting every
    occurrence-after-the-first of each n-gram occurring >= min_count
    times corpus-wide, merging overlapping/adjacent cut intervals.
    """
    occ = defaultdict(list)
    for i in sorted(docs):
        toks = docs[i].split(" ")
        for p in range(len(toks) - n + 1):
            occ[tuple(toks[p : p + n])].append((i, p))
    cuts = defaultdict(list)
    for gram, sites in occ.items():
        if len(sites) < min_count:
            continue
        victims = sorted(sites)[1:] if keep_first else sorted(sites)
        for i, p in victims:
            cuts[i].append((p, p + n - 1))
    out = {}
    for i in sorted(docs):
        toks = docs[i].split(" ")
        if i not in cuts:
            out[i] = docs[i]
            continue
        merged = []
        for s, e in sorted(cuts[i]):
            if merged and s <= merged[-1][1] + 1:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        covered = set()
        for s, e in merged:
            covered.update(range(s, e + 1))
        kept = [t for j, t in enumerate(toks) if j not in covered]
        if min_remaining is not None and len(kept) < min_remaining:
            continue
        out[i] = " ".join(kept)
    return out


# ------------------------------------------------------------------- values

def test_intervals_hand_checked(docs):
    rows = duplicate_span_intervals(docs, span_tokens=3).orderBy(
        "doc_id"
    ).collect()
    # "a b c d" first occurs in doc 1 (pos 1); docs 2 and 4 carry the
    # later copies -> one merged [0, 3] interval each.
    assert [(r["doc_id"], r["span_start"], r["span_end"]) for r in rows] == [
        (2, 0, 3),
        (4, 0, 3),
    ]


def test_dedup_keeps_first_occurrence_and_cuts_later(docs):
    out = by_id(dedup_spans(docs, span_tokens=3))
    assert out[1] == "x a b c d tail one"  # first occurrence intact
    assert out[2] == "y more words here"  # run cut, remainder rejoined
    assert out[3] == "totally unique content here"  # untouched
    assert 4 not in out  # reduced to nothing -> dropped
    assert out[5] == ""  # empty but UNCUT doc passes through


def test_keep_first_false_cuts_every_copy(docs):
    out = by_id(dedup_spans(docs, span_tokens=3, keep_first=False))
    assert out[1] == "x tail one"
    assert out[2] == "y more words here"
    assert 4 not in out


def test_min_remaining_tokens_none_keeps_emptied_docs(docs):
    out = by_id(dedup_spans(docs, span_tokens=3, min_remaining_tokens=None))
    assert out[4] == ""


def test_other_columns_and_schema_preserved(docs):
    result = dedup_spans(docs, span_tokens=3)
    assert result.columns == ["doc_id", "text", "source"]
    sources = {r["doc_id"]: r["source"] for r in result.collect()}
    assert sources == {1: "web", 2: "web", 3: "book", 5: "web"}


def test_adjacent_islands_merge(spark):
    # doc 2 duplicates two runs of doc 1 that are adjacent in doc 2 but
    # separated in doc 1: the cut intervals touch and must merge.
    docs = spark.createDataFrame(
        [
            (1, "p q r GAP s t u"),
            (2, "p q r s t u leftover"),
        ],
        schema="doc_id long, text string",
    )
    out = by_id(dedup_spans(docs, span_tokens=3))
    assert out[1] == "p q r GAP s t u"
    assert out[2] == "leftover"


def test_matches_brute_force_reference_on_random_corpora(spark):
    rng = random.Random(20260815)
    vocab = [f"w{i}" for i in range(12)]
    for trial in range(3):
        texts = {}
        for i in range(40):
            length = rng.randint(0, 25)
            texts[i] = " ".join(rng.choice(vocab) for _ in range(length))
        # Inject literal repeats so long shared runs exist.
        template = " ".join(rng.choice(vocab) for _ in range(9))
        for i in rng.sample(range(40), 6):
            texts[i] = texts[i] + " " + template if texts[i] else template
        df = spark.createDataFrame(
            [(i, t) for i, t in texts.items()],
            schema="doc_id long, text string",
        )
        for keep_first in (True, False):
            expected = ref_dedup_spans(
                texts, n=4, min_count=2, keep_first=keep_first
            )
            got = by_id(
                dedup_spans(
                    df, span_tokens=4, min_count=2, keep_first=keep_first
                )
            )
            assert got == expected, f"trial={trial} keep_first={keep_first}"


def test_min_count_three(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c z"), (3, "a b c q")],
        schema="doc_id long, text string",
    )
    # "a b c" occurs 3 times -> docs 2,3 cut at min_count=3; nothing
    # cut at min_count=4.
    out3 = by_id(dedup_spans(docs, span_tokens=3, min_count=3))
    assert out3 == {1: "a b c d", 2: "z", 3: "q"}
    out4 = by_id(dedup_spans(docs, span_tokens=3, min_count=4))
    assert out4 == {1: "a b c d", 2: "a b c z", 3: "a b c q"}


# -------------------------------------------------------------------- plans

def test_gram_stream_shuffles_once(docs):
    """The gram build never exchanges: the only Exchanges are the gram
    stream by hash (stats partials + join probe) and the duplicated
    candidates / document table — pinned by the exact Exchange count,
    so a gram build that shuffles (a lead() window over the token
    stream adds one) cannot come back unnoticed."""
    plan = executed_plan(dedup_spans(docs, span_tokens=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window [lead" not in plan
    # stats aggregate by __h + join probe by __h + island windows by
    # __id + doc-side join by doc_id.
    assert plan.count("Exchange") == 4, plan


def test_within_document_repetition(spark):
    # The classic ExactSubstr case: the duplicated run lives INSIDE one
    # document. "a b c" occurs at pos 0/3/6; keep-first keeps pos 0,
    # the rest cut (including the bridging grams "b c a"/"c a b").
    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c tail")], "doc_id long, text string"
    )
    out = by_id(dedup_spans(docs, span_tokens=3))
    assert out[1] == "a b c tail"
    # Matches the brute-force reference on the same corpus.
    assert out == ref_dedup_spans({1: "a b c a b c a b c tail"}, n=3)


def test_periodic_token_run(spark):
    # Period-1 repetition "x x x x x": grams at 0/1/2 are the same gram;
    # only the first survives -> "x x x" remains? No: cut intervals
    # [1,3],[2,4] merge to [1,4], keeping just index 0.
    docs = spark.createDataFrame(
        [(1, "x x x x x")], "doc_id long, text string"
    )
    out = by_id(dedup_spans(docs, span_tokens=3))
    assert out == ref_dedup_spans({1: "x x x x x"}, n=3)
    assert out[1] == "x"


class TestScrubSpans:
    def test_cuts_leaked_benchmark_runs(self, spark):
        from patito_spark.operators.spans import scrub_spans

        bench = spark.createDataFrame(
            [("what is the capital of france paris",)], "text string"
        )
        docs = spark.createDataFrame(
            [
                (1, "intro words what is the capital of france paris "
                    "closing analysis"),
                (2, "entirely unrelated document content here"),
                (3, "what is the capital of france paris"),  # pure leak
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r["text"]
            for r in scrub_spans(docs, bench, span_tokens=4).collect()
        }
        assert out[1] == "intro words closing analysis"
        assert out[2] == "entirely unrelated document content here"
        assert 3 not in out  # fully leaked doc reduced to nothing

    def test_partial_gram_overlap_cuts_maximal_run(self, spark):
        from patito_spark.operators.spans import scrub_spans

        # The doc contains the benchmark text with its own words around
        # it; grams bridging doc/benchmark words don't match, so the cut
        # is exactly the benchmark run.
        bench = spark.createDataFrame([("q1 q2 q3 q4 q5",)], "text string")
        docs = spark.createDataFrame(
            [(1, "own1 own2 q1 q2 q3 q4 q5 own3")],
            "doc_id long, text string",
        )
        out = scrub_spans(docs, bench, span_tokens=3).collect()
        assert out[0]["text"] == "own1 own2 own3"

    def test_every_copy_cut_no_keep_first(self, spark):
        from patito_spark.operators.spans import scrub_spans

        bench = spark.createDataFrame([("s1 s2 s3",)], "text string")
        docs = spark.createDataFrame(
            [(1, "s1 s2 s3 tail1"), (2, "s1 s2 s3 tail2")],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r["text"]
            for r in scrub_spans(docs, bench, span_tokens=3).collect()
        }
        # Unlike dedup_spans there is no first-occurrence exemption.
        assert out == {1: "tail1", 2: "tail2"}

    def test_reference_broadcast_plan(self, spark):
        from patito_spark.operators.spans import scrub_spans
        from patito_spark.plans.explain import executed_plan

        bench = spark.createDataFrame([("b1 b2 b3 b4",)], "text string")
        docs = spark.createDataFrame(
            [(1, "b1 b2 b3 b4 x")], "doc_id long, text string"
        )
        plan = executed_plan(scrub_spans(docs, bench, span_tokens=3))
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
        assert "CartesianProduct" not in plan

    def test_short_reference_docs_emit_nothing(self, spark):
        from patito_spark.operators.spans import scrub_spans

        bench = spark.createDataFrame([("one two",)], "text string")
        docs = spark.createDataFrame(
            [(1, "one two three four")], "doc_id long, text string"
        )
        # Benchmark shorter than span_tokens -> no reference grams -> no cut.
        out = scrub_spans(docs, bench, span_tokens=3).collect()
        assert out[0]["text"] == "one two three four"


def test_first_mode_packed_equals_struct(spark):
    """Integral ids take the packed first occurrence (min over
    (id<<32)+pos, HashAggregate); other id types take min(struct(id,
    pos)). Both must produce the same intervals for ids that fit in
    int32, negatives included — with duplicate grams within one doc,
    ties across docs, and keep_first=False."""
    import random

    from patito_spark.operators.spans import duplicate_span_intervals

    rng = random.Random(416)
    vocab = [f"w{i}" for i in range(12)]
    # ids span the whole int32 range, negatives and both bounds included
    ids = [-(2**31), 2**31 - 1] + list(range(-29, 29))
    rows = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
        for d in ids
    ]
    # An IntegerType id exercises the load-bearing cast-to-long in the
    # packed expression (shiftleft on an int column is a Java int shift
    # — distance masked mod 32, a silent no-op — and packed keys would
    # collide); decimal ids order like the integers but take the struct.
    for keep_first in (True, False):
        got = {}
        for id_type in ("long", "int", "decimal(12,0)"):
            df = spark.createDataFrame(
                rows, "doc_id long, text string"
            ).withColumn("doc_id", F.col("doc_id").cast(id_type))
            got[id_type] = sorted(
                tuple(int(x) for x in r)
                for r in duplicate_span_intervals(
                    df, span_tokens=3, keep_first=keep_first
                ).collect()
            )
        assert got["long"] == got["int"] == got["decimal(12,0)"]
        assert got["long"]


def test_first_mode_packed_plans_hash_aggregate(spark):
    """With integral ids the stats aggregate must plan as HashAggregate —
    no SortAggregate anywhere in the intervals plan (the whole point
    of the packing)."""
    from patito_spark.operators.spans import duplicate_span_intervals

    df = spark.createDataFrame(
        [(1, "a b c d e a b c d e"), (2, "a b c d e x y z")],
        "doc_id long, text string",
    )
    plan = (
        duplicate_span_intervals(df, span_tokens=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortAggregate" not in plan


@pytest.mark.parametrize("bad_id", [2**31, -(2**31) - 1])
def test_first_mode_packed_rejects_ids_outside_int32(spark, bad_id):
    """Outside int32 the packed key no longer orders like (id, pos) —
    ids [1, 2^31 + 1] would keep the wrong copy — so a LongType id
    there fails the job instead of answering."""
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError

    df = spark.createDataFrame(
        [(1, "a b c d"), (bad_id, "a b c d")], "doc_id long, text string"
    )
    with pytest.raises((PySparkException, Py4JJavaError), match="int32"):
        duplicate_span_intervals(df, span_tokens=3).collect()
