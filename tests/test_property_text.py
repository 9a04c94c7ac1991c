"""Property tests: build_vocab / tf_idf vs a naive Python recount, the
n-gram hash builder, repetition_stats and cross_doc_repetition vs
pure-Python references."""

import math
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

WORD = st.text(alphabet="abcde", min_size=1, max_size=3)
DOC = st.lists(WORD, min_size=1, max_size=12).map(" ".join)
CORPUS = st.lists(DOC, min_size=1, max_size=8)
# Empty tokens make double spaces; "" and NULL are whole documents.
GRAM_WORD = st.text(alphabet="ab", min_size=0, max_size=2)
GRAM_DOC = st.one_of(
    st.none(), st.lists(GRAM_WORD, min_size=0, max_size=10).map(" ".join)
)
GRAM_CORPUS = st.lists(GRAM_DOC, min_size=1, max_size=8)


def _naive_vocab(texts):
    counts: Counter = Counter()
    doc_freq: Counter = Counter()
    for t in texts:
        toks = t.split(" ")
        counts.update(toks)
        doc_freq.update(set(toks))
    return counts, doc_freq


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=CORPUS)
def test_build_vocab_matches_python(spark, texts):
    from patito_spark.operators.text import build_vocab

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["token"]: (r["count"], r["doc_freq"])
        for r in build_vocab(df).collect()
    }
    counts, doc_freq = _naive_vocab(texts)
    assert got == {t: (counts[t], doc_freq[t]) for t in counts}


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=CORPUS)
def test_tf_sums_to_one_per_doc(spark, texts):
    """Over the full (min_count=1) vocab, each document's tf sums to 1."""
    from patito_spark.operators.text import tf_idf

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = tf_idf(df).collect()
    per_doc: dict[int, float] = {}
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0.0) + r["tf"]
    assert set(per_doc) == set(range(len(texts)))
    for doc_id, total in per_doc.items():
        assert total == pytest.approx(1.0, abs=1e-9)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=GRAM_CORPUS)
def test_tf_idf_matches_python(spark, texts):
    """Tokens are single-space splits with empty strings kept; NULL text
    yields no rows but counts toward N."""
    from patito_spark.operators.text import tf_idf

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["token"]): (r["tf"], r["idf"])
        for r in tf_idf(df).collect()
    }
    per_doc = {
        i: Counter(t.split(" ")) for i, t in enumerate(texts) if t is not None
    }
    doc_freq = Counter(tok for c in per_doc.values() for tok in c)
    want_tf = {
        (i, tok): n / sum(c.values())
        for i, c in per_doc.items()
        for tok, n in c.items()
    }
    assert {k: v[0] for k, v in got.items()} == want_tf
    for (_, tok), (_, idf) in got.items():
        assert idf == pytest.approx(
            math.log((len(texts) + 1) / (doc_freq[tok] + 1)) + 1, rel=1e-12
        )


# --- n-gram hash builder / repetition_stats ---------------------------- #

def _ref_grams(text, n, positioned):
    """(start, gram) pairs of ``text`` split on single spaces: a short
    document is one whole-text gram (shingles) or nothing (spans); NULL
    text is nothing."""
    if text is None:
        return []
    toks = text.split(" ")
    if len(toks) < n:
        return [] if positioned else [(None, text)]
    return [(p, " ".join(toks[p : p + n])) for p in range(len(toks) - n + 1)]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=GRAM_CORPUS, n=st.integers(min_value=1, max_value=5))
def test_gram_hash_rows_matches_python(spark, texts, n):
    from pyspark.sql import functions as F

    from patito_spark.operators.dedup import gram_hash_rows

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )

    def shape(tag, **kw):
        rows = gram_hash_rows(df, "doc_id", "text", n, **kw)
        pos = "__pos" if kw.get("positioned") else F.lit(None).cast("int")
        return rows.select(F.lit(tag).alias("tag"), "__id", pos, "__h")

    out = (
        shape("plain")
        .unionAll(shape("distinct", distinct=True))
        .unionAll(shape("positioned", positioned=True))
        .collect()
    )
    got = {tag: sorted(tuple(r)[1:] for r in out if r[0] == tag)
           for tag in ("plain", "distinct", "positioned")}

    # the reference grams hashed by Spark's xxhash64 on their own, so
    # the comparison pins gram construction, not the hash
    ref = {
        g for i, text in enumerate(texts)
        for positioned in (False, True)
        for _, g in _ref_grams(text, n, positioned)
    }
    hashed = dict(
        spark.createDataFrame([(g,) for g in ref] or [("",)], "g string")
        .select("g", F.xxhash64("g"))
        .collect()
    )

    def h(gram):
        return hashed[gram]

    want = {"plain": [], "distinct": [], "positioned": []}
    for i, text in enumerate(texts):
        grams = _ref_grams(text, n, positioned=False)
        want["plain"] += [(i, None, h(g)) for _, g in grams]
        want["distinct"] += [(i, None, hv) for hv in {h(g) for _, g in grams}]
        want["positioned"] += [
            (i, p, h(g)) for p, g in _ref_grams(text, n, positioned=True)
        ]
    assert got == {tag: sorted(rows) for tag, rows in want.items()}


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=GRAM_CORPUS, n=st.integers(min_value=1, max_value=5))
def test_repetition_stats_matches_counter(spark, texts, n):
    from patito_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["dup_gram_frac"], r["top_gram_frac"])
        for r in repetition_stats(df, ngram=n).collect()
    }
    want = {}
    for i, text in enumerate(texts):
        counts = Counter(g for _, g in _ref_grams(text, n, positioned=True))
        if counts:
            total = sum(counts.values())
            want[i] = (
                total,
                1.0 - len(counts) / total,
                max(counts.values()) / total,
            )
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=GRAM_CORPUS,
    n=st.integers(min_value=1, max_value=3),
    min_docs=st.integers(min_value=1, max_value=3),
)
def test_cross_doc_repetition_matches_python(spark, texts, n, min_docs):
    from patito_spark.operators.text import cross_doc_repetition

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_distinct_grams"], r["shared_gram_frac"])
        for r in cross_doc_repetition(df, ngram=n, min_docs=min_docs).collect()
    }
    grams = {
        i: {g for _, g in _ref_grams(t, n, positioned=False)}
        for i, t in enumerate(texts)
        if t is not None
    }
    n_docs = Counter(g for gs in grams.values() for g in gs)
    want = {
        i: (len(gs), sum(n_docs[g] >= min_docs for g in gs) / len(gs))
        for i, gs in grams.items()
    }
    assert got == want


# --- fix_mojibake round-trip ------------------------------------------- #

def _sloppy_cp1252(s: str) -> str:
    out = []
    for b in s.encode("utf-8"):
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


def _moji_alphabet():
    from patito_spark.operators.text import _MOJIBAKE_CHARS

    return "abc XY.,!?'\"0-" + "".join(_MOJIBAKE_CHARS)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    text=st.text(
        alphabet=st.sampled_from(list(_moji_alphabet())),
        min_size=0,
        max_size=40,
    )
)
def test_fix_mojibake_round_trip(spark, text):
    """fix_mojibake(double_encode(text)) == text for any text over the
    repaired alphabet — i.e. the replace chain's ORDER never corrupts
    adjacent artifacts (each artifact replaces independently even when
    artifacts of neighboring characters touch)."""
    import pytest as _pytest
    from patito_spark.operators.text import fix_mojibake

    # nbsp deliberately repairs to a plain space, so normalize the
    # expectation the same way
    expected = text.replace(" ", " ")
    broken = _sloppy_cp1252(text)
    got = (
        spark.createDataFrame([(broken,)], "t string")
        .select(fix_mojibake("t").alias("f"))
        .first()["f"]
    )
    if got != expected:
        _pytest.fail(f"{text!r} -> {broken!r} -> {got!r}")
