"""Property tests: build_vocab / tf_idf vs a naive Python recount, the
n-gram hash builder and repetition_stats vs pure-Python references."""

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

    from patito_spark.functions.hashing import portable_hash64_np
    from patito_spark.operators.dedup import gram_hash_rows

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )

    def shape(tag, **kw):
        rows = gram_hash_rows(df, "doc_id", "text", n, "portable", **kw)
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

    def h(gram):
        return int(portable_hash64_np([gram])[0])

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
