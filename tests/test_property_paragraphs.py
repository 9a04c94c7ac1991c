"""Property tests: dedup_paragraphs and paragraph_passes vs naive Python
re-implementations."""

import re
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from patito_spark.operators.paragraphs import dedup_paragraphs, paragraph_passes

# Small paragraph alphabet forces heavy cross-doc duplication; spacing
# and case variants exercise key normalization.
PARA = st.sampled_from(
    ["alpha beta", "Alpha  Beta", "gamma", "delta epsilon", "zeta"]
)
DOC = st.lists(PARA, min_size=1, max_size=5).map("\n\n".join)
CORPUS = st.lists(DOC, min_size=1, max_size=6)


def _norm(p):
    return re.sub(r"\s+", " ", p.strip()).lower()


def _naive(texts):
    seen = set()
    out = {}
    for doc_id, text in enumerate(texts):
        kept = []
        for p in text.split("\n\n"):
            k = _norm(p)
            if not k:
                continue
            if k not in seen:
                seen.add(k)
                kept.append(p)
        if kept:
            out[doc_id] = "\n\n".join(kept)
    return out


def _naive_boiler(texts, min_docs):
    n_docs = Counter(k for t in texts for k in {_norm(p) for p in t.split("\n\n")})
    out = {}
    for doc_id, text in enumerate(texts):
        kept = [p for p in text.split("\n\n") if n_docs[_norm(p)] < min_docs]
        if kept:
            out[doc_id] = "\n\n".join(kept)
    return out


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=CORPUS)
def test_corpus_keep_first_matches_python(spark, texts):
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["text"]
        for r in dedup_paragraphs(df, drop_empty=True).collect()
    }
    assert got == _naive(texts)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=CORPUS,
    min_docs=st.integers(2, 4),
    drop_empty=st.booleans(),
    wide=st.booleans(),
)
def test_paragraph_passes_matches_python(spark, texts, min_docs, drop_empty, wide):
    """Both modes of the fused operator, on the (id, text)-only path and
    the extra-column crossJoin path, with and without emptied docs."""
    df = spark.createDataFrame(
        [(i, t, f"u{i}") for i, t in enumerate(texts)],
        "doc_id long, text string, url string",
    )
    if not wide:
        df = df.select("doc_id", "text")
    got = {
        (r["mode"], r["doc_id"]): r["text"]
        for r in paragraph_passes(
            df, min_docs=min_docs, drop_empty=drop_empty
        ).collect()
    }
    want = {("dedup", d): t for d, t in _naive(texts).items()}
    want.update(
        {("boiler", d): t for d, t in _naive_boiler(texts, min_docs).items()}
    )
    if not drop_empty:
        for key in [(m, d) for m in ("dedup", "boiler") for d in range(len(texts))]:
            want.setdefault(key, "")
    assert got == want
