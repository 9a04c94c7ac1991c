"""Property tests: the doc-local Arrow signature builds against
pure-Python references on adversarial corpora.

The kernels' riskiest surface is tokenization parity — pandas
``str.split(" ")`` must match Python's ``str.split(" ")`` (and Java's
``split(re, -1)``, which the oracles' SQL replays) including empty
tokens from leading/trailing/consecutive spaces, empty-string documents
and unicode — plus the null-text drop. Hypothesis drives corpora whose
documents are raw STRINGS (spaces placed arbitrarily, not token-joined),
so degenerate whitespace shapes are generated, and asserts bit-equality
between each Arrow build and its reference.
"""

from hypothesis import HealthCheck, given, settings, strategies as st

# Raw text: words over a tiny alphabet (collisions likely -> real
# dedup structure) with spaces as ordinary characters, plus unicode.
RAW = st.text(alphabet="ab ü", min_size=0, max_size=30)
DOCS = st.lists(st.one_of(RAW, st.none()), min_size=1, max_size=8)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _frame(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


def _md5_hash(s):
    """The portable hash, spelled independently of the library."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _shingle_hashes(text, n):
    """Sorted distinct portable hashes of a document's word n-grams (a
    document shorter than ``n`` tokens is one whole-text gram)."""
    toks = text.split(" ")
    grams = (
        {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        if len(toks) >= n
        else {text}
    )
    return tuple(sorted({_md5_hash(g) for g in grams}))


@settings(**_SETTINGS)
@given(texts=DOCS)
def test_simhash_signature_lanes_agree(spark, texts):
    from patito_spark.operators.dedup import simhash_signatures

    df = _frame(spark, texts)
    arrow = {r["__id"]: r["__sig"] for r in simhash_signatures(df).collect()}
    want = {}
    for i, text in enumerate(texts):
        if text is None:
            continue
        hashes = [_md5_hash(t) for t in text.split(" ")]
        want[i] = sum(
            1 << b
            for b in range(60)
            if 2 * sum((h >> b) & 1 for h in hashes) > len(hashes)
        )
    assert arrow == want


@settings(**_SETTINGS)
@given(texts=DOCS)
def test_minhash_feature_lanes_agree(spark, texts):
    from pyspark.sql import functions as F

    from patito_spark.operators.dedup import _minhash_doc_features_arrow
    from patito_spark.streaming.dedup import _banded_buckets

    df = _frame(spark, texts)
    feats = _minhash_doc_features_arrow(
        df, "doc_id", "text", n=3, num_hashes=16, bands=4, densify=True
    )
    arrow_bands = {
        (r["__id"], r["band"]): r["key"]
        for r in feats.select(
            "__id", F.explode("__bands").alias("b")
        ).select(
            "__id", F.col("b.band").alias("band"), F.col("b.__key").alias("key")
        ).collect()
    }
    arrow_toks = {
        r["__id"]: tuple(r["__jtokens"]) for r in feats.collect()
    }
    want_bands, want_toks = {}, {}
    for i, text in enumerate(texts):
        if text is None:
            continue
        for band, key in _banded_buckets(text, 3, 16, 4):
            want_bands[(i, band)] = key
        want_toks[i] = _shingle_hashes(text, 3)
    assert arrow_bands == want_bands
    assert arrow_toks == want_toks
