"""Property tests: the round-15 Arrow doc-local lanes vs their codegen
twins on adversarial corpora.

The kernels' riskiest surface is tokenization parity — pandas
``str.split(" ")`` must match ``F.split(col, " ")`` (Java
``split(re, -1)``) including empty tokens from leading/trailing/
consecutive spaces, empty-string documents and unicode — plus the
null-text drop. Hypothesis drives corpora whose documents are raw
STRINGS (spaces placed arbitrarily, not token-joined), so degenerate
whitespace shapes are generated, and asserts bit-equality between the
arrow and sql lanes of each operator.
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


@settings(**_SETTINGS)
@given(texts=DOCS)
def test_simhash_signature_lanes_agree(spark, texts):
    from patito_spark.operators.dedup import (
        _simhash_signatures_sql,
        simhash_signatures,
    )

    df = _frame(spark, texts)
    arrow = {
        r["__id"]: r["__sig"]
        for r in simhash_signatures(df, hash_mode="portable").collect()
    }
    sql = {
        r["__id"]: r["__sig"]
        for r in _simhash_signatures_sql(
            df, "doc_id", "text", 64, "portable"
        ).collect()
    }
    assert arrow == sql


@settings(**_SETTINGS)
@given(texts=DOCS)
def test_minhash_feature_lanes_agree(spark, texts):
    from pyspark.sql import functions as F

    from patito_spark.operators.dedup import (
        _minhash_doc_features_arrow,
        banded_signatures,
        shingle_hash_rows,
    )

    df = _frame(spark, texts)
    feats = _minhash_doc_features_arrow(
        df, "doc_id", "text", n=3, num_hashes=16, bands=4, densify=True
    )
    arrow_bands = {
        (r["__id"], r["band"]): r["bucket"]
        for r in feats.select(
            "__id", F.explode("__bands").alias("b")
        ).select(
            "__id",
            F.col("b.band").alias("band"),
            F.xxhash64(F.col("b.__key")).alias("bucket"),
        ).collect()
    }
    arrow_toks = {
        r["__id"]: tuple(r["__jtokens"]) for r in feats.collect()
    }
    rows = shingle_hash_rows(df, n=3, hash_mode="portable", distinct=False)
    sql_bands = {
        (r["__id"], r["band"]): r["bucket"]
        for r in banded_signatures(
            rows, num_hashes=16, bands=4, densify=True
        ).collect()
    }
    sql_toks = {
        r["__id"]: tuple(r["__jtokens"])
        for r in rows.groupBy(F.col("__id")).agg(
            F.array_sort(F.collect_set("__h")).alias("__jtokens")
        ).collect()
    }
    assert arrow_bands == sql_bands
    assert arrow_toks == sql_toks
