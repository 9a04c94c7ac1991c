"""Relation query-layer tests (mirrors ref tests/test_duckdb/test_relation.py)."""

from typing import Optional

import pytest

import patito_spark as pt
from patito_spark.exceptions import MultipleRowsReturned, RowDoesNotExist


@pytest.fixture()
def db(spark):
    return pt.Database(spark)


@pytest.fixture()
def relation(spark, db):
    df = spark.createDataFrame(
        [(1, "X", 10.0), (2, "Y", 20.0), (3, "X", 30.0)],
        schema="a long, b string, c double",
    )
    return db.to_relation(df)


def test_select(relation):
    df = relation.select("a", "c * 2 as c2").to_pandas()
    assert list(df.columns) == ["a", "c2"]
    assert sorted(df["c2"]) == [20.0, 40.0, 60.0]


def test_select_named_projection(relation):
    df = relation.select("a", doubled="a * 2").to_pandas()
    assert sorted(df["doubled"]) == [2, 4, 6]


def test_filter_sql_and_equalities(relation):
    assert relation.filter("c > 15").count() == 2
    assert relation.filter(b="X").count() == 2
    assert relation.filter("c > 15", b="X").count() == 1


def test_aggregate(relation):
    df = (
        relation.aggregate("sum(c) as sum_c", n="count(*)", group_by="b")
        .order(by="b")
        .to_pandas()
    )
    assert list(df["b"]) == ["X", "Y"]
    assert list(df["sum_c"]) == [40.0, 20.0]
    assert list(df["n"]) == [2, 1]


def test_aggregate_no_group(relation):
    df = relation.aggregate(total="sum(c)").to_pandas()
    assert list(df["total"]) == [60.0]


def test_case(relation):
    df = (
        relation.case(
            from_column="b", to_column="name", mapping={"X": "ex"}, default="other"
        )
        .order(by="a")
        .to_pandas()
    )
    assert list(df["name"]) == ["ex", "other", "ex"]


def test_coalesce(spark, db):
    df = spark.createDataFrame(
        [(1, "four", None), (None, "five", 8.0), (3, None, 9.0)],
        schema="a long, b string, c double",
    )
    rel = db.to_relation(df)
    out = rel.coalesce(a=2, b="six").order(by="c nulls first").to_pandas()
    assert list(out["a"]) == [1, 2, 3]
    assert list(out["b"]) == ["four", "five", "six"]
    assert out["c"].isna().sum() == 1


def test_order_limit_offset(relation):
    df = relation.order(by="c desc").limit(2).to_pandas()
    assert list(df["c"]) == [30.0, 20.0]
    df = relation.order(by="c desc").limit(2, offset=1).to_pandas()
    assert list(df["c"]) == [20.0, 10.0]


def test_distinct(spark, db):
    df = spark.createDataFrame([(1,), (1,), (2,)], schema="a long")
    assert db.to_relation(df).distinct().count() == 2


def test_union_and_add(spark, db):
    rel1 = db.to_relation(spark.createDataFrame([(1, "x")], "a long, b string"))
    rel2 = db.to_relation(spark.createDataFrame([("y", 2)], "b string, a long"))
    unioned = rel1 + rel2
    assert unioned.count() == 2
    assert set(unioned.columns) == {"a", "b"}
    # duplicates are kept (UNION ALL semantics)
    assert (rel1 + rel1).count() == 2

    rel3 = db.to_relation(spark.createDataFrame([(1, 2, 3)], "a long, b long, c long"))
    with pytest.raises(TypeError):
        rel1.union(rel3)


def test_except_intersect(spark, db):
    rel1 = db.to_relation(spark.createDataFrame([(1,), (2,), (3,)], "a long"))
    rel2 = db.to_relation(spark.createDataFrame([(2,), (3,), (4,)], "a long"))
    assert sorted(rel1.except_(rel2).to_pandas()["a"]) == [1]
    assert sorted(rel1.intersect(rel2).to_pandas()["a"]) == [2, 3]


def test_join_with_aliases(spark, db):
    products = db.to_relation(
        spark.createDataFrame(
            [("apple", 2), ("banana", 1), ("orange", 3)],
            "product_name string, supplier_id long",
        )
    ).set_alias("p")
    suppliers = db.to_relation(
        spark.createDataFrame(
            [(1, "Banana Republic"), (2, "Apples Inc.")],
            "id long, supplier_name string",
        )
    ).set_alias("s")

    inner = products.join(suppliers, on="p.supplier_id = s.id", how="inner")
    assert inner.count() == 2
    left = products.left_join(suppliers, on="p.supplier_id = s.id")
    assert left.count() == 3
    assert left.filter("supplier_name is null").count() == 1


def test_broadcast_join_hint(spark, db):
    big = db.to_relation(spark.range(1000).selectExpr("id as k"))
    small = db.to_relation(spark.createDataFrame([(1, "x")], "k long, v string"))
    joined = big.set_alias("b").join(
        small.set_alias("s"), on="b.k = s.k", broadcast_other=True
    )
    plan = joined.dataframe._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_rename_prefix_suffix_drop(relation):
    assert set(relation.rename(a="x").columns) == {"x", "b", "c"}
    with pytest.raises(ValueError):
        relation.rename(nonexistent="x")
    assert relation.add_prefix("p_").columns == ["p_a", "p_b", "p_c"]
    assert relation.add_suffix("_s").columns == ["a_s", "b_s", "c_s"]
    assert relation.add_prefix("p_", include=["a"]).columns == ["p_a", "b", "c"]
    assert relation.add_suffix("_s", exclude=["a"]).columns == ["a", "b_s", "c_s"]
    assert relation.drop("b").columns == ["a", "c"]
    with pytest.raises(ValueError):
        relation.drop("nope")


def test_getitem(relation):
    assert relation["a"].columns == ["a"]
    assert relation[["a", "c"]].columns == ["a", "c"]


def test_with_columns(relation):
    rel = relation.with_columns(d="a + c")
    assert rel.columns == ["a", "b", "c", "d"]
    assert sorted(rel.to_pandas()["d"]) == [11.0, 22.0, 33.0]


def test_get_and_iteration(relation):
    class Row(pt.Model):
        a: int
        b: str
        c: float

    typed = relation.set_model(Row)
    row = typed.get("a = 1")
    assert isinstance(row, Row)
    assert row.b == "X"

    with pytest.raises(RowDoesNotExist):
        typed.get("a = 99")
    with pytest.raises(MultipleRowsReturned):
        typed.get("b = 'X'")

    rows = sorted((r.a for r in typed), key=int)
    assert rows == [1, 2, 3]


def test_all(relation):
    assert relation.all("c > 0")
    assert not relation.all("c > 15")
    assert relation.all(b="X") is False


def test_repeated_all_compiles_no_code(spark, relation):
    # The check's plan must hit Spark's codegen cache once warm; a
    # ``limit(1).count()`` plan compiled anew on every call.
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    compiles = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()
    assert not relation.all("c > 15")
    before = compiles.getCount()
    assert not relation.all("c > 15")
    assert not relation.all("c > 15")
    assert compiles.getCount() == before


def test_equality(spark, db, relation):
    same = db.to_relation(
        spark.createDataFrame(
            [(3, "X", 30.0), (1, "X", 10.0), (2, "Y", 20.0)],
            schema="a long, b string, c double",
        )
    )
    assert relation == same
    assert not (relation == relation.filter("a > 1"))


def test_cast_with_model(spark, db):
    class M(pt.Model):
        a: int
        b: float

    rel = db.to_relation(
        spark.createDataFrame([(1, 2)], "a int, b int")
    ).set_model(M)
    casted = rel.cast()
    assert casted.types == {"a": "INT", "b": "DOUBLE"}
    assert rel.cast(strict=True).types == {"a": "BIGINT", "b": "DOUBLE"}


def test_with_missing_columns(spark, db):
    class M(pt.Model):
        a: int
        b: int = 42
        c: Optional[str] = None

    rel = db.to_relation(spark.createDataFrame([(1,)], "a long")).set_model(M)
    filled = rel.with_missing_defaultable_columns().with_missing_nullable_columns()
    row = filled.get("a = 1")
    assert row.b == 42
    assert row.c is None


def test_to_series(relation):
    series = relation["a"].to_series()
    assert sorted(series) == [1, 2, 3]
    with pytest.raises(TypeError):
        relation.to_series()


def test_to_df(relation):
    df = relation.to_df()
    assert isinstance(df, pt.DataFrame)
    assert df.count() == 3


def test_materialization_hints(spark, db):
    rel = db.to_relation(spark.createDataFrame([(1,), (2,)], "a long"))
    cached = rel.cache()
    assert cached.count() == 2
    assert cached._df.is_cached
    released = cached.unpersist()
    assert not released._df.is_cached

    persisted = rel.persist("MEMORY_AND_DISK")
    assert persisted._df.is_cached
    persisted.unpersist()

    checkpointed = rel.filter("a > 1").checkpoint()
    # lineage cut: the checkpointed plan no longer contains the filter
    assert checkpointed.count() == 1
    assert "ExistingRDD" in checkpointed._df._jdf.queryExecution().optimizedPlan().toString() or \
           "LogicalRDD" in checkpointed._df._jdf.queryExecution().optimizedPlan().toString()


def test_relation_asof_join(spark):
    import patito_spark as pt

    db = pt.Database(spark)
    trades = db.to_relation(
        spark.createDataFrame([("A", 25, 300)], "sym string, t long, qty long")
    )
    quotes = spark.createDataFrame(
        [("A", 10, 1.0), ("A", 20, 2.0), ("A", 30, 3.0)],
        "sym string, t long, px double",
    )
    row = trades.asof_join(quotes, on="t", by=["sym"]).to_df().first()
    assert (row["right_px"], row["right_t"]) == (2.0, 20)
    both = trades.asof_join(
        quotes, on="t", by=["sym"], direction="both"
    ).to_df().first()
    assert (both["right_t"], both["fwd_t"]) == (20, 30)


def test_relation_range_join(spark):
    import patito_spark as pt

    db = pt.Database(spark)
    points = db.to_relation(
        spark.createDataFrame([(5,), (25,)], "p long")
    )
    intervals = spark.createDataFrame(
        [(1, 0, 10)], "iv_id long, s long, e long"
    )
    got = sorted(
        r.p for r in points.range_join(intervals, "p", "s", "e")
    )
    assert got == [5]
