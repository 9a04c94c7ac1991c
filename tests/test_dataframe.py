"""DataFrame wrapper tests (mirrors ref tests/test_polars.py)."""

from typing import Optional

import pytest
from pyspark.sql import functions as F, types as T

import patito_spark as pt
from patito_spark.exceptions import (
    DataFrameValidationError,
    MultipleRowsReturned,
    RowDoesNotExist,
)


class Product(pt.Model):
    product_id: int = pt.Field(unique=True)
    price: float


def test_set_model(spark):
    df = pt.DataFrame({"product_id": [1], "price": [10.0]})
    assert df.model is None
    bound = df.set_model(Product)
    assert bound.model is Product
    bound.validate()


def test_model_dataframe_class(spark):
    df = Product.DataFrame({"product_id": [1, 2], "price": [1.0, 2.0]})
    assert df.model is Product
    df.validate()


def test_column_order_preserved(spark):
    df = Product.DataFrame({"product_id": [1], "price": [2.0]})
    assert df.inner.columns == ["product_id", "price"]


def test_validation_failure(spark):
    df = Product.DataFrame({"product_id": [1, 1], "price": [1.0, 2.0]})
    with pytest.raises(DataFrameValidationError):
        df.validate()


def test_cast(spark):
    class M(pt.Model):
        a: int = pt.Field(dtype=T.IntegerType())
        b: float

    df = M.DataFrame({"a": [1], "b": [1]})  # b inferred long
    casted = df.cast()
    types = dict(casted.inner.dtypes)
    assert types == {"a": "int", "b": "double"}


def test_cast_strict(spark):
    class M(pt.Model):
        a: int

    sdf = spark.createDataFrame([(1,)], schema="a int")
    df = pt.DataFrame(sdf, model=M)
    assert dict(df.cast().inner.dtypes) == {"a": "int"}  # int is valid for int
    assert dict(df.cast(strict=True).inner.dtypes) == {"a": "bigint"}


def test_drop_model_complement(spark):
    class M(pt.Model):
        column_1: int

    df = pt.DataFrame(
        {"column_1": [1, 2], "column_2": [3, 4]}
    ).set_model(M)
    assert df.drop().inner.columns == ["column_1"]
    assert df.drop("column_2").inner.columns == ["column_1"]


def test_derive(spark):
    class Foo(pt.Model):
        bar: int = pt.Field(derived_from="foo")
        double_bar: int = pt.Field(derived_from=2 * F.col("bar"))

    df = pt.DataFrame({"foo": [1, 2]}, model=Foo).derive()
    rows = {tuple(r) for r in df.inner.select("foo", "bar", "double_bar").collect()}
    assert rows == {(1, 1, 2), (2, 2, 4)}


def test_fill_null_defaults(spark):
    class P(pt.Model):
        name: str
        price: int = 19

    sdf = spark.createDataFrame(
        [("apple", 10), ("banana", None)], schema="name string, price long"
    )
    df = pt.DataFrame(sdf, model=P).fill_null(strategy="defaults")
    assert {tuple(r) for r in df.inner.collect()} == {
        ("apple", 10),
        ("banana", 19),
    }


def test_get(spark):
    df = pt.DataFrame({"product_id": [1, 2, 3], "price": [10.0, 10.0, 20.0]})
    row = df.get(F.col("product_id") == 1)
    assert row.product_id == 1

    typed = df.set_model(Product).get("product_id = 1")
    assert isinstance(typed, Product)
    assert typed.price == 10.0

    with pytest.raises(MultipleRowsReturned):
        df.get(F.col("price") == 10.0)
    with pytest.raises(RowDoesNotExist):
        df.get(F.col("price") == 0.0)


def test_passthrough_preserves_model(spark):
    df = Product.DataFrame({"product_id": [1, 2], "price": [1.0, 2.0]})
    filtered = df.filter("price > 1.5")
    assert filtered.model is Product
    assert filtered.count() == 1
    selected = df.select("product_id", "price").limit(1)
    assert selected.model is Product


def test_validate_without_model_raises(spark):
    df = pt.DataFrame({"a": [1]})
    with pytest.raises(TypeError):
        df.validate()


def test_read_csv_with_model(spark, tmp_path):
    class CSVModel(pt.Model):
        a: float
        b: str

    path = str(tmp_path / "data.csv")
    with open(path, "w") as f:
        f.write("1.0,x\n2.5,y\n")
    df = CSVModel.DataFrame.read_csv(path, header=False)
    df.validate()
    assert dict(df.inner.dtypes) == {"a": "double", "b": "string"}


def test_read_csv_derived_from(spark, tmp_path):
    class CSVModel(pt.Model):
        a: float
        b: str = pt.Field(derived_from="source_of_b")

    path = str(tmp_path / "data.csv")
    with open(path, "w") as f:
        f.write("a,source_of_b\n1,1\n")
    df = CSVModel.DataFrame.read_csv(path).drop()
    assert sorted(df.inner.columns) == ["a", "b"]
    df.validate()


def test_read_parquet_prunes_to_model(spark, tmp_path, sf_dir):
    class Nation(pt.Model):
        n_nationkey: int = pt.Field(dtype=T.IntegerType())
        n_name: str

    df = Nation.DataFrame.read_parquet(f"{sf_dir}/nation.parquet")
    assert df.inner.columns == ["n_nationkey", "n_name"]
    df.validate()
    # Column pruning must reach the parquet scan.
    plan = df.inner._jdf.queryExecution().executedPlan().toString()
    assert "n_regionkey" not in plan


def test_write_parquet_roundtrip(spark, tmp_path):
    path = str(tmp_path / "out.parquet")
    df = Product.DataFrame({"product_id": [1, 2], "price": [1.0, 2.0]})
    df.write_parquet(path, validate=True)
    back = spark.read.parquet(path)
    assert back.count() == 2

    bad = Product.DataFrame({"product_id": [1, 1], "price": [1.0, 2.0]})
    with pytest.raises(DataFrameValidationError):
        bad.write_parquet(str(tmp_path / "bad.parquet"), validate=True)


def test_collect_returns_model_aware_wrapper(spark):
    """Ported lazy()...collect().validate() chains keep the wrapper
    (ref polars.py:68-133 LazyFrame.collect)."""
    import patito_spark as pt

    class Product(pt.Model):
        name: str
        price: int

    sdf = spark.createDataFrame([("apple", 25), ("banana", 61)], "name string, price long")
    df = pt.DataFrame(sdf, model=Product)
    out = df.lazy().filter("price > 30").collect()
    assert isinstance(out, pt.DataFrame)
    assert out.model is Product
    out.validate()  # model-aware method still available post-collect
    assert [r["name"] for r in out.inner.collect()] == ["banana"]


def test_orc_round_trip(spark, tmp_path):
    import patito_spark as pt
    from patito_spark.sources import read_orc, write_orc

    class Product(pt.Model):
        pid: int
        name: str

    sdf = spark.createDataFrame([(1, "a"), (2, "b")], "pid long, name string, extra string"
                                .replace(", extra string", ""))
    df = pt.DataFrame(sdf, model=Product)
    path = str(tmp_path / "orc_rt")
    write_orc(df, path, validate=True)
    back = read_orc(path, model=Product, spark=spark)
    back.validate()
    assert sorted(tuple(r) for r in back.inner.collect()) == [(1, "a"), (2, "b")]


def test_read_orc_prunes_columns(spark, tmp_path):
    import patito_spark as pt
    from patito_spark.sources import read_orc

    class Narrow(pt.Model):
        pid: int

    path = str(tmp_path / "orc_wide")
    spark.createDataFrame([(1, "x", 2.0)], "pid long, s string, v double").write.orc(path)
    out = read_orc(path, model=Narrow, spark=spark)
    assert out.inner.columns == ["pid"]


def test_with_column_aliases(spark):
    import patito_spark as pt
    from pyspark.sql import functions as F

    df = pt.DataFrame(spark.createDataFrame([(1,)], "a long"))
    out = df.with_column("b", F.col("a") * 2).with_columns(
        (F.col("a") + 10).alias("c"), d=F.lit("x")
    )
    assert isinstance(out, pt.DataFrame)
    row = out.inner.first()
    assert (row["b"], row["c"], row["d"]) == (2, 11, "x")


def test_model_validate_dispatch(spark):
    import patito_spark as pt
    from patito_spark.exceptions import DataFrameValidationError
    import pytest as _pytest

    class Item(pt.Model):
        k: int
        v: float = pt.Field(ge=0)

    good = spark.createDataFrame([(1, 1.0)], "k long, v double")
    Item.validate(good)  # reference-style call shape, no raise
    bad = spark.createDataFrame([(1, -1.0)], "k long, v double")
    with _pytest.raises(DataFrameValidationError):
        Item.validate(bad)
    # non-dataframe argument falls through to pydantic model validation
    inst = Item.validate({"k": 1, "v": 2.0})
    assert inst.k == 1


def test_read_parquet_reinfers_a_rewritten_file(spark, tmp_path):
    """read_parquet infers each file version's schema once per session: a
    file rewritten with a new column type reads with the new type, and
    validate() reports the mismatch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    class M(pt.Model):
        a: int

    path = str(tmp_path / "rewritten.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    first = M.DataFrame.read_parquet(path)
    assert first.inner.schema == spark.read.parquet(path).schema
    first.validate()

    pq.write_table(pa.table({"a": ["x", "yy", "zzz"]}), path)
    again = M.DataFrame.read_parquet(path)
    assert again.inner.schema == spark.read.parquet(path).schema
    assert again.inner.schema["a"].dataType == T.StringType()
    with pytest.raises(DataFrameValidationError) as exc_info:
        again.validate()
    assert [e["type"] for e in exc_info.value.errors()] == ["type_error.columndtype"]
