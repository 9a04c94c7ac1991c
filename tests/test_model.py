"""Model schema introspection + algebra (mirrors ref tests/test_model.py)."""

import datetime as dt
from typing import List, Literal, Optional

import pytest
from pyspark.sql import types as T

import patito_spark as pt


class Product(pt.Model):
    product_id: int = pt.Field(unique=True)
    name: str
    temperature_zone: Literal["dry", "cold", "frozen"]
    price: float = pt.Field(ge=0)
    barcode: Optional[str] = None


def test_columns():
    assert Product.columns == [
        "product_id",
        "name",
        "temperature_zone",
        "price",
        "barcode",
    ]


def test_dtypes():
    assert Product.dtypes == {
        "product_id": T.LongType(),
        "name": T.StringType(),
        "temperature_zone": T.StringType(),
        "price": T.DoubleType(),
        "barcode": T.StringType(),
    }


def test_valid_dtypes():
    assert T.IntegerType() in Product.valid_dtypes["product_id"]
    assert T.FloatType() in Product.valid_dtypes["price"]
    assert Product.valid_dtypes["name"] == [T.StringType()]


def test_dtype_override():
    class M(pt.Model):
        a: int = pt.Field(dtype=T.IntegerType())

    assert M.dtypes["a"] == T.IntegerType()
    assert M.valid_dtypes["a"] == [T.IntegerType()]


def test_spark_schema_nullability():
    schema = Product.spark_schema
    assert schema["product_id"].nullable is False
    assert schema["barcode"].nullable is True


def test_sql_types_and_ddl():
    assert Product.sql_types["product_id"] == "BIGINT"
    assert Product.sql_types["price"] == "DOUBLE"
    assert "product_id BIGINT NOT NULL" in Product.ddl


def test_nullability_sets():
    assert Product.non_nullable_columns == {
        "product_id",
        "name",
        "temperature_zone",
        "price",
    }
    assert Product.nullable_columns == {"barcode"}
    assert Product.unique_columns == {"product_id"}


def test_defaults():
    class M(pt.Model):
        name: str
        price: int = 0
        zone: Literal["dry", "cold"] = "dry"

    assert M.defaults == {"price": 0, "zone": "dry"}


def test_list_and_map_dtypes():
    class M(pt.Model):
        tags: List[str]
        embedding: List[float]
        meta: dict[str, int]

    assert M.dtypes["tags"] == T.ArrayType(T.StringType(), containsNull=False)
    assert M.dtypes["embedding"] == T.ArrayType(T.DoubleType(), containsNull=False)
    assert M.dtypes["meta"] == T.MapType(
        T.StringType(), T.LongType(), valueContainsNull=False
    )


def test_temporal_dtypes():
    class M(pt.Model):
        d: dt.date
        ts: dt.datetime

    assert M.dtypes == {"d": T.DateType(), "ts": T.TimestampType()}


def test_model_joins():
    class A(pt.Model):
        a: int

    class B(pt.Model):
        b: int

    inner = A.join(B, how="inner")
    assert inner.columns == ["a", "b"]
    assert inner.nullable_columns == set()

    left = A.join(B, how="left")
    assert left.nullable_columns == {"b"}

    outer = A.join(B, how="outer")
    assert sorted(outer.nullable_columns) == ["a", "b"]

    assert A.join(B, how="anti") is A
    assert A.join(B, how="semi") is A


def test_model_select_drop():
    class M(pt.Model):
        a: int
        b: int
        c: int

    assert M.select("a").columns == ["a"]
    assert sorted(M.select(["b", "c"]).columns) == ["b", "c"]
    with pytest.raises(ValueError):
        M.select("nonexistent")
    assert M.drop("c").columns == ["a", "b"]
    assert M.drop(["b", "c"]).columns == ["a"]


def test_model_prefix_suffix_rename():
    class M(pt.Model):
        a: int
        b: int

    assert M.prefix("x_").columns == ["x_a", "x_b"]
    assert M.suffix("_x").columns == ["a_x", "b_x"]
    renamed = M.rename({"a": "A"})
    assert set(renamed.columns) == {"A", "b"}
    with pytest.raises(ValueError):
        M.rename({"zzz": "y"})


def test_with_fields():
    class M(pt.Model):
        a: int

    expanded = M.with_fields(b=(int, ...))
    assert expanded.columns == ["a", "b"]
    assert expanded.non_nullable_columns == {"a", "b"}


def test_derived_field_preserved_through_algebra():
    class M(pt.Model):
        a: int
        b: int = pt.Field(derived_from="a")

    selected = M.select(["a", "b"])
    assert selected.derived_columns == {"b": "a"}


def test_from_row():
    row = {"product_id": 1, "name": "apple", "temperature_zone": "dry", "price": 1.0}
    product = Product.from_row(row)
    assert product.product_id == 1
    assert product.barcode is None


def test_from_row_no_validation():
    row = {
        "product_id": "not-an-int",
        "name": "apple",
        "temperature_zone": "dry",
        "price": 1.0,
    }
    product = Product.from_row(row, validate=False)
    assert product.product_id == "not-an-int"


def test_enum_annotated_field():
    import enum

    class Zone(enum.Enum):
        DRY = "dry"
        COLD = "cold"

    class M(pt.Model):
        zone: Zone

    assert M.dtypes["zone"] == T.StringType()
    assert M.column_specs["zone"].enum_values == ["dry", "cold"]


def test_mixed_literal_types_rejected():
    class M(pt.Model):
        bad: Literal[1, "a"]

    with pytest.raises(TypeError):
        M.dtypes


def test_from_pandas_row():
    import pandas as pd

    row = pd.DataFrame(
        {
            "product_id": [1],
            "name": ["apple"],
            "temperature_zone": ["dry"],
            "price": [1.0],
        }
    )
    product = Product.from_row(row)
    assert product.product_id == 1
    series = row.iloc[0]
    assert Product.from_row(series).name == "apple"
    with pytest.raises(ValueError):
        Product.from_row(pd.concat([row, row]))


def test_column_specs_cache_is_per_class():
    # A class's cached specs must not leak into a subclass defined later.
    pt.Model.column_specs
    class C(pt.Model):
        c: int

    assert C.spark_schema.fieldNames() == ["c"]

    class A(pt.Model):
        a: int

    assert list(A.column_specs) == ["a"]

    class B(A):
        b: int

    assert list(B.column_specs) == ["a", "b"]
    assert list(A.column_specs) == ["a"]
