"""Validation engine tests (mirrors ref tests/test_validators.py).

All row-level checks run in a single Spark aggregation; these tests
assert each error class is raised with the right location.
"""

from typing import List, Literal, Optional

import pytest
from pyspark.sql import functions as F, types as T

import patito_spark as pt
from patito_spark.exceptions import DataFrameValidationError


def errors_by_loc(exc: DataFrameValidationError) -> dict:
    out = {}
    for err in exc.errors():
        out.setdefault(err["loc"][0], []).append(err["type"])
    return out


def validate_errors(spark, model, data, schema=None):
    df = spark.createDataFrame(data, schema=schema)
    with pytest.raises(DataFrameValidationError) as exc_info:
        model.validate_df(df)
    return errors_by_loc(exc_info.value)


def test_missing_column(spark):
    class M(pt.Model):
        a: int
        b: str

    locs = validate_errors(spark, M, [(1,)], schema="a long")
    assert locs == {"b": ["type_error.missingcolumns"]}


def test_superfluous_column(spark):
    class M(pt.Model):
        a: int

    locs = validate_errors(spark, M, [(1, "x")], schema="a long, extra string")
    assert locs == {"extra": ["type_error.superflouscolumns"]}


def test_superfluous_allowed(spark):
    class M(pt.Model):
        a: int

    df = spark.createDataFrame([(1, "x")], schema="a long, extra string")
    M.validate_df(df, allow_superfluous_columns=True)


def test_non_nullable_nulls(spark):
    class M(pt.Model):
        a: int
        b: Optional[int] = None

    locs = validate_errors(
        spark, M, [(None, 1), (2, None)], schema="a long, b long"
    )
    assert locs == {"a": ["value_error.missingvalues"]}


def test_dtype_mismatch(spark):
    class M(pt.Model):
        a: int

    locs = validate_errors(spark, M, [("1",)], schema="a string")
    assert locs == {"a": ["type_error.columndtype"]}


def test_compatible_smaller_int_dtype_ok(spark):
    class M(pt.Model):
        a: int

    df = spark.createDataFrame([(1,)], schema="a int")
    M.validate_df(df)


def test_dtype_override_enforced(spark):
    class M(pt.Model):
        a: int = pt.Field(dtype=T.IntegerType())

    locs = validate_errors(spark, M, [(1,)], schema="a long")
    assert locs == {"a": ["type_error.columndtype"]}


def test_enum_validation(spark):
    class M(pt.Model):
        zone: Literal["dry", "cold"]

    locs = validate_errors(spark, M, [("dry",), ("oven",)], schema="zone string")
    assert locs == {"zone": ["value_error.rowvalue"]}


def test_optional_enum_allows_null(spark):
    class M(pt.Model):
        zone: Optional[Literal["dry", "cold"]] = None

    df = spark.createDataFrame([("dry",), (None,)], schema="zone string")
    M.validate_df(df)


def test_uniqueness(spark):
    class M(pt.Model):
        a: int = pt.Field(unique=True)

    locs = validate_errors(spark, M, [(1,), (1,), (2,)], schema="a long")
    assert locs == {"a": ["value_error.rowvalue"]}


def test_bounds(spark):
    class M(pt.Model):
        a: int = pt.Field(ge=0, le=10)

    locs = validate_errors(spark, M, [(-1,), (5,), (11,)], schema="a long")
    assert locs == {"a": ["value_error.rowvalue"]}


def test_exclusive_bounds(spark):
    class M(pt.Model):
        a: int = pt.Field(gt=0, lt=10)

    locs = validate_errors(spark, M, [(0,), (10,)], schema="a long")
    assert locs == {"a": ["value_error.rowvalue"]}
    df = spark.createDataFrame([(1,), (9,)], schema="a long")
    M.validate_df(df)


def test_multiple_of(spark):
    class M(pt.Model):
        a: int = pt.Field(multiple_of=5)

    df = spark.createDataFrame([(0,), (5,), (10,)], schema="a long")
    M.validate_df(df)
    locs = validate_errors(spark, M, [(3,)], schema="a long")
    assert locs == {"a": ["value_error.rowvalue"]}


def test_const(spark):
    class M(pt.Model):
        a: int = pt.Field(3, const=True)

    df = spark.createDataFrame([(3,), (3,)], schema="a long")
    M.validate_df(df)
    locs = validate_errors(spark, M, [(3,), (4,)], schema="a long")
    assert locs == {"a": ["value_error.rowvalue"]}


def test_regex_pattern(spark):
    class M(pt.Model):
        color: str = pt.Field(pattern=r"^\#[0-9A-F]{6}$")

    df = spark.createDataFrame([("#AB00FF",)], schema="color string")
    M.validate_df(df)
    locs = validate_errors(spark, M, [("#ab00ff",)], schema="color string")
    assert locs == {"color": ["value_error.rowvalue"]}


def test_string_lengths(spark):
    class M(pt.Model):
        name: str = pt.Field(min_length=3, max_length=5)

    df = spark.createDataFrame([("abc",), ("abcde",)], schema="name string")
    M.validate_df(df)
    locs = validate_errors(spark, M, [("ab",), ("abcdef",)], schema="name string")
    assert locs == {"name": ["value_error.rowvalue"]}


def test_custom_constraint_sql_string(spark):
    class M(pt.Model):
        a: int = pt.Field(constraints="a % 2 = 0")

    df = spark.createDataFrame([(2,), (4,)], schema="a long")
    M.validate_df(df)
    locs = validate_errors(spark, M, [(2,), (3,)], schema="a long")
    assert locs == {"a": ["value_error.rowvalue"]}


def test_custom_constraint_underscore_alias(spark):
    """`_` refers to the field's own column (reference's pt.field)."""

    class M(pt.Model):
        a: int = pt.Field(constraints="_ > 0")
        b: int = pt.Field(constraints="_ < 0")

    df = spark.createDataFrame([(1, -1), (2, -2)], schema="a long, b long")
    M.validate_df(df)
    locs = validate_errors(spark, M, [(1, 1)], schema="a long, b long")
    assert locs == {"b": ["value_error.rowvalue"]}


def test_custom_constraint_column_object(spark):
    class M(pt.Model):
        a: int = pt.Field(constraints=F.col("a") != F.col("b"))
        b: int

    df = spark.createDataFrame([(1, 2)], schema="a long, b long")
    M.validate_df(df)
    locs = validate_errors(spark, M, [(1, 1)], schema="a long, b long")
    assert locs == {"a": ["value_error.rowvalue"]}


def test_list_dtype_validation(spark):
    class M(pt.Model):
        tags: List[str]

    df = spark.createDataFrame([(["a", "b"],)], schema="tags array<string>")
    M.validate_df(df)
    locs = validate_errors(spark, M, [([1, 2],)], schema="tags array<long>")
    assert locs == {"tags": ["type_error.columndtype"]}


def test_list_null_items(spark):
    class M(pt.Model):
        tags: List[str]

    locs = validate_errors(
        spark, M, [(["a", None],)], schema="tags array<string>"
    )
    assert locs == {"tags": ["value_error.missingvalues"]}


def test_nullable_list_items_ok(spark):
    class M(pt.Model):
        tags: List[Optional[str]]

    df = spark.createDataFrame([(["a", None],)], schema="tags array<string>")
    M.validate_df(df)


def test_multiple_errors_single_job(spark):
    class M(pt.Model):
        product_id: int = pt.Field(unique=True)
        zone: Literal["dry", "cold"]
        is_for_sale: bool

    df = spark.createDataFrame(
        [(1, "dry"), (1, "oven")], schema="product_id long, zone string"
    )
    with pytest.raises(DataFrameValidationError) as exc_info:
        M.validate_df(df)
    locs = errors_by_loc(exc_info.value)
    assert set(locs) == {"is_for_sale", "product_id", "zone"}
    assert exc_info.value.error_count() == 3


def test_approximate_unique(spark):
    class M(pt.Model):
        a: int = pt.Field(unique=True)

    df = spark.createDataFrame([(i,) for i in range(100)], schema="a long")
    M.validate_df(df, approximate_unique=True)


def test_valid_dataframe_passes(spark):
    class M(pt.Model):
        a: int = pt.Field(unique=True, ge=0)
        b: Optional[str] = None

    df = spark.createDataFrame([(1, "x"), (2, None)], schema="a long, b string")
    M.validate_df(df)


def _jobs(spark, group, fn):
    """The number of Spark jobs ``fn()`` launches, by statusTracker job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_validate_job_count(spark):
    """One aggregate: 2 jobs under AQE (the map stage, then the result),
    one more for the exchange of a unique column's count-distinct. An input
    that plans no exchange runs fewer."""

    class Checked(pt.Model):
        k: int = pt.Field(ge=0)
        kind: Literal["x", "y"]
        c: int = pt.Field(constraints="c < 100")

    class CheckedUnique(pt.Model):
        k: int = pt.Field(ge=0)
        kind: Literal["x", "y"]
        c: int = pt.Field(constraints="c < 100")
        u: int = pt.Field(unique=True)

    df = spark.range(0, 10_000, 1, 4).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "x").otherwise("y").alias("kind"),
        (F.col("id") % 100).alias("c"),
        F.col("id").alias("u"),
    )
    plain = df.drop("u")
    assert _jobs(spark, "validate-jobs", lambda: Checked.validate_df(plain)) <= 2
    assert (
        _jobs(spark, "validate-jobs-unique", lambda: CheckedUnique.validate_df(df))
        <= 3
    )
