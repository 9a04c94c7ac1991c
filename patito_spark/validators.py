"""Validation compiler: Spark DataFrame vs model schema in ONE scan.

Covers the reference's validation surface (reference: src/patito/validators.py,
318 LOC) but re-architected for scale: the reference runs several full polars
passes per column (null count, enum scan, uniqueness, bounds filter, custom
constraints — each its own traversal). At 100 TB every extra pass is a full
table scan, so here :func:`row_checks` compiles every row-level check to a
violation predicate, and :func:`validate` counts them all in a single
``df.agg(...)`` over one scan (with AQE on, one job per stage: 2, or 3
when a ``unique`` column's count-distinct adds an exchange). Streams AND
the same predicates per record (``streaming.validate.row_validity_column``).
Schema-level checks (missing/superfluous columns, dtypes) read only
driver-side metadata and cost nothing.
"""

from __future__ import annotations

import re
from functools import reduce
from typing import TYPE_CHECKING, NamedTuple, Optional

from pyspark.sql import Column, DataFrame as SparkDataFrame, functions as F
from pyspark.sql import types as T

from patito_spark.exceptions import (
    ColumnDTypeError,
    DataFrameValidationError,
    ErrorWrapper,
    MissingColumnsError,
    MissingValuesError,
    RowValueError,
    SuperflousColumnsError,
)

if TYPE_CHECKING:
    from patito_spark.model import ColumnSpec, Model

# Matches a bare `_` identifier in a constraint's SQL string or Column
# string (the reference's ``pt.field`` self-reference, ref
# validators.py:269-293), but not the `_` inside a snake_case name.
_UNDERSCORE_RE = re.compile(r"(?<![\w`])_(?![\w`])")


def _types_compatible(actual: T.DataType, expected: T.DataType) -> bool:
    if isinstance(expected, T.DecimalType) and isinstance(actual, T.DecimalType):
        return True
    if isinstance(expected, T.ArrayType) and isinstance(actual, T.ArrayType):
        return _types_compatible(actual.elementType, expected.elementType)
    if isinstance(expected, T.MapType) and isinstance(actual, T.MapType):
        return _types_compatible(actual.keyType, expected.keyType) and (
            _types_compatible(actual.valueType, expected.valueType)
        )
    if isinstance(expected, T.StructType) and isinstance(actual, T.StructType):
        if [f.name for f in expected.fields] != [f.name for f in actual.fields]:
            return False
        return all(
            _types_compatible(a.dataType, e.dataType)
            for a, e in zip(actual.fields, expected.fields)
        )
    return actual == expected


def _dtype_ok(actual: T.DataType, valid: list[T.DataType]) -> bool:
    return any(_types_compatible(actual, v) for v in valid)


class RowCheck(NamedTuple):
    """One row-level check of one model field.

    ``violation`` is a boolean Column that is never NULL and is TRUE
    exactly for a row that fails the check. ``detail`` is True only for a
    ``constraints`` check that reads ``_`` (the field's own column), which
    a caller has to bind before it evaluates ``violation``.
    """

    kind: str
    column: str
    violation: Column
    detail: bool = False


def _all(checks: list[Column]) -> Column:
    return reduce(lambda a, b: a & b, checks)


def _fails(predicate: Column) -> Column:
    """TRUE where ``predicate`` is FALSE; a NULL result passes."""
    return F.coalesce(~predicate, F.lit(False))


def _column_checks(spec: "ColumnSpec") -> list[RowCheck]:
    name = spec.name
    col = F.col(name)
    checks = []
    if not spec.nullable:
        checks.append(RowCheck("nulls", name, col.isNull()))
    if isinstance(spec.spark_type, T.ArrayType) and not (
        spec.spark_type.containsNull
    ):
        no_null_items = F.forall(col, lambda x: x.isNotNull())
        checks.append(RowCheck("list_nulls", name, _fails(no_null_items)))
    # Enum and bounds skip NULL fields: the null check owns those rows.
    if spec.enum_values is not None:
        allowed = col.isNull() | col.isin(spec.enum_values)
        checks.append(RowCheck("enum", name, _fails(allowed)))
    bounds = []
    if spec.ge is not None:
        bounds.append(col >= spec.ge)
    if spec.gt is not None:
        bounds.append(col > spec.gt)
    if spec.le is not None:
        bounds.append(col <= spec.le)
    if spec.lt is not None:
        bounds.append(col < spec.lt)
    if spec.multiple_of is not None:
        bounds.append((col == 0) | (col % spec.multiple_of == 0))
    if spec.const and spec.has_default:
        bounds.append(col == F.lit(spec.default))
    if spec.pattern is not None:
        bounds.append(col.rlike(spec.pattern))
    if spec.min_length is not None:
        bounds.append(F.length(col) >= spec.min_length)
    if spec.max_length is not None:
        bounds.append(F.length(col) <= spec.max_length)
    if bounds:
        checks.append(RowCheck("bounds", name, _fails(col.isNull() | _all(bounds))))
    # Constraints run on every row, NULL fields included. SQL strings
    # (``patito_spark.field`` renders one) may refer to the field's own
    # column as ``_``; Column constraints as ``F.col("_")``.
    constraints: list[Column] = []
    binds_self = False
    for constraint in spec.constraints:
        if isinstance(constraint, str):
            text, constraint = constraint, F.expr(constraint)
        elif isinstance(constraint, Column):
            text = str(constraint)
        else:
            raise TypeError(
                f"Invalid constraint type {type(constraint)} for column "
                f"{spec.name!r}; expected Spark Column or SQL string."
            )
        binds_self = binds_self or bool(_UNDERSCORE_RE.search(text))
        constraints.append(constraint)
    if constraints:
        violation = _fails(_all(constraints))
        checks.append(RowCheck("constraints", name, violation, binds_self))
    return checks


def row_checks(schema: type["Model"]) -> list[RowCheck]:
    """Compile every row-level check of ``schema``, field by field.

    Batch :func:`validate` counts each check's violations in one
    aggregate; stream validity (``streaming.validate.row_validity_column``)
    keeps a row when no check is violated. Uniqueness is cross-row and is
    not a row check.
    """
    return [
        check
        for spec in schema.column_specs.values()
        for check in _column_checks(spec)
    ]


def _duplicates(col: Column, approximate: bool) -> Column:
    """Aggregate: the number of extra rows that repeat a value of ``col``.

    Count semantics deviate from the reference DELIBERATELY:
    is_duplicated().sum() (ref validators.py:225) counts every row whose
    value appears more than once (a pair counts 2); count - count_distinct
    counts the EXTRA rows (a pair counts 1). The reference's number needs
    the count of singleton values — a second aggregation level over the
    per-value counts, i.e. a second shuffle — which would break this
    validator's single-pass design. The message wording ("N duplicated
    rows" vs "N rows with duplicated values") differs on purpose so the
    numbers aren't mistaken for each other.
    """
    # count/count_distinct both skip NULLs, so duplicated nulls in a
    # nullable unique column would otherwise validate clean; the
    # reference's is_duplicated() counts them (ref validators.py:225).
    null_dups = F.greatest(F.count(F.when(col.isNull(), 1)) - F.lit(1), F.lit(0))
    if not approximate:
        return F.count(col) - F.count_distinct(col) + null_dups
    # HLL sketch (rsd 1%): only flag when duplicates exceed the sketch's
    # error band, so small overestimates don't produce false positives.
    # Duplicated NULLs are counted exactly (approx_count_distinct skips
    # NULLs, so the sketch can't see them).
    extra = F.count(col) - F.approx_count_distinct(col, rsd=0.01)
    band = F.greatest((F.count(col) * F.lit(0.02)).cast("long"), F.lit(1))
    return F.when(extra > band, extra).otherwise(F.lit(0)) + null_dups


# kind -> (exception, message). Errors of one column are reported in this
# order.
_MESSAGES = {
    "nulls": (MissingValuesError, "{n} missing value{s}"),
    "list_nulls": (MissingValuesError, "{n} missing value{s} in lists"),
    "enum": (RowValueError, "Rows with invalid values: {sample}."),
    "bounds": (RowValueError, "{n} row{s} with out of bound values."),
    "unique": (RowValueError, "{n} duplicated row{s}."),
    "constraints": (RowValueError, "{n} row{s} does not match custom constraints."),
}


def validate(
    dataframe,
    schema: type["Model"],
    *,
    allow_superfluous_columns: bool = False,
    approximate_unique: bool = False,
) -> None:
    """Validate ``dataframe`` against ``schema``; raise on any failure.

    Args:
        dataframe: A ``pyspark.sql.DataFrame`` or ``patito_spark.DataFrame``.
        schema: The ``patito_spark.Model`` subclass to validate against.
        allow_superfluous_columns: Skip the extra-columns check.
        approximate_unique: Use ``approx_count_distinct`` for uniqueness —
            at 100 TB exact multi-column count-distinct forces an Expand of
            the input; HLL keeps it one cheap pass (±2% default error).

    Raises:
        DataFrameValidationError: aggregating every failed check.
    """
    from patito_spark.dataframe import DataFrame as PatitoDataFrame

    if isinstance(dataframe, PatitoDataFrame):
        df: SparkDataFrame = dataframe.inner
    else:
        df = dataframe

    errors = _find_errors(
        df,
        schema,
        allow_superfluous_columns=allow_superfluous_columns,
        approximate_unique=approximate_unique,
    )
    if errors:
        raise DataFrameValidationError(errors=errors, model=schema)


def _find_errors(
    df: SparkDataFrame,
    schema: type["Model"],
    *,
    allow_superfluous_columns: bool = False,
    approximate_unique: bool = False,
) -> list[ErrorWrapper]:
    errors: list[ErrorWrapper] = []
    specs = schema.column_specs
    df_types = {f.name: f.dataType for f in df.schema.fields}

    # --- schema-level checks: metadata only, no Spark job ---------------- #
    for missing in [c for c in specs if c not in df_types]:
        errors.append(ErrorWrapper(MissingColumnsError("Missing column"), missing))
    if not allow_superfluous_columns:
        for extra in [c for c in df_types if c not in specs]:
            errors.append(
                ErrorWrapper(SuperflousColumnsError("Superflous column"), extra)
            )

    valid_dtypes = schema.valid_dtypes
    for name, spec in specs.items():
        if name in df_types and not _dtype_ok(df_types[name], valid_dtypes[name]):
            errors.append(
                ErrorWrapper(
                    ColumnDTypeError(
                        f"Spark dtype {df_types[name].simpleString()} does not "
                        "match model field type."
                    ),
                    name,
                )
            )

    # --- row-level checks: one aggregation ------------------------------ #
    aggregate, keys = _check_aggregate(df, schema, approximate_unique)
    if aggregate is None:
        return errors
    found = dict(zip(keys, aggregate.first()))
    rank = {name: i for i, name in enumerate(specs)}
    kinds = list(_MESSAGES)
    failed = [key for key, n in found.items() if key[0] in _MESSAGES and n]
    for kind, name in sorted(failed, key=lambda k: (rank[k[1]], kinds.index(k[0]))):
        n = found[kind, name]
        exc, message = _MESSAGES[kind]
        sample = set(found.get(("sample", name)) or [])
        text = message.format(n=n, s="" if n == 1 else "s", sample=sample)
        errors.append(ErrorWrapper(exc(text), name))
    return errors


def _check_aggregate(
    df: SparkDataFrame,
    schema: type["Model"],
    approximate_unique: bool = False,
) -> tuple[Optional[SparkDataFrame], list[tuple[str, str]]]:
    """The one-row aggregate over ``df`` of every row check that applies.

    Returns the aggregate (None when no check applies) and the
    ``(kind, column)`` each of its columns counts; ``("sample", column)``
    holds up to 5 offending values of an enum.
    """
    specs = schema.column_specs
    valid_dtypes = schema.valid_dtypes
    df_types = {f.name: f.dataType for f in df.schema.fields}
    # Value checks are skipped where the dtype is wrong: their expressions
    # would fail analysis, and the dtype error is already recorded.
    checked = [
        name
        for name in specs
        if name in df_types and _dtype_ok(df_types[name], valid_dtypes[name])
    ]
    slots: list[tuple[str, str, Column]] = []  # (kind, column, aggregate)
    work = df
    for check in row_checks(schema):
        name, violation = check.column, check.violation
        if name not in checked:
            continue
        if check.kind == "list_nulls" and not df_types[name].containsNull:
            continue  # the frame's type already forbids null items
        if check.kind == "constraints" and check.detail:
            # Bind `_` to this field's column and project the result before
            # the next field rebinds `_`. Catalyst collapses the chained
            # projections into the one scan.
            flag = f"__pt_constraint_{name}"
            work = work.withColumn("_", F.col(name)).withColumn(flag, violation)
            violation = F.col(flag)
        if check.kind == "list_nulls":
            # The message counts missing items, not rows.
            nulls = F.size(F.filter(F.col(name), lambda x: x.isNull()))
            count = F.sum(F.when(violation, nulls))
        else:
            # count(CASE WHEN ...), not count_if: count_if's rewrite adds a
            # Project for its common subexpression.
            count = F.count(F.when(violation, 1))
        slots.append((check.kind, name, count))
        if check.kind == "enum":
            sample = F.collect_set(F.when(violation, F.col(name)))
            slots.append(("sample", name, F.slice(sample, 1, 5)))
    for name in checked:
        if specs[name].unique:
            slots.append(
                ("unique", name, _duplicates(F.col(name), approximate_unique))
            )
    if not slots:
        return None, []
    aggregate = work.agg(
        *(agg.alias(f"__pt_{i}") for i, (_, _, agg) in enumerate(slots))
    )
    return aggregate, [(kind, name) for kind, name, _ in slots]
