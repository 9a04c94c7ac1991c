"""Model layer: pydantic v2 models as Spark DataFrame schemas.

Re-expresses the reference model surface (reference: src/patito/pydantic.py,
1491 LOC, Polars+pydantic-v1) on top of PySpark:

* class-level schema introspection (``columns``, ``dtypes``, ``valid_dtypes``,
  ``sql_types``, ``defaults``, ``non_nullable_columns``, ``unique_columns``,
  ref pydantic.py:94-524) — mapped to ``pyspark.sql.types`` and a
  ``spark_schema`` StructType,
* dataframe validation entrypoint (ref pydantic.py:670-715),
* dummy-data generation (ref pydantic.py:717-1042),
* model algebra: join/select/drop/rename/prefix/suffix/with_fields
  (ref pydantic.py:1044-1328).

The implementation is pydantic-v2 native: field metadata is read from
``FieldInfo.metadata`` (annotated_types) and ``json_schema_extra`` instead of
the v1 JSON-schema dict, so Spark ``Column`` constraint objects survive
untouched.
"""

from __future__ import annotations

import datetime as dt
import enum
import itertools
from collections.abc import Iterable
from dataclasses import dataclass, field as dataclass_field
from decimal import Decimal
from typing import (
    Any,
    ClassVar,
    Literal,
    Optional,
    TYPE_CHECKING,
    TypeVar,
    Union,
    get_args,
    get_origin,
)

import annotated_types
from pydantic import BaseModel, create_model
from pydantic import Field as PydanticField
from pydantic._internal._model_construction import (
    ModelMetaclass as PydanticModelMetaclass,
)
from pydantic.fields import FieldInfo
from pydantic_core import PydanticUndefined
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import Column, SparkSession

    from patito_spark.dataframe import DataFrame

ModelType = TypeVar("ModelType", bound="Model")

# Keys patito_spark stashes in Field(json_schema_extra=...).
_EXTRA_KEYS = ("unique", "dtype", "constraints", "derived_from", "const")


def Field(
    default: Any = PydanticUndefined,
    *,
    unique: bool = False,
    dtype: Optional[T.DataType] = None,
    constraints: Optional[Union["Column", str, list]] = None,
    derived_from: Optional[Union[str, "Column"]] = None,
    const: bool = False,
    **kwargs: Any,
) -> Any:
    """Annotate a model field with Spark-side validation information.

    Mirrors the reference Field surface (ref pydantic.py:1420-1491):

    Args:
        default: Default value for the field.
        unique: All row values must be unique.
        dtype: Required ``pyspark.sql.types.DataType`` for the column
            (e.g. ``IntegerType()``); otherwise the default dtype for the
            annotation is used and any compatible dtype validates.
        constraints: One or more constraints, each a Spark ``Column``
            boolean expression, a SQL string, or an expression built from
            ``patito_spark.field`` (a sessionless SQL builder — usable at
            import time, supports the reference tutorial's
            ``pt.field.sum() == 100.0`` spelling with polars broadcast
            semantics). Use ``_`` to refer to the field's own column.
        derived_from: Source for ``DataFrame.derive()``: a column name string
            or a Spark ``Column`` expression.
        const: All values must equal the provided default.
        **kwargs: Forwarded to ``pydantic.Field`` (gt/ge/lt/le, multiple_of,
            pattern, min_length, max_length, ...).
    """
    extra = dict(kwargs.pop("json_schema_extra", None) or {})
    if unique:
        extra["unique"] = True
    if dtype is not None:
        extra["dtype"] = dtype
    if constraints is not None:
        extra["constraints"] = constraints
    if derived_from is not None:
        extra["derived_from"] = derived_from
    if const:
        extra["const"] = True
    return PydanticField(default, json_schema_extra=extra or None, **kwargs)


def _unwrap_optional(annotation: Any) -> tuple[Any, bool]:
    """Return (inner_type, nullable) for a possibly-Optional annotation."""
    origin = get_origin(annotation)
    import types as _types

    if origin is Union or origin is getattr(_types, "UnionType", None):
        args = [a for a in get_args(annotation) if a is not type(None)]
        nullable = len(args) != len(get_args(annotation))
        if len(args) == 1:
            return args[0], nullable
        raise NotImplementedError(
            f"Union types with multiple non-None members are not supported: "
            f"{annotation}"
        )
    return annotation, False


@dataclass
class ColumnSpec:
    """Resolved per-field schema + constraint information."""

    name: str
    annotation: Any
    inner_type: Any
    nullable: bool
    has_default: bool = False
    default: Any = None
    unique: bool = False
    dtype_override: Optional[T.DataType] = None
    constraints: list = dataclass_field(default_factory=list)
    derived_from: Any = None
    const: bool = False
    ge: Any = None
    gt: Any = None
    le: Any = None
    lt: Any = None
    multiple_of: Any = None
    pattern: Optional[str] = None
    min_length: Optional[int] = None
    max_length: Optional[int] = None
    enum_values: Optional[list] = None

    @property
    def spark_type(self) -> T.DataType:
        if self.dtype_override is not None:
            return self.dtype_override
        return default_spark_type(self.inner_type)

    @property
    def valid_spark_types(self) -> list[T.DataType]:
        if self.dtype_override is not None:
            return [self.dtype_override]
        return valid_spark_types(self.inner_type)

    @property
    def struct_field(self) -> T.StructField:
        return T.StructField(self.name, self.spark_type, nullable=self.nullable)

    def properties(self) -> dict[str, Any]:
        """Dict form, analogous to ref Model._schema_properties() values."""
        props: dict[str, Any] = {"required": not self.nullable}
        if self.has_default:
            props["default"] = self.default
        if self.unique:
            props["unique"] = True
        if self.dtype_override is not None:
            props["dtype"] = self.dtype_override
        if self.constraints:
            props["constraints"] = self.constraints
        if self.derived_from is not None:
            props["derived_from"] = self.derived_from
        if self.const:
            props["const"] = self.default
        for key in ("ge", "gt", "le", "lt", "multiple_of", "pattern",
                    "min_length", "max_length"):
            value = getattr(self, key)
            if value is not None:
                props[key] = value
        if self.enum_values is not None:
            props["enum"] = list(self.enum_values)
        return props


_SIMPLE_DEFAULTS: dict[Any, T.DataType] = {
    int: T.LongType(),
    float: T.DoubleType(),
    str: T.StringType(),
    bool: T.BooleanType(),
    dt.date: T.DateType(),
    dt.datetime: T.TimestampType(),
    dt.timedelta: T.DayTimeIntervalType(),
    bytes: T.BinaryType(),
    Decimal: T.DecimalType(38, 18),
}

_SIMPLE_VALID: dict[Any, list[T.DataType]] = {
    int: [T.LongType(), T.IntegerType(), T.ShortType(), T.ByteType()],
    float: [T.DoubleType(), T.FloatType()],
    str: [T.StringType()],
    bool: [T.BooleanType()],
    dt.date: [T.DateType()],
    dt.datetime: [T.TimestampType(), T.TimestampNTZType()],
    dt.timedelta: [T.DayTimeIntervalType()],
    bytes: [T.BinaryType()],
}


def default_spark_type(python_type: Any) -> T.DataType:
    """Map a python annotation to patito_spark's default Spark dtype."""
    inner, _ = _unwrap_optional(python_type)
    if inner in _SIMPLE_DEFAULTS:
        return _SIMPLE_DEFAULTS[inner]
    origin = get_origin(inner)
    if origin in (list, tuple):
        (item,) = get_args(inner)[:1] or (str,)
        item_inner, item_nullable = _unwrap_optional(item)
        return T.ArrayType(default_spark_type(item_inner), containsNull=item_nullable)
    if origin is dict:
        key_t, val_t = get_args(inner) or (str, str)
        val_inner, val_nullable = _unwrap_optional(val_t)
        return T.MapType(
            default_spark_type(key_t),
            default_spark_type(val_inner),
            valueContainsNull=val_nullable,
        )
    if get_origin(inner) is Literal:
        literal_types = {type(v) for v in get_args(inner)}
        if len(literal_types) > 1:
            raise TypeError(
                "All enumerated values of Literal-annotated fields must have "
                f"the same type, got {sorted(t.__name__ for t in literal_types)}."
            )
        return default_spark_type(literal_types.pop())
    if isinstance(inner, type) and issubclass(inner, enum.Enum):
        member_types = {type(v.value) for v in inner}
        if len(member_types) > 1:
            raise TypeError(
                "All enumerated values of enums used to annotate patito_spark "
                "model fields must have the same type."
            )
        return default_spark_type(member_types.pop())
    if isinstance(inner, type) and issubclass(inner, BaseModel):
        if hasattr(inner, "spark_schema"):
            return inner.spark_schema  # nested patito_spark Model
        return _struct_from_basemodel(inner)
    if inner is Decimal:
        return _SIMPLE_DEFAULTS[Decimal]
    raise NotImplementedError(f"No Spark dtype mapping found for {python_type!r}.")


def valid_spark_types(python_type: Any) -> list[T.DataType]:
    """All Spark dtypes patito_spark considers valid for an annotation."""
    inner, _ = _unwrap_optional(python_type)
    if inner in _SIMPLE_VALID:
        return list(_SIMPLE_VALID[inner])
    if inner is Decimal:
        return [T.DecimalType(38, 18)]  # any precision accepted at check time
    origin = get_origin(inner)
    if origin in (list, tuple):
        (item,) = get_args(inner)[:1] or (str,)
        item_inner, item_nullable = _unwrap_optional(item)
        return [
            T.ArrayType(item_type, containsNull=item_nullable)
            for item_type in valid_spark_types(item_inner)
        ]
    if get_origin(inner) is Literal or (
        isinstance(inner, type) and issubclass(inner, enum.Enum)
    ):
        return [default_spark_type(inner)]
    return [default_spark_type(python_type)]


_SPARK_TO_PYTHON: list[tuple[type, Any]] = [
    (T.LongType, int),
    (T.IntegerType, int),
    (T.ShortType, int),
    (T.ByteType, int),
    (T.DoubleType, float),
    (T.FloatType, float),
    (T.StringType, str),
    (T.BooleanType, bool),
    (T.DateType, dt.date),
    (T.TimestampType, dt.datetime),
    (T.TimestampNTZType, dt.datetime),
    (T.DayTimeIntervalType, dt.timedelta),
    (T.BinaryType, bytes),
    (T.DecimalType, Decimal),
]


def _python_annotation(dtype: T.DataType) -> Any:
    """Python annotation for a Spark dtype (inverse of default_spark_type)."""
    for spark_type, python_type in _SPARK_TO_PYTHON:
        if isinstance(dtype, spark_type):
            return python_type
    if isinstance(dtype, T.ArrayType):
        item = _python_annotation(dtype.elementType)
        if dtype.containsNull:
            item = Optional[item]
        return list[item]
    if isinstance(dtype, T.MapType):
        value = _python_annotation(dtype.valueType)
        if dtype.valueContainsNull:
            value = Optional[value]
        return dict[_python_annotation(dtype.keyType), value]
    if isinstance(dtype, T.StructType):
        return model_from_spark_schema("InferredStruct", dtype)
    raise NotImplementedError(f"No python annotation for Spark dtype {dtype}.")


def model_from_spark_schema(
    model_name: str, schema: T.StructType
) -> type["Model"]:
    """Infer a Model class from a Spark schema (ref duckdb.py:101-110).

    The reference's ``create_pydantic_model`` types every inferred column
    as ``Any``; here each field gets the real python annotation for its
    Spark dtype (nullable fields become ``Optional`` with a ``None``
    default), plus an explicit ``Field(dtype=...)`` override whenever the
    source dtype is not the annotation's default (e.g. ``IntegerType`` for
    ``int``) — so ``InferredModel.validate_df(source_df)`` round-trips.
    """
    import re

    fields: dict[str, Any] = {}
    for field in schema.fields:
        annotation = _python_annotation(field.dataType)
        override = (
            None
            if default_spark_type(annotation) == field.dataType
            else field.dataType
        )
        if field.nullable:
            annotation = Optional[annotation]
            default = Field(None, dtype=override) if override else None
        else:
            default = Field(dtype=override) if override else ...
        fields[field.name] = (annotation, default)
    model_name = re.sub(r"\W", "_", model_name) or "InferredModel"
    return create_model(model_name, __base__=Model, **fields)


def _struct_from_basemodel(model: type[BaseModel]) -> T.StructType:
    fields = []
    for name, fi in model.model_fields.items():
        inner, nullable = _unwrap_optional(fi.annotation)
        fields.append(T.StructField(name, default_spark_type(inner), nullable))
    return T.StructType(fields)


def _spec_from_field_info(name: str, fi: FieldInfo) -> ColumnSpec:
    inner, nullable = _unwrap_optional(fi.annotation)
    has_default = fi.default is not PydanticUndefined or fi.default_factory is not None
    default = None
    if fi.default is not PydanticUndefined:
        default = fi.default
    elif fi.default_factory is not None:
        default = fi.default_factory()
    # A plain `= None` default implies nullability (matches ref semantics,
    # ref pydantic.py:453-475).
    if has_default and default is None:
        nullable = True

    spec = ColumnSpec(
        name=name,
        annotation=fi.annotation,
        inner_type=inner,
        nullable=nullable,
        has_default=has_default,
        default=default,
    )

    for meta in fi.metadata:
        if isinstance(meta, annotated_types.Ge):
            spec.ge = meta.ge
        elif isinstance(meta, annotated_types.Gt):
            spec.gt = meta.gt
        elif isinstance(meta, annotated_types.Le):
            spec.le = meta.le
        elif isinstance(meta, annotated_types.Lt):
            spec.lt = meta.lt
        elif isinstance(meta, annotated_types.MultipleOf):
            spec.multiple_of = meta.multiple_of
        elif isinstance(meta, annotated_types.MinLen):
            spec.min_length = meta.min_length
        elif isinstance(meta, annotated_types.MaxLen):
            spec.max_length = meta.max_length
        else:
            pattern = getattr(meta, "pattern", None)
            if pattern is not None:
                spec.pattern = pattern

    extra = fi.json_schema_extra if isinstance(fi.json_schema_extra, dict) else {}
    spec.unique = bool(extra.get("unique", False))
    spec.dtype_override = extra.get("dtype")
    constraints = extra.get("constraints")
    if constraints is not None:
        spec.constraints = (
            list(constraints)
            if isinstance(constraints, (list, tuple))
            else [constraints]
        )
    spec.derived_from = extra.get("derived_from")
    spec.const = bool(extra.get("const", False))

    if get_origin(inner) is Literal:
        spec.enum_values = list(get_args(inner))
    elif isinstance(inner, type) and issubclass(inner, enum.Enum):
        spec.enum_values = [member.value for member in inner]
    return spec


class ModelMetaclass(PydanticModelMetaclass):
    """Metaclass adding class-level schema properties (ref pydantic.py:62-524)."""

    @property
    def column_specs(cls) -> dict[str, ColumnSpec]:
        # Read this class's own dict: ``getattr`` would find a parent's
        # cache and hand a subclass its parent's specs.
        specs = cls.__dict__.get("__patito_specs__")
        if specs is None:
            specs = {
                name: _spec_from_field_info(name, fi)
                for name, fi in cls.model_fields.items()
            }
            cls.__patito_specs__ = specs
        return specs

    @property
    def columns(cls) -> list[str]:
        return list(cls.model_fields.keys())

    @property
    def dtypes(cls) -> dict[str, T.DataType]:
        return {name: spec.spark_type for name, spec in cls.column_specs.items()}

    @property
    def valid_dtypes(cls) -> dict[str, list[T.DataType]]:
        return {name: spec.valid_spark_types for name, spec in cls.column_specs.items()}

    @property
    def spark_schema(cls) -> T.StructType:
        return T.StructType([spec.struct_field for spec in cls.column_specs.values()])

    @property
    def ddl(cls) -> str:
        """Spark SQL DDL string for the model schema (``name TYPE, ...``)."""
        return ", ".join(
            f"{spec.name} {spec.spark_type.simpleString().upper()}"
            + ("" if spec.nullable else " NOT NULL")
            for spec in cls.column_specs.values()
        )

    @property
    def sql_types(cls) -> dict[str, str]:
        return {
            name: spec.spark_type.simpleString().upper()
            for name, spec in cls.column_specs.items()
        }

    @property
    def valid_sql_types(cls) -> dict[str, list[str]]:
        return {
            name: [t.simpleString().upper() for t in spec.valid_spark_types]
            for name, spec in cls.column_specs.items()
        }

    @property
    def defaults(cls) -> dict[str, Any]:
        return {
            name: spec.default
            for name, spec in cls.column_specs.items()
            if spec.has_default
        }

    @property
    def non_nullable_columns(cls) -> set[str]:
        return {name for name, spec in cls.column_specs.items() if not spec.nullable}

    @property
    def nullable_columns(cls) -> set[str]:
        return {name for name, spec in cls.column_specs.items() if spec.nullable}

    @property
    def unique_columns(cls) -> set[str]:
        return {name for name, spec in cls.column_specs.items() if spec.unique}

    @property
    def derived_columns(cls) -> dict[str, Any]:
        return {
            name: spec.derived_from
            for name, spec in cls.column_specs.items()
            if spec.derived_from is not None
        }

    @property
    def DataFrame(cls):
        """Model-bound DataFrame factory: ``Product.DataFrame({...})``."""
        from patito_spark.dataframe import DataFrame as _DataFrame

        cached = cls.__dict__.get("__patito_df_class__")
        if cached is None:
            cached = type(
                f"{cls.__name__}DataFrame",
                (_DataFrame,),
                {"model": cls},
            )
            cls.__patito_df_class__ = cached
        return cached

    @property
    def LazyFrame(cls):
        """Alias of :attr:`DataFrame` — Spark plans are always lazy (the
        reference's eager/lazy split collapses, ref polars.py:35-100)."""
        return cls.DataFrame


class Model(BaseModel, metaclass=ModelMetaclass):
    """Pydantic model representing a Spark table schema and a single row."""

    if TYPE_CHECKING:
        columns: ClassVar[list[str]]
        dtypes: ClassVar[dict[str, T.DataType]]
        valid_dtypes: ClassVar[dict[str, list[T.DataType]]]
        spark_schema: ClassVar[T.StructType]
        ddl: ClassVar[str]
        sql_types: ClassVar[dict[str, str]]
        valid_sql_types: ClassVar[dict[str, list[str]]]
        defaults: ClassVar[dict[str, Any]]
        non_nullable_columns: ClassVar[set[str]]
        nullable_columns: ClassVar[set[str]]
        unique_columns: ClassVar[set[str]]
        column_specs: ClassVar[dict[str, ColumnSpec]]

    model_config = {"arbitrary_types_allowed": True}

    # ------------------------------------------------------------------ #
    # Validation                                                         #
    # ------------------------------------------------------------------ #
    @classmethod
    def validate_df(cls, dataframe, **kwargs) -> None:
        """Validate schema and content of a Spark DataFrame (one Spark job).

        Raises ``patito_spark.exceptions.DataFrameValidationError`` listing
        every failed check (ref pydantic.py:670-715).
        """
        from patito_spark.validators import validate as _validate

        _validate(dataframe=dataframe, schema=cls, **kwargs)

    @classmethod
    def validate(cls, obj, **kwargs):
        """Porting shim matching the reference call shape.

        The reference (pydantic v1) overrides ``Model.validate(df)`` for
        dataframe validation (ref pydantic.py:670); pydantic v2 claims
        ``validate`` as a model-instance alias. Dispatch on the argument:
        dataframes route to :meth:`validate_df`, anything else to
        pydantic's ``model_validate``.
        """
        from pyspark.sql import DataFrame as SparkDataFrame

        from patito_spark.dataframe import DataFrame as PatitoDataFrame

        if isinstance(obj, PatitoDataFrame):
            return cls.validate_df(obj.inner, **kwargs)
        if isinstance(obj, SparkDataFrame):
            return cls.validate_df(obj, **kwargs)
        return cls.model_validate(obj, **kwargs)

    # ------------------------------------------------------------------ #
    # Row construction                                                   #
    # ------------------------------------------------------------------ #
    @classmethod
    def from_row(cls: type[ModelType], row: Any, validate: bool = True) -> ModelType:
        """Represent a single Spark Row / dict / 1-row DataFrame as a model.

        (ref pydantic.py:562-608)
        """
        from pyspark.sql import DataFrame as SparkDataFrame, Row

        from patito_spark.dataframe import DataFrame as PatitoDataFrame

        try:
            import pandas as pd
        except ImportError:  # pragma: no cover
            pd = None

        if pd is not None and isinstance(row, pd.Series):
            return cls(**dict(row.items())) if validate else cls.model_construct(
                **dict(row.items())
            )
        if pd is not None and isinstance(row, pd.DataFrame):
            if len(row) != 1:
                raise ValueError(
                    f"{cls.__name__}.from_row() can only be invoked with "
                    f"exactly 1 row, got {len(row)}."
                )
            data = row.iloc[0].to_dict()
            return cls(**data) if validate else cls.model_construct(**data)
        if isinstance(row, PatitoDataFrame):
            row = row.inner
        if isinstance(row, SparkDataFrame):
            collected = row.take(2)
            if len(collected) != 1:
                raise ValueError(
                    f"{cls.__name__}.from_row() can only be invoked with exactly "
                    f"1 row, got {len(collected)}{'+' if len(collected) > 1 else ''}."
                )
            data = collected[0].asDict(recursive=True)
        elif isinstance(row, Row):
            data = row.asDict(recursive=True)
        elif isinstance(row, dict):
            data = row
        else:
            raise TypeError(
                f"{cls.__name__}.from_row not implemented for {type(row)}."
            )
        if validate:
            return cls(**data)
        return cls.model_construct(**data)

    # ------------------------------------------------------------------ #
    # Dummy-data generation (ref pydantic.py:717-1042)                   #
    # ------------------------------------------------------------------ #
    @classmethod
    def example_value(cls, field: str) -> Any:
        """Return a valid example value for the given model field."""
        spec = cls.column_specs.get(field)
        if spec is None:
            raise TypeError(f"{cls.__name__} does not contain field {field!r}!")
        return _example_value(spec)

    @classmethod
    def example(cls: type[ModelType], **kwargs: Any) -> ModelType:
        """Model instance with dummy data for all unspecified fields."""
        wrong = set(kwargs) - set(cls.columns)
        if wrong:
            raise TypeError(f"{cls.__name__} does not contain fields {wrong}!")
        values = {}
        for name, spec in cls.column_specs.items():
            values[name] = kwargs[name] if name in kwargs else _example_value(spec)
        return cls(**values)

    @classmethod
    def examples(
        cls: type[ModelType],
        data: Optional[Union[dict, Iterable]] = None,
        columns: Optional[Iterable[str]] = None,
        spark: Optional["SparkSession"] = None,
    ) -> "DataFrame":
        """Spark DataFrame with dummy data for all unspecified columns.

        Unique columns are filled with a sequential range so uniqueness
        holds; other columns repeat ``example_value``.
        """
        from patito_spark.dataframe import DataFrame as PatitoDataFrame
        from patito_spark.session import active_session

        spark = spark or active_session()
        if data is None:
            kwargs: dict[str, Any] = {}
        elif not isinstance(data, dict):
            if columns is None:
                raise TypeError(
                    f"{cls.__name__}.examples() must be provided with column names!"
                )
            kwargs = dict(zip(columns, zip(*data)))
        else:
            kwargs = dict(data)

        wrong = set(kwargs) - set(cls.columns)
        if wrong:
            raise TypeError(f"{cls.__name__} does not contain fields {wrong}!")

        # Materialize each explicit iterable exactly once (generators are
        # one-shot). Scalars repeat for every row; explicit iterables must
        # all have the same length — the reference raises on shape mismatch
        # (silent cycling would mask mismatched-length input).
        materialized: dict[str, list] = {}
        scalar_cols: set[str] = set()
        for key, value in kwargs.items():
            if isinstance(value, Iterable) and not isinstance(value, str):
                materialized[key] = list(value)
            else:
                materialized[key] = [value]
                scalar_cols.add(key)
        iterable_lengths = {
            key: len(v)
            for key, v in materialized.items()
            if key not in scalar_cols
        }
        if len(set(iterable_lengths.values())) > 1:
            raise ValueError(
                f"{cls.__name__}.examples() got iterables of differing "
                f"lengths: {iterable_lengths}"
            )
        height = next(iter(iterable_lengths.values()), 1) or 1

        rows = []
        for i in range(height):
            row = {}
            for name, spec in cls.column_specs.items():
                if name in materialized:
                    values = materialized[name]
                    # Scalars cycle (len 1); iterables are height-aligned.
                    row[name] = values[i % len(values)] if values else None
                elif spec.unique:
                    row[name] = i
                else:
                    row[name] = _example_value(spec)
            rows.append(_coerce_row(cls, row))
        sdf = spark.createDataFrame(rows, schema=cls.spark_schema)
        return PatitoDataFrame(sdf, model=cls)

    @classmethod
    def pandas_examples(
        cls: type[ModelType],
        data: Union[dict, Iterable],
        columns: Optional[Iterable[str]] = None,
    ) -> "pd.DataFrame":
        """Pandas DataFrame with dummy data for all unspecified columns."""
        import pandas as pd

        if not isinstance(data, dict):
            if columns is None:
                raise TypeError(
                    f"{cls.__name__}.pandas_examples() must "
                    "be provided with column names!"
                )
            kwargs = dict(zip(columns, zip(*data)))
        else:
            kwargs = data
        kwargs = {
            key: (
                value
                if isinstance(value, Iterable) and not isinstance(value, str)
                else itertools.cycle([value])
            )
            for key, value in kwargs.items()
        }
        dummies = []
        for values in zip(*kwargs.values()):
            dummies.append(cls.example(**dict(zip(kwargs.keys(), values))))
        return pd.DataFrame([dummy.model_dump() for dummy in dummies])

    # ------------------------------------------------------------------ #
    # Model algebra (ref pydantic.py:1044-1328)                          #
    # ------------------------------------------------------------------ #
    @classmethod
    def join(
        cls: type["Model"],
        other: type["Model"],
        how: Literal["inner", "left", "outer", "asof", "cross", "semi", "anti"],
    ) -> type["Model"]:
        """Derive the model matching the result schema of a join.

        Left joins make right-side fields nullable; outer joins make all
        fields nullable; semi/anti joins keep the left schema.
        """
        if how in {"semi", "anti"}:
            return cls

        kwargs: dict[str, Any] = {}
        for model, nullable_hows in (
            (cls, {"outer"}),
            (other, {"left", "outer", "asof"}),
        ):
            for field_name, fi in model.model_fields.items():
                annotation = fi.annotation
                new_fi = FieldInfo.merge_field_infos(fi)
                if how in nullable_hows and not _is_nullable_annotation(annotation):
                    annotation = Optional[annotation]
                    new_fi.default = None
                kwargs[field_name] = (annotation, new_fi)
        return create_model(
            f"{cls.__name__}{how.capitalize()}Join{other.__name__}",
            __base__=Model,
            **kwargs,
        )

    @classmethod
    def select(cls, fields: Union[str, Iterable[str]]) -> type["Model"]:
        """New model with only a subset of the fields."""
        if isinstance(fields, str):
            fields = [fields]
        fields = set(fields)
        missing = fields - set(cls.columns)
        if missing:
            raise ValueError(f"The following selected fields do not exist: {missing}")
        return cls._derive_model(
            f"Selected{cls.__name__}", {f: f for f in cls.columns if f in fields}
        )

    @classmethod
    def drop(cls, name: Union[str, Iterable[str]]) -> type["Model"]:
        """New model with one or more fields removed."""
        dropped = {name} if isinstance(name, str) else set(name)
        return cls._derive_model(
            f"Dropped{cls.__name__}",
            {f: f for f in cls.columns if f not in dropped},
        )

    @classmethod
    def prefix(cls, prefix: str) -> type["Model"]:
        """New model with all field names prefixed."""
        return cls._derive_model(
            f"Prefixed{cls.__name__}", {f"{prefix}{f}": f for f in cls.columns}
        )

    @classmethod
    def suffix(cls, suffix: str) -> type["Model"]:
        """New model with all field names suffixed."""
        return cls._derive_model(
            f"Suffixed{cls.__name__}", {f"{f}{suffix}": f for f in cls.columns}
        )

    @classmethod
    def rename(cls, mapping: dict[str, str]) -> type["Model"]:
        """New model with the given fields renamed (old name -> new name)."""
        missing = set(mapping) - set(cls.columns)
        if missing:
            raise ValueError(
                f"The following fields do not exist for renaming: {missing}"
            )
        field_mapping = {f: f for f in cls.columns if f not in mapping}
        field_mapping.update({new: old for old, new in mapping.items()})
        return cls._derive_model(f"Renamed{cls.__name__}", field_mapping)

    @classmethod
    def with_fields(cls, **field_definitions: Any) -> type["Model"]:
        """New model with additional ``name=(type, default)`` fields."""
        fields: dict[str, Any] = {f: f for f in cls.columns}
        fields.update(field_definitions)
        return cls._derive_model(f"Expanded{cls.__name__}", fields)

    @classmethod
    def _derive_model(
        cls, model_name: str, field_mapping: dict[str, Any]
    ) -> type["Model"]:
        new_fields: dict[str, Any] = {}
        for new_name, definition in field_mapping.items():
            if isinstance(definition, str):
                fi = cls.model_fields[definition]
                new_fields[new_name] = (fi.annotation, FieldInfo.merge_field_infos(fi))
            else:
                new_fields[new_name] = definition
        return create_model(model_name, __base__=Model, **new_fields)

    @classmethod
    def _schema_properties(cls) -> dict[str, dict[str, Any]]:
        """Per-field property dicts (ref pydantic.py:1330-1373)."""
        return {name: spec.properties() for name, spec in cls.column_specs.items()}


def _is_nullable_annotation(annotation: Any) -> bool:
    try:
        _, nullable = _unwrap_optional(annotation)
        return nullable
    except NotImplementedError:
        return False


def _example_value(spec: ColumnSpec) -> Any:
    """Generate a value consistent with a field spec (ref pydantic.py:717-821)."""
    if spec.const and spec.has_default:
        return spec.default
    if spec.has_default:
        return spec.default
    if spec.nullable:
        return None
    if spec.enum_values:
        return spec.enum_values[0]

    inner = spec.inner_type
    if inner in (int, float):
        lower = spec.ge if spec.ge is not None else spec.gt
        upper = spec.le if spec.le is not None else spec.lt
        if isinstance(spec.dtype_override, (T.LongType, T.IntegerType, T.ShortType,
                                            T.ByteType)) and inner is int:
            pass
        if lower is None and upper is None:
            value = -0.5 if inner is float else -1
        elif lower is not None and upper is not None:
            value = (lower + upper) / 2 if inner is float else (lower + upper) // 2
        elif lower is not None:
            value = inner(lower + 1)
        else:
            value = inner(upper - 1)
        if spec.multiple_of is not None:
            value = spec.multiple_of
        return inner(value)
    if inner is str:
        if spec.pattern is not None:
            raise NotImplementedError(
                "Example data generation has not been implemented for regex "
                "patterns. You must provide valid data for such columns "
                "explicitly!"
            )
        if spec.min_length is not None:
            return "a" * spec.min_length
        if spec.max_length is not None:
            return "a" * min(spec.max_length, 1)
        return "dummy_string"
    if inner is bool:
        return False
    if inner is dt.date:
        return dt.date(1970, 1, 1)
    if inner is dt.datetime:
        return dt.datetime(1970, 1, 1)
    if inner is dt.timedelta:
        return dt.timedelta(0)
    if inner is bytes:
        return b""
    if inner is Decimal:
        return Decimal(0)
    origin = get_origin(inner)
    if origin in (list, tuple):
        return []
    if origin is dict:
        return {}
    if isinstance(inner, type) and issubclass(inner, BaseModel):
        if issubclass(inner, Model):
            return inner.example()
        return inner()
    raise NotImplementedError(
        f"Example value generation not implemented for {inner!r}."
    )


def _coerce_row(model: type[Model], row: dict[str, Any]) -> dict[str, Any]:
    """Coerce python values so Spark's strict createDataFrame accepts them."""
    coerced = {}
    for name, spec in model.column_specs.items():
        value = row[name]
        if value is None:
            coerced[name] = None
        elif isinstance(spec.spark_type, (T.DoubleType, T.FloatType)):
            coerced[name] = float(value)
        elif isinstance(
            spec.spark_type, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        ) and not isinstance(value, bool):
            coerced[name] = int(value)
        elif isinstance(value, enum.Enum):
            coerced[name] = value.value
        else:
            coerced[name] = value
    return coerced
