"""Relation/Database: the reference's SQL-string query API on Spark SQL.

Re-expresses the reference's embedded-DuckDB layer (reference:
src/patito/duckdb.py, 2830 LOC) as a thin compiler onto
``pyspark.sql.DataFrame`` operations. Where the reference string-pastes SQL
and hands it to DuckDB, every method here builds a declarative Spark plan so
Catalyst gets full visibility: filters push down to scans, small join sides
can be broadcast, and AQE re-plans shuffles at runtime.

SQL-string expressions (``"sum(x) as total"``, ``"price > 10"``) are accepted
exactly like the reference and parsed by Spark's own SQL parser via
``F.expr`` — no bespoke SQL dialect.
"""

from __future__ import annotations

import itertools
import re
from typing import Any, Iterable, Iterator, Optional, Sequence, TYPE_CHECKING, Union

from pyspark.sql import Column, DataFrame as SparkDataFrame, functions as F
from pyspark.sql import SparkSession

from patito_spark.exceptions import MultipleRowsReturned, RowDoesNotExist

if TYPE_CHECKING:
    from patito_spark.dataframe import DataFrame as PatitoDataFrame
    from patito_spark.model import Model

RelationSource = Union[
    "Relation", SparkDataFrame, "PatitoDataFrame", str
]

_alias_counter = itertools.count()


def _fresh_alias() -> str:
    return f"relation_{next(_alias_counter)}"


class Relation:
    """A lazy, composable relation backed by a Spark DataFrame plan."""

    def __init__(
        self,
        derived_from: RelationSource,
        database: Optional["Database"] = None,
        model: Optional[type["Model"]] = None,
        alias: Optional[str] = None,
    ) -> None:
        from patito_spark.dataframe import DataFrame as PatitoDataFrame

        if database is None:
            database = Database.default()
        self.database = database

        import pathlib

        try:
            import pandas as pd
        except ImportError:  # pragma: no cover
            pd = None

        if isinstance(derived_from, Relation):
            df = derived_from._df
            model = model or derived_from.model
        elif isinstance(derived_from, PatitoDataFrame):
            model = model or derived_from.model
            df = derived_from.inner
        elif isinstance(derived_from, SparkDataFrame):
            df = derived_from
        elif pd is not None and isinstance(derived_from, pd.DataFrame):
            df = database.spark.createDataFrame(derived_from)
        elif isinstance(derived_from, pathlib.Path):
            df = database._read_path(str(derived_from))
        elif isinstance(derived_from, str):
            stripped = derived_from.lstrip().lower()
            # Word boundary required so table names like "from_api_events",
            # "values_daily" or "withdrawals" resolve via the catalog rather
            # than being mis-parsed as SQL text.
            if re.match(r"^(select|with|values|from)\b", stripped):
                df = database.spark.sql(derived_from)
            elif stripped.endswith((".parquet", ".csv", ".json")):
                df = database._read_path(derived_from)
            else:
                df = database.spark.table(derived_from)
        else:
            raise TypeError(
                f"Relation cannot be constructed from {type(derived_from)}."
            )
        self.alias = alias or _fresh_alias()
        self._df = df.alias(self.alias)
        self.model = model
        self._inferred_model: Optional[Any] = None

    # ------------------------------------------------------------------ #
    # Plumbing                                                            #
    # ------------------------------------------------------------------ #
    def _wrap(
        self,
        df: SparkDataFrame,
        schema_change: bool = False,
        model: Optional[type["Model"]] = None,
    ) -> "Relation":
        return Relation(
            df,
            database=self.database,
            model=model if model is not None else (None if schema_change else self.model),
            alias=self.alias,
        )

    @property
    def dataframe(self) -> SparkDataFrame:
        """The underlying Spark DataFrame (lazy plan)."""
        return self._df

    @property
    def columns(self) -> list[str]:
        return list(self._df.columns)

    @property
    def types(self) -> dict[str, str]:
        """Column name -> Spark SQL type string (ref duckdb.py:1736)."""
        return {
            f.name: f.dataType.simpleString().upper() for f in self._df.schema.fields
        }

    def __repr__(self) -> str:
        model_name = self.model.__name__ if self.model else None
        return (
            f"Relation(alias={self.alias!r}, model={model_name}, "
            f"columns={self.columns})"
        )

    # ------------------------------------------------------------------ #
    # Projections                                                         #
    # ------------------------------------------------------------------ #
    def select(self, *projections: Any, **named_projections: Any) -> "Relation":
        """Project with SQL-string expressions (ref duckdb.py:1528).

        ``select("a", "b + 1 as c", d="a * 2")`` — keywords become aliases.
        """
        exprs = [str(p) for p in projections] + [
            f"{expression} as {name}"
            for name, expression in named_projections.items()
        ]
        return self._wrap(self._df.selectExpr(*exprs), schema_change=True)

    def project(self, *projections: Any, **named: Any) -> "Relation":
        return self.select(*projections, **named)

    def with_columns(self, **named_projections: Any) -> "Relation":
        """Append (or overwrite) columns: ``with_columns(c="a + b")``."""
        overwritten = [c for c in self.columns if c in named_projections]
        base = ["*"] if not overwritten else [
            c for c in self.columns if c not in named_projections
        ]
        return self.select(*base, **named_projections)

    def rename(self, **columns: str) -> "Relation":
        """Rename columns: ``rename(old="new")`` (ref duckdb.py:1613)."""
        missing = set(columns) - set(self.columns)
        if missing:
            raise ValueError(
                f"Column(s) {missing} can not be renamed as they do not exist."
            )
        mapping = {old: new for old, new in columns.items()}
        return self._wrap(
            self._df.withColumnsRenamed(mapping), schema_change=True
        )

    def add_prefix(
        self,
        prefix: str,
        include: Optional[Iterable[str]] = None,
        exclude: Optional[Iterable[str]] = None,
    ) -> "Relation":
        """Prefix column names (ref duckdb.py:397)."""
        return self._affix(lambda c: f"{prefix}{c}", include, exclude)

    def add_suffix(
        self,
        suffix: str,
        include: Optional[Iterable[str]] = None,
        exclude: Optional[Iterable[str]] = None,
    ) -> "Relation":
        """Suffix column names (ref duckdb.py:331)."""
        return self._affix(lambda c: f"{c}{suffix}", include, exclude)

    def _affix(self, fn, include, exclude) -> "Relation":
        if include is not None and exclude is not None:
            raise TypeError("Both include and exclude provided at the same time!")
        include = set(include) if include is not None else None
        exclude = set(exclude) if exclude is not None else set()
        mapping = {
            c: fn(c)
            for c in self.columns
            if (include is None or c in include) and c not in exclude
        }
        return self._wrap(self._df.withColumnsRenamed(mapping), schema_change=True)

    def drop(self, *columns: str) -> "Relation":
        """Remove specified columns (ref duckdb.py:834)."""
        missing = set(columns) - set(self.columns)
        if missing:
            raise ValueError(
                f"Columns {missing} do not exist and cannot be dropped."
            )
        return self._wrap(self._df.drop(*columns), schema_change=True)

    def __getitem__(self, key: Union[str, Iterable[str]]) -> "Relation":
        keys = [key] if isinstance(key, str) else list(key)
        return self._wrap(self._df.select(*keys), schema_change=True)

    # ------------------------------------------------------------------ #
    # Filtering / ordering / limiting                                     #
    # ------------------------------------------------------------------ #
    def filter(
        self, *filters: Union[str, Column], **equalities: Any
    ) -> "Relation":
        """Filter by SQL strings, Columns, and/or keyword equalities."""
        predicate = None
        for f_ in filters:
            this = F.expr(f_) if isinstance(f_, str) else f_
            predicate = this if predicate is None else predicate & this
        for name, value in equalities.items():
            this = F.col(name) == F.lit(value)
            predicate = this if predicate is None else predicate & this
        if predicate is None:
            return self
        return self._wrap(self._df.filter(predicate))

    def order(self, by: Union[str, Iterable[str]]) -> "Relation":
        """Sort by SQL order expressions, e.g. ``"price desc"``."""
        import re as _re

        by = [by] if isinstance(by, str) else list(by)
        sort_cols = []
        suffix_re = _re.compile(
            r"^(?P<expr>.*?)(?:\s+(?P<dir>asc|desc))?"
            r"(?:\s+nulls\s+(?P<nulls>first|last))?\s*$",
            _re.IGNORECASE | _re.DOTALL,
        )
        for item in by:
            match = suffix_re.match(item)
            expr = F.expr(match.group("expr"))
            direction = (match.group("dir") or "asc").lower()
            nulls = (match.group("nulls") or "").lower()
            method = direction + (f"_nulls_{nulls}" if nulls else "")
            sort_cols.append(getattr(expr, method)())
        return self._wrap(self._df.orderBy(*sort_cols))

    def limit(self, n: int, *, offset: int = 0) -> "Relation":
        df = self._df.offset(offset) if offset else self._df
        return self._wrap(df.limit(n))

    def distinct(self) -> "Relation":
        return self._wrap(self._df.distinct())

    # ------------------------------------------------------------------ #
    # Materialization hints                                               #
    # ------------------------------------------------------------------ #
    def cache(self) -> "Relation":
        """Hint: keep this relation's result in executor memory/disk.

        Use when a relation feeds several downstream queries — without it
        Spark recomputes the lineage per action. Lazy (materializes on
        first use); pair with :meth:`unpersist`. Like Spark's own
        ``DataFrame.cache`` this marks THIS relation (and returns it) —
        derived relations reuse the cached subtree via plan matching.
        """
        self._df.cache()
        return self

    def persist(self, storage_level: Optional[str] = None) -> "Relation":
        """Like :meth:`cache` with an explicit storage level name
        (e.g. ``"MEMORY_AND_DISK"``, ``"DISK_ONLY"``)."""
        if storage_level is None:
            self._df.persist()
        else:
            from pyspark import StorageLevel

            self._df.persist(getattr(StorageLevel, storage_level))
        return self

    def unpersist(self) -> "Relation":
        """Release a :meth:`cache`/:meth:`persist` hint."""
        self._df.unpersist()
        return self

    def checkpoint(self, eager: bool = True) -> "Relation":
        """Cut the lineage by materializing to executor-local storage.

        For iterative pipelines (the connected-components loop does this
        internally): plans whose lineage grows per iteration eventually
        drown the optimizer; a localCheckpoint resets the plan to a scan
        of the materialized result.
        """
        return self._wrap(self._df.localCheckpoint(eager=eager))

    # ------------------------------------------------------------------ #
    # Aggregation                                                         #
    # ------------------------------------------------------------------ #
    def aggregate(
        self,
        *aggregations: str,
        group_by: Union[str, Iterable[str]] = (),
        **named_aggregations: str,
    ) -> "Relation":
        """GROUP BY aggregation with SQL-string aggregates (ref duckdb.py:277).

        Spark performs partial (map-side) aggregation before the shuffle, so
        only one combined row per group and partition crosses the network.
        """
        group_cols = [group_by] if isinstance(group_by, str) else list(group_by)
        exprs = list(aggregations) + [
            f"{expression} as {name}"
            for name, expression in named_aggregations.items()
        ]
        agg_exprs = [
            F.expr(e) for e in exprs if e.strip() not in group_cols
        ]
        if group_cols:
            grouped = self._df.groupBy(*[F.col(c) for c in group_cols])
            df = grouped.agg(*agg_exprs)
            # Reference keeps group columns + aggregates in given order; ours
            # places group columns first which matches its common usage.
        else:
            df = self._df.agg(*agg_exprs)
        return self._wrap(df, schema_change=True)

    def count(self) -> int:
        """Number of rows (ref duckdb.py:742)."""
        return self._df.count()

    def __len__(self) -> int:
        return self.count()

    # ------------------------------------------------------------------ #
    # Row access                                                          #
    # ------------------------------------------------------------------ #
    def get(self, *filters: str, **equalities: Any) -> Any:
        """Fetch the single matching row as a model instance (ref duckdb.py:969)."""
        relation = self.filter(*filters, **equalities)
        rows = relation._df.take(2)
        if len(rows) == 0:
            raise RowDoesNotExist(
                f"Relation.get(...) returned 0 rows!"
            )
        if len(rows) > 1:
            raise MultipleRowsReturned(
                f"Relation.get(...) returned 2+ rows!"
            )
        return self._to_model(rows[0])

    def infer_model(self) -> Any:
        """Infer a Model class from this relation's schema.

        The public counterpart of the reference's ``create_pydantic_model``
        (ref duckdb.py:101-110): lets untyped relations round-trip into the
        model layer — ``rel.set_model(rel.infer_model())`` — with real
        dtype annotations inferred from the Spark schema (the reference
        types every column ``Any``). Named after the relation's alias.
        """
        from patito_spark.model import model_from_spark_schema

        return model_from_spark_schema(self.alias, self._df.schema)

    def _to_model(self, row) -> Any:
        data = row.asDict(recursive=True)
        if self.model is not None:
            return self.model(**data)
        if self._inferred_model is None:
            self._inferred_model = self.infer_model()
        return self._inferred_model.model_construct(**data)

    def all(self, *filters: str, **equalities: Any) -> bool:
        """True if all rows satisfy the given filters (ref duckdb.py:463).

        One job: look for a row violating the conjunction.
        """
        predicate = None
        for f_ in filters:
            this = F.expr(f_) if isinstance(f_, str) else f_
            predicate = this if predicate is None else predicate & this
        for name, value in equalities.items():
            this = F.col(name) == F.lit(value)
            predicate = this if predicate is None else predicate & this
        if predicate is None:
            return True
        return self._df.filter(~F.coalesce(predicate, F.lit(False))).isEmpty()

    def __iter__(self) -> Iterator[Any]:
        for row in self._df.toLocalIterator():
            yield self._to_model(row)

    def __eq__(self, other: object) -> bool:
        """Content equality irrespective of row order (ref duckdb.py:2129).

        Note: this runs two ``exceptAll`` Spark jobs — two shuffles of both
        inputs. Fine as a test utility; avoid in production hot paths.
        """
        other_rel = self.database.to_relation(other)  # type: ignore[arg-type]
        left, right = self._df, other_rel._df
        if set(left.columns) != set(right.columns):
            return False
        right = right.select(*left.columns)
        return left.exceptAll(right).isEmpty() and right.exceptAll(left).isEmpty()

    def __str__(self) -> str:
        return self._df._show_string(20, 20, False)

    # ------------------------------------------------------------------ #
    # Mapping / null handling                                             #
    # ------------------------------------------------------------------ #
    def case(
        self,
        *,
        from_column: str,
        to_column: str,
        mapping: dict,
        default: Any,
    ) -> "Relation":
        """Map values of one column into a new column (ref duckdb.py:499)."""
        from patito_spark import sql

        case_statement = sql.Case(
            on_column=from_column,
            mapping=mapping,
            default=default,
            as_column=to_column,
        )
        return self.select("*", str(case_statement))

    def coalesce(self, **column_expressions: Any) -> "Relation":
        """Replace nulls in given columns with values (ref duckdb.py:675)."""
        projections = []
        for column in self.columns:
            if column in column_expressions:
                value = column_expressions[column]
                projections.append(
                    f"coalesce({column}, {value!r}) as {column}"
                )
            else:
                projections.append(column)
        return self.select(*projections)

    def cast(
        self,
        model: Optional[type["Model"]] = None,
        strict: bool = False,
        include: Optional[Iterable[str]] = None,
        exclude: Optional[Iterable[str]] = None,
    ) -> "Relation":
        """Cast columns to model dtypes (ref duckdb.py:572)."""
        schema = model or self.model
        if schema is None:
            raise TypeError(
                "Relation.cast() invoked without Relation.model or model "
                "argument."
            )
        if include is not None and exclude is not None:
            raise TypeError("Both include and exclude provided to cast()!")
        include = set(include) if include is not None else None
        exclude = set(exclude) if exclude is not None else set()
        specs = schema.column_specs
        df_types = {f.name: f.dataType for f in self._df.schema.fields}
        projections = []
        for column in self.columns:
            spec = specs.get(column)
            skip = (
                spec is None
                or (include is not None and column not in include)
                or column in exclude
            )
            if skip:
                projections.append(F.col(column))
            elif strict or not any(
                df_types[column] == v for v in spec.valid_spark_types
            ):
                projections.append(F.col(column).cast(spec.spark_type).alias(column))
            else:
                projections.append(F.col(column))
        return self._wrap(self._df.select(*projections))

    def with_missing_defaultable_columns(
        self,
        include: Optional[Iterable[str]] = None,
        exclude: Optional[Iterable[str]] = None,
    ) -> "Relation":
        """Add missing model columns that have defaults (ref duckdb.py:1945)."""
        self._require_model("with_missing_defaultable_columns")
        if include is not None and exclude is not None:
            raise TypeError("Both include and exclude provided at the same time!")
        include = set(include) if include is not None else None
        exclude = set(exclude) if exclude is not None else set()
        df = self._df
        for name, spec in self.model.column_specs.items():
            if name in self.columns or not spec.has_default:
                continue
            if (include is not None and name not in include) or name in exclude:
                continue
            df = df.withColumn(name, F.lit(spec.default).cast(spec.spark_type))
        return self._wrap(df)

    def with_missing_nullable_columns(
        self,
        include: Optional[Iterable[str]] = None,
        exclude: Optional[Iterable[str]] = None,
    ) -> "Relation":
        """Add missing nullable model columns as NULL (ref duckdb.py:2035)."""
        self._require_model("with_missing_nullable_columns")
        if include is not None and exclude is not None:
            raise TypeError("Both include and exclude provided at the same time!")
        include = set(include) if include is not None else None
        exclude = set(exclude) if exclude is not None else set()
        df = self._df
        for name, spec in self.model.column_specs.items():
            if name in self.columns or not spec.nullable:
                continue
            if (include is not None and name not in include) or name in exclude:
                continue
            df = df.withColumn(name, F.lit(None).cast(spec.spark_type))
        return self._wrap(df)

    def _require_model(self, method: str) -> None:
        if self.model is None:
            raise TypeError(
                f"Relation.{method}() invoked without Relation.model set; "
                "use Relation.set_model()."
            )

    # ------------------------------------------------------------------ #
    # Joins & set operations                                              #
    # ------------------------------------------------------------------ #
    def join(
        self,
        other: RelationSource,
        *,
        on: str,
        how: str = "inner",
        broadcast_other: Optional[bool] = None,
    ) -> "Relation":
        """Join on a SQL condition, e.g. ``on="p.supplier_id = s.id"``
        (ref duckdb.py:1136). Aliases set via ``set_alias`` qualify columns.

        ``broadcast_other=True`` hints Catalyst to broadcast the right side
        (small dims at any scale); by default AQE decides from runtime stats.
        """
        other_rel = self.database.to_relation(other)
        right = other_rel._df
        if broadcast_other:
            right = F.broadcast(right)
        joined = self._df.join(right, on=F.expr(on), how=how)
        return self._wrap(joined, schema_change=True)

    def inner_join(
        self, other: RelationSource, on: str, **kwargs: Any
    ) -> "Relation":
        return self.join(other, on=on, how="inner", **kwargs)

    def left_join(
        self, other: RelationSource, on: str, **kwargs: Any
    ) -> "Relation":
        return self.join(other, on=on, how="left", **kwargs)

    def asof_join(
        self,
        other: RelationSource,
        on: str,
        by: Optional[Sequence[str]] = None,
        **kwargs: Any,
    ) -> "Relation":
        """Temporal as-of join (Spark-first extension; the reference's
        DuckDB engine exposes ASOF JOIN in SQL — this is the Relation-API
        counterpart). Composes :func:`patito_spark.operators.temporal.
        asof_join` (union + ONE keyed window, no nested loop); accepts
        ``direction`` backward/forward/nearest/both and ``tolerance``.
        """
        from patito_spark.operators.temporal import asof_join as _asof

        other_rel = self.database.to_relation(other)
        return Relation(
            _asof(self._df, other_rel._df, on=on, by=by, **kwargs),
            database=self.database,
        )

    def range_join(
        self,
        intervals: RelationSource,
        point_col: str,
        start_col: str,
        end_col: str,
        **kwargs: Any,
    ) -> "Relation":
        """Point-in-interval join (Spark-first extension): bucketed
        equi-join formulation of :func:`patito_spark.operators.temporal.
        range_join` — never a nested-loop cross product."""
        from patito_spark.operators.temporal import range_join as _range

        iv = self.database.to_relation(intervals)
        return Relation(
            _range(self._df, iv._df, point_col, start_col,
                   end_col, **kwargs),
            database=self.database,
        )

    def union(self, other: RelationSource) -> "Relation":
        """UNION ALL with column-name reconciliation (ref duckdb.py:1844)."""
        other_rel = self.database.to_relation(other)
        if set(self.columns) != set(other_rel.columns):
            msg = (
                "Union between relations with different column names is not "
                "allowed."
            )
            extra_left = set(self.columns) - set(other_rel.columns)
            extra_right = set(other_rel.columns) - set(self.columns)
            if extra_left:
                msg += f" Additional columns in left relation: {extra_left}."
            if extra_right:
                msg += f" Additional columns in right relation: {extra_right}."
            raise TypeError(msg)
        return self._wrap(self._df.unionByName(other_rel._df))

    def __add__(self, other: RelationSource) -> "Relation":
        return self.union(other)

    def except_(self, other: RelationSource) -> "Relation":
        """Rows in self but not in other (SQL EXCEPT DISTINCT, ref duckdb.py:895).

        Uses Spark's ``subtract`` (EXCEPT DISTINCT): any row that appears in
        ``other`` is removed entirely, regardless of its multiplicity in
        ``self`` — matching SQL EXCEPT and the reference's "remove all rows
        that can be found in the other relation".
        """
        other_rel = self.database.to_relation(other)
        return self._wrap(
            self._df.select(*self.columns).subtract(
                other_rel._df.select(*self.columns)
            )
        )

    def intersect(self, other: RelationSource) -> "Relation":
        """Rows present in both relations (SQL INTERSECT, dedups)."""
        other_rel = self.database.to_relation(other)
        return self._wrap(self._df.intersect(other_rel._df.select(*self.columns)))

    # ------------------------------------------------------------------ #
    # Metadata / materialization                                          #
    # ------------------------------------------------------------------ #
    def set_alias(self, name: str) -> "Relation":
        return Relation(
            self._df, database=self.database, model=self.model, alias=name
        )

    def set_model(self, model: type["Model"]) -> "Relation":
        return Relation(
            self._df, database=self.database, model=model, alias=self.alias
        )

    def create_table(self, name: str) -> "Relation":
        """Materialize as a named table in the database (ref duckdb.py:767)."""
        return self.database.create_table(name, data=self)

    def create_view(self, name: str, replace: bool = False) -> "Relation":
        """Register the (lazy) plan as a named view (ref duckdb.py:800)."""
        if replace:
            self._df.createOrReplaceTempView(name)
        else:
            self._df.createTempView(name)
        self.database.views.add(name)
        return self.database.view(name).set_model(self.model) if self.model else (
            self.database.view(name)
        )

    def insert_into(self, table: str) -> "Relation":
        """Append this relation's rows into a named table (ref duckdb.py:1440)."""
        return self.database.insert_into(table, self)

    def to_df(self) -> "PatitoDataFrame":
        """As a patito_spark DataFrame (still lazy)."""
        from patito_spark.dataframe import DataFrame as PatitoDataFrame

        return PatitoDataFrame(self._df, model=self.model)

    def to_pandas(self):
        """Materialize to a pandas DataFrame on the driver (Arrow transfer)."""
        return self._df.toPandas()

    def to_series(self):
        """Materialize a single-column relation to a pandas Series."""
        if len(self.columns) != 1:
            raise TypeError(
                f"Relation.to_series() was invoked on a relation with "
                f"{len(self.columns)} columns, while exactly 1 is required!"
            )
        return self._df.toPandas()[self.columns[0]]

    def execute(self):
        """Eagerly execute and return collected rows."""
        return self._df.collect()


class Database:
    """Spark-session-scoped catalog of tables/views (ref duckdb.py:2352)."""

    _default: Optional["Database"] = None

    def __init__(self, spark: Optional[SparkSession] = None) -> None:
        from patito_spark.session import active_session

        self.spark = spark or active_session()
        self.tables: dict[str, SparkDataFrame] = {}
        self.views: set[str] = set()
        self.enum_types: set[str] = set()

    @classmethod
    def default(cls) -> "Database":
        """Default database of the active session (ref duckdb.py:2396);
        rebound when the active session changes, e.g. after a restart.
        A thread with no active session keeps the current default."""
        active = SparkSession.getActiveSession()
        if cls._default is None or (
            active is not None and cls._default.spark is not active
        ):
            cls._default = cls(active)
        return cls._default

    @classmethod
    def from_connection(cls, spark: SparkSession) -> "Database":
        """Construct from an existing SparkSession (the Spark analogue of
        the reference's DuckDB-connection constructor, ref duckdb.py:2422)."""
        return cls(spark)

    def _read_path(self, path: str) -> SparkDataFrame:
        from patito_spark.sources.readers import read_inferred

        lower = path.lower()
        if lower.endswith(".parquet"):
            return read_inferred(self.spark, "parquet", path)
        if lower.endswith(".csv"):
            return read_inferred(
                self.spark, "csv", path, header=True, inferSchema=True
            )
        if lower.endswith(".json"):
            return read_inferred(self.spark, "json", path)
        raise TypeError(f"Unsupported file type for Relation source: {path}")

    def to_relation(self, derived_from: RelationSource) -> Relation:
        """Cast a DataFrame / pandas DataFrame / SQL string / table name /
        data-file path to a Relation (ref duckdb.py:2444)."""
        if isinstance(derived_from, Relation):
            return derived_from
        return Relation(derived_from, database=self)

    def query(self, query: str, alias: str = "query_relation") -> Relation:
        """Run an arbitrary SQL query and wrap the result (ref duckdb.py:2576)."""
        return Relation(self.spark.sql(query), database=self, alias=alias)

    def create_enum_types(self, model) -> None:
        """Register enum DOMAIN views for a model's string enums
        (ref duckdb.py:2762 ``create_enum_types``).

        Spark SQL has no ``CREATE TYPE ... AS ENUM`` DDL, so the
        relational encoding is used instead: each distinct enum value
        set becomes a single-column temp view (``value string``) named
        ``enum__<md5-of-sorted-values>`` — the same deterministic,
        order-independent name the reference derives, so DDL scripts
        that reference these names keep working. The views serve the
        same roles the reference's enum types do: domain checks via
        semi/anti joins, and a queryable catalog of allowed values
        (``SELECT value FROM enum__...``). Row-level Literal/Enum
        validation itself never needed these — it compiles into the
        single-pass validator — so this is the DDL-compat surface only.
        Non-string enums are skipped, matching DuckDB's enum support.
        """
        import hashlib

        for props in model._schema_properties().values():
            values_ = props.get("enum")
            if not values_ or not all(isinstance(v, str) for v in values_):
                # string enums only, matching DuckDB's enum support
                continue
            values = sorted(values_)
            joined = ", ".join(repr(v) for v in values)
            name = f"enum__{hashlib.md5(joined.encode()).hexdigest()}"
            if name in self.enum_types:
                continue
            self.spark.createDataFrame(
                [(v,) for v in values], "value string"
            ).createOrReplaceTempView(name)
            self.enum_types.add(name)
            self.views.add(name)

    def execute(self, query: str) -> None:
        """Execute SQL for side effects (DDL etc.)."""
        self.spark.sql(query).collect()

    def empty_relation(self, schema: type["Model"]) -> Relation:
        """Empty relation with the model's schema (ref duckdb.py:2617)."""
        df = self.spark.createDataFrame([], schema=schema.spark_schema)
        return Relation(df, database=self, model=schema)

    def table(self, name: str) -> Relation:
        """Relation over a registered table (ref duckdb.py:2656)."""
        if name in self.tables:
            return Relation(self.tables[name], database=self, alias=name)
        return Relation(self.spark.table(name), database=self, alias=name)

    def view(self, name: str) -> Relation:
        """Relation over a registered view (ref duckdb.py:2686)."""
        return Relation(self.spark.table(name), database=self, alias=name)

    def create_table(
        self,
        name: str,
        model: Optional[type["Model"]] = None,
        data: Optional[RelationSource] = None,
    ) -> Relation:
        """Create a named table from a model schema and/or data.

        Locally this registers a temp view over the data; on a cluster with
        a persistent catalog, saveAsTable would replace this (the Relation
        API is unchanged).
        """
        if model is not None:
            # Parity with the reference, which defines enum types before
            # creating model-backed tables (ref duckdb.py:1607, 2029):
            # the enum DOMAIN views exist as soon as the table does.
            self.create_enum_types(model)
        if data is not None:
            df = self.to_relation(data)._df
        elif model is not None:
            df = self.spark.createDataFrame([], schema=model.spark_schema)
        else:
            raise TypeError("create_table requires model= or data=.")
        self.tables[name] = df
        df.createOrReplaceTempView(name)
        relation = Relation(df, database=self, alias=name)
        return relation.set_model(model) if model is not None else relation

    def create_view(self, name: str, data: RelationSource) -> Relation:
        """Register a named (lazy) view over the given source."""
        df = self.to_relation(data)._df
        df.createOrReplaceTempView(name)
        self.views.add(name)
        return Relation(df, database=self, alias=name)

    def insert_into(self, table: str, data: RelationSource) -> Relation:
        """Append rows into a registered table."""
        if table not in self.tables:
            raise KeyError(f"Table {table!r} has not been created in this Database.")
        incoming = self.to_relation(data)._df
        existing = self.tables[table]
        updated = existing.unionByName(incoming.select(*existing.columns))
        self.tables[table] = updated
        updated.createOrReplaceTempView(table)
        return Relation(updated, database=self, alias=table)

    def __contains__(self, table: str) -> bool:
        return table in self.tables or self.spark.catalog.tableExists(table)
