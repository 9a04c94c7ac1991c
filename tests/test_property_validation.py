"""Property-based tests: the single-pass validator must agree with a naive
per-row python re-implementation on arbitrary data."""

import ast
import re
from typing import Literal, Optional

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

import patito_spark as pt
from patito_spark.exceptions import DataFrameValidationError


class Bounded(pt.Model):
    a: int = pt.Field(ge=-5, le=5)
    b: Optional[float] = pt.Field(None, gt=0.0)
    name: str = pt.Field(min_length=1, max_length=8)


ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-20, max_value=20),
        st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False,
                                       min_value=-10, max_value=10)),
        st.text(
            alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd")),
            min_size=0,
            max_size=12,
        ),
    ),
    min_size=1,
    max_size=12,
)


def naive_errors(rows) -> set:
    bad = set()
    for a, b, name in rows:
        if not (-5 <= a <= 5):
            bad.add("a")
        if b is not None and not (b > 0.0):
            bad.add("b")
        if not (1 <= len(name) <= 8):
            bad.add("name")
    return bad


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=ROWS)
def test_validator_matches_naive(spark, rows):
    df = spark.createDataFrame(rows, schema="a long, b double, name string")
    expected = naive_errors(rows)
    try:
        Bounded.validate_df(df)
        actual = set()
    except DataFrameValidationError as exc:
        actual = {e["loc"][0] for e in exc.errors()}
    assert actual == expected


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(
        st.integers(min_value=0, max_value=5), min_size=1, max_size=10
    )
)
def test_uniqueness_matches_naive(spark, values):
    class U(pt.Model):
        v: int = pt.Field(unique=True)

    df = spark.createDataFrame([(v,) for v in values], schema="v long")
    has_dups = len(set(values)) != len(values)
    try:
        U.validate_df(df)
        assert not has_dups
    except DataFrameValidationError:
        assert has_dups


# --- batch validate() and stream validity agree, check by check ----------- #

# A constraint per referenced column type; "{}" is the column name or `_`.
_CONSTRAINT = {
    "int": "{} > 0",
    "str": "{} <> 'a'",
    "enum": "{} <> 'a'",
    "list": "size({}) > 1",
}
_ANNOTATION = {
    "int": int,
    "str": str,
    "enum": Literal["a", "b"],
    "list": list[int],
    "list_nullable_items": list[Optional[int]],  # carries no row check
}
_UNDERSCORE = re.compile(r"(?<![\w`])_(?![\w`])")
_DDL = {"int": "long", "str": "string", "enum": "string", "list": "array<long>"}
_TYPES = ["enum", "int", "list", "str"]
_TEXT = st.one_of(st.none(), st.text(alphabet="abc", max_size=3))
_VALUES = {
    "int": st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
    "str": _TEXT,
    "enum": _TEXT,
    # At most one NULL item per list, so batch's per-item count of
    # "missing values in lists" is a row count.
    "list": st.one_of(
        st.none(),
        st.tuples(
            st.lists(st.integers(min_value=-2, max_value=2), max_size=2),
            st.booleans(),
        ).map(lambda t: t[0] + [None] if t[1] else t[0]),
    ),
}
_MESSAGE = [
    (re.compile(r"(\d+) missing values? in lists"), "list_nulls"),
    (re.compile(r"(\d+) missing values?"), "nulls"),
    (re.compile(r"Rows with invalid values: (.*)\."), "enum"),
    (re.compile(r"(\d+) rows? with out of bound values\."), "bounds"),
    (re.compile(r"(\d+) rows? does not match custom constraints\."), "constraints"),
]


@st.composite
def _columns(draw):
    """Column descriptions: type, nullability, value bounds, and a
    constraint on the field itself, on another column, or on `_`."""
    types = draw(st.lists(st.sampled_from(_TYPES), min_size=1, max_size=3))
    columns = []
    for i, kind in enumerate(types):
        bounds = {}
        if kind == "int" and draw(st.booleans()):
            bounds = {"ge": draw(st.integers(-2, 0)), "le": draw(st.integers(0, 2))}
        elif kind == "str" and draw(st.booleans()):
            bounds = draw(
                st.sampled_from([{"pattern": "^a"}, {"min_length": 1, "max_length": 2}])
            )
        target = draw(st.sampled_from([None, "_", *range(len(types))]))
        if target is None:
            constraint = None
        elif target == "_":
            constraint = _CONSTRAINT[kind].format("_")
        else:
            constraint = _CONSTRAINT[types[target]].format(f"c{target}")
        columns.append(
            {
                "name": f"c{i}",
                "type": kind,
                "nullable": draw(st.booleans()),
                "bounds": bounds,
                "constraint": constraint,
            }
        )
    return columns


def _model(columns: list[dict]) -> type:
    annotations, fields = {}, {}
    for c in columns:
        annotation = _ANNOTATION[c["type"]]
        kwargs = dict(c["bounds"])
        if c["constraint"] is not None:
            kwargs["constraints"] = c["constraint"]
        if c["nullable"]:
            annotation = Optional[annotation]
            kwargs["default"] = None
        annotations[c["name"]] = annotation
        fields[c["name"]] = pt.Field(**kwargs)
    return type("Drawn", (pt.Model,), {"__annotations__": annotations, **fields})


def _single_checks(c: dict) -> list[tuple[str, dict]]:
    """One single-check column description per row check ``c`` carries.
    A `_` constraint names the column instead: streams cannot bind `_`."""
    unchecked = {"enum": "str", "list": "list_nullable_items"}
    base = {
        **c,
        "type": unchecked.get(c["type"], c["type"]),
        "nullable": True,
        "bounds": {},
        "constraint": None,
    }
    checks = []
    if not c["nullable"]:
        checks.append(("nulls", {**base, "nullable": False}))
    if c["type"] == "list":
        checks.append(("list_nulls", {**base, "type": "list"}))
    if c["type"] == "enum":
        checks.append(("enum", {**base, "type": "enum"}))
    if c["bounds"]:
        checks.append(("bounds", {**base, "bounds": c["bounds"]}))
    if c["constraint"] is not None:
        named = _UNDERSCORE.sub(c["name"], c["constraint"])
        checks.append(("constraints", {**base, "constraint": named}))
    return checks


def _batch_counts(model, df) -> dict:
    """(column, kind) -> count (the offending-value sample for enum)."""
    try:
        model.validate_df(df)
        return {}
    except DataFrameValidationError as exc:
        errors = exc.errors()
    found = {}
    for err in errors:
        for pattern, kind in _MESSAGE:
            m = pattern.fullmatch(err["msg"])
            if m:
                value = m.group(1)
                found[err["loc"][0], kind] = (
                    ast.literal_eval(value) if kind == "enum" else int(value)
                )
                break
        else:
            raise AssertionError(f"unexpected error {err}")
    return found


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_stream_rejects_what_batch_counts(spark, data):
    """For every row check of a drawn model, the rows
    ``row_validity_column`` rejects for that check alone are the rows batch
    ``validate()`` counts for it."""
    from pyspark.sql import functions as F

    from patito_spark.streaming.validate import row_validity_column

    columns = data.draw(_columns())
    rows = data.draw(
        st.lists(
            st.tuples(*(_VALUES[c["type"]] for c in columns)), min_size=1, max_size=8
        )
    )
    df = spark.createDataFrame(
        rows, ", ".join(f"{c['name']} {_DDL[c['type']]}" for c in columns)
    )
    want = _batch_counts(_model(columns), df)

    checks = [
        (c["name"], kind, _model([single]))
        for c in columns
        for kind, single in _single_checks(c)
    ]
    stream = df.select(
        *(
            F.count_if(~row_validity_column(model)).alias(f"n{i}")
            for i, (_, _, model) in enumerate(checks)
        ),
        *(
            F.collect_set(F.when(~row_validity_column(model), F.col(name)))
            .alias(f"v{i}")
            for i, (name, kind, model) in enumerate(checks)
            if kind == "enum"
        ),
    ).first()
    got = {}
    for i, (name, kind, _) in enumerate(checks):
        if not stream[f"n{i}"]:
            continue
        if kind == "enum":
            # batch reports a sample of up to 5 offending values
            rejected = set(stream[f"v{i}"])
            sample = want.get((name, kind), set())
            assert sample <= rejected and len(sample) == min(5, len(rejected))
            got[name, kind] = sample
        else:
            got[name, kind] = stream[f"n{i}"]
    assert got == want
