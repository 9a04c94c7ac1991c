"""Database tests (mirrors ref tests/test_duckdb/test_database.py)."""

import itertools
import os
import subprocess
import sys
import textwrap
from contextlib import contextmanager
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import patito_spark as pt
from patito_spark.exceptions import DataFrameValidationError


@pytest.fixture()
def db(spark):
    return pt.Database(spark)


def test_query(db):
    rel = db.query("select 1 as a union all select 2 as a")
    assert rel.count() == 2


def test_to_relation_from_sql(db):
    rel = db.to_relation("select 1 as a, 'x' as b")
    assert rel.columns == ["a", "b"]


def test_empty_relation(db):
    class M(pt.Model):
        a: int
        b: Optional[str] = None

    rel = db.empty_relation(M)
    assert rel.count() == 0
    assert rel.columns == ["a", "b"]
    assert rel.model is M


def test_create_table_and_contains(db, spark):
    class M(pt.Model):
        a: int

    assert "test_tbl_x" not in db
    db.create_table("test_tbl_x", model=M)
    assert "test_tbl_x" in db
    assert db.table("test_tbl_x").count() == 0


def test_insert_into(db, spark):
    class M(pt.Model):
        a: int

    db.create_table("test_tbl_ins", model=M)
    data = db.to_relation(spark.createDataFrame([(1,), (2,)], "a long"))
    data.insert_into("test_tbl_ins")
    assert db.table("test_tbl_ins").count() == 2
    data.insert_into("test_tbl_ins")
    assert db.table("test_tbl_ins").count() == 4
    with pytest.raises(KeyError):
        data.insert_into("never_created")


def test_create_view(db, spark):
    rel = db.to_relation(spark.createDataFrame([(1,)], "a long"))
    db.create_view("test_view_x", rel)
    assert db.view("test_view_x").count() == 1


def test_relation_create_table(db, spark):
    rel = db.to_relation(spark.createDataFrame([(5,)], "a long"))
    rel.create_table("test_tbl_from_rel")
    assert "test_tbl_from_rel" in db
    assert db.table("test_tbl_from_rel").count() == 1


def test_default_database_shared():
    assert pt.Database.default() is pt.Database.default()


def test_from_connection(spark):
    db = pt.Database.from_connection(spark)
    assert db.spark is spark
    assert db.query("select 1 as a").count() == 1


# --- model inference (ref duckdb.py:101-110 create_pydantic_model) ------- #


def test_infer_model_annotations(spark, db):
    rel = db.to_relation(
        spark.createDataFrame(
            [(1, "a", 2.5, None)],
            "k long, s string, v double, maybe string",
        )
    ).set_alias("inferred_products")
    model = rel.infer_model()
    assert model.__name__ == "inferred_products"
    assert model.columns == ["k", "s", "v", "maybe"]
    assert model.dtypes["k"].simpleString() == "bigint"
    assert model.dtypes["s"].simpleString() == "string"
    assert model.dtypes["v"].simpleString() == "double"
    assert model.nullable_columns == {"k", "s", "v", "maybe"}


def test_infer_model_round_trips_validation(spark, db):
    """An inferred model must validate the relation it came from."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int not null, name string"
    )
    rel = db.to_relation(df)
    model = rel.infer_model()
    # IntegerType (not the int-default LongType) must round-trip via the
    # dtype override.
    model.validate_df(df)
    assert model.dtypes["id"].simpleString() == "int"


def test_infer_model_nested_types(spark, db):
    df = spark.createDataFrame(
        [([1, 2], {"k": 1.0})],
        "arr array<bigint>, m map<string, double>",
    )
    model = db.to_relation(df).infer_model()
    model.validate_df(df)


def test_get_on_untyped_relation_uses_inferred_model(spark, db):
    """get() on a model-less relation returns typed inferred-model rows."""
    rel = db.to_relation(
        spark.createDataFrame([(1, "a"), (2, "b")], "column_1 long, column_2 string")
    )
    row = rel.get(column_1=1)
    assert row.column_1 == 1
    assert row.column_2 == "a"
    from typing import Optional

    assert type(row).model_fields["column_1"].annotation == Optional[int]
    assert "column_1" in type(row).columns


class TestCreateEnumTypes:
    def test_creates_domain_views_with_reference_names(self, spark):
        import hashlib
        from typing import Literal, Optional

        import patito_spark as pt

        class EnumModel(pt.Model):
            zone: Literal["dry", "cold", "frozen"]
            other: Optional[int] = None

        db = pt.Database(spark)
        db.create_enum_types(EnumModel)
        joined = ", ".join(repr(v) for v in sorted(["dry", "cold", "frozen"]))
        expected = f"enum__{hashlib.md5(joined.encode()).hexdigest()}"
        assert db.enum_types == {expected}
        vals = {r["value"] for r in spark.table(expected).collect()}
        assert vals == {"dry", "cold", "frozen"}

    def test_same_values_same_name_and_idempotent(self, spark):
        from typing import Literal

        import patito_spark as pt

        class A(pt.Model):
            c: Literal["x", "y"]

        class B(pt.Model):
            d: Literal["y", "x"]  # same value set, different order

        db = pt.Database(spark)
        db.create_enum_types(A)
        db.create_enum_types(B)
        db.create_enum_types(A)
        assert len(db.enum_types) == 1

    def test_domain_check_via_anti_join(self, spark):
        """The views serve the enum-type role: domain violations surface
        with one anti join against the enum view."""
        from typing import Literal

        import patito_spark as pt
        from pyspark.sql import functions as F

        class M(pt.Model):
            zone: Literal["a", "b"]

        db = pt.Database(spark)
        db.create_enum_types(M)
        (name,) = db.enum_types
        data = spark.createDataFrame([("a",), ("zzz",)], "zone string")
        bad = data.join(
            spark.table(name), data["zone"] == F.col("value"), "left_anti"
        )
        assert [r["zone"] for r in bad.collect()] == ["zzz"]

    def test_create_table_registers_enum_views(self, spark):
        from typing import Literal

        import patito_spark as pt

        class M(pt.Model):
            k: int
            zone: Literal["a", "b"]

        db = pt.Database(spark)
        db.create_table("enum_backed", model=M)
        assert len(db.enum_types) == 1
        (name,) = db.enum_types
        assert {r["value"] for r in spark.table(name).collect()} == {"a", "b"}


# ------------------------------------------------------- inferred schemas #
#
# Database._read_path infers a file's schema once per file version per
# session (sources.readers.read_inferred). Every case checks the schema of
# the cached read against an uncached spark.read of the same path.

_JOB_GROUPS = itertools.count()


def _jobs_in(spark, fn) -> int:
    """Spark jobs ``fn`` launches in this thread (from the statusTracker)."""
    sc = spark.sparkContext
    group = f"inferred-schema-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def _conf(spark, **confs):
    """Run the block with ``confs`` set on the session, then restore them."""
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _schema_matches_spark(db, spark, path):
    schema = db.to_relation(path).dataframe.schema
    assert schema == spark.read.parquet(path).schema
    return schema


def test_to_relation_reinfers_a_rewritten_file(db, spark, tmp_path):
    class M(pt.Model):
        a: int

    path = str(tmp_path / "rewritten.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert _schema_matches_spark(db, spark, path)["a"].dataType.simpleString() == "bigint"
    db.to_relation(path).set_model(M).to_df().validate()

    pq.write_table(pa.table({"a": ["x", "yy", "zzz"]}), path)
    assert _schema_matches_spark(db, spark, path)["a"].dataType.simpleString() == "string"
    with pytest.raises(DataFrameValidationError) as exc_info:
        db.to_relation(path).set_model(M).to_df().validate()
    assert [e["type"] for e in exc_info.value.errors()] == ["type_error.columndtype"]


@pytest.mark.parametrize(
    "name, first, second",
    [
        ("t.csv", "a,b\n1,x\n2,y\n", "a,b\nfoo,1\n"),
        ("t.json", '{"a": 1, "b": "x"}\n', '{"a": "foo", "b": 1.5}\n'),
    ],
)
def test_to_relation_text_files_reinfer_once_per_version(
    db, spark, tmp_path, name, first, second
):
    path = str(tmp_path / name)
    uncached = (
        (lambda: spark.read.csv(path, header=True, inferSchema=True))
        if name.endswith(".csv")
        else (lambda: spark.read.json(path))
    )
    for text in (first, second):
        with open(path, "w") as f:
            f.write(text)
        db.to_relation(path)
        assert _jobs_in(spark, lambda: db.to_relation(path)) == 0
        rel = db.to_relation(path).dataframe
        assert rel.schema == uncached().schema
        assert sorted(rel.collect()) == sorted(uncached().collect())


def test_to_relation_merges_an_added_part_file(db, spark, tmp_path):
    path = tmp_path / "parts.parquet"
    path.mkdir()
    pq.write_table(pa.table({"a": [1]}), path / "part-0.parquet")
    with _conf(spark, **{"spark.sql.parquet.mergeSchema": "true"}):
        assert _schema_matches_spark(db, spark, str(path)).names == ["a"]
        pq.write_table(pa.table({"a": [2], "b": ["x"]}), path / "part-1.parquet")
        assert _schema_matches_spark(db, spark, str(path)).names == ["a", "b"]


def test_to_relation_follows_inference_confs(db, spark, tmp_path):
    path = str(tmp_path / "confs.parquet")
    pq.write_table(
        pa.table(
            {
                "b": pa.array([b"x"], pa.binary()),
                "ts": pa.array([1_000_000_001], pa.timestamp("ns")),
            }
        ),
        path,
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    with _conf(spark, **{key: "true", "spark.sql.parquet.binaryAsString": "false"}):
        schema = _schema_matches_spark(db, spark, path)
        assert [f.dataType.simpleString() for f in schema] == ["binary", "bigint"]
        with _conf(spark, **{"spark.sql.parquet.binaryAsString": "true"}):
            schema = _schema_matches_spark(db, spark, path)
            assert schema["b"].dataType.simpleString() == "string"
        # Spark cannot read TIMESTAMP(NANOS) without nanosAsLong: the
        # cached bigint schema must not paper over that.
        with _conf(spark, **{key: "false"}):
            with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
                spark.read.parquet(path)
            with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
                db.to_relation(path)


def test_to_relation_keeps_hive_partition_columns(db, spark, tmp_path):
    path = str(tmp_path / "hive.parquet")
    spark.createDataFrame(
        [(1, "x", 10, "p"), (2, "y", 20, "q")], "a long, b string, k int, s string"
    ).write.partitionBy("k", "s").parquet(path)
    first = _schema_matches_spark(db, spark, path)
    assert _jobs_in(spark, lambda: db.to_relation(path)) == 0
    again = db.to_relation(path).dataframe
    assert again.schema == first
    assert [f.dataType.simpleString() for f in first] == ["bigint", "string", "int", "string"]
    assert sorted(again.collect()) == sorted(spark.read.parquet(path).collect())


def test_to_relation_of_unchanged_path_runs_no_job(db, spark, tmp_path):
    path = str(tmp_path / "unchanged.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert _jobs_in(spark, lambda: db.to_relation(path)) >= 1
    assert _jobs_in(spark, lambda: db.to_relation(path)) == 0
    assert db.to_relation(path).dataframe.schema == spark.read.parquet(path).schema

    assert pt.release_caches() == 0
    assert _jobs_in(spark, lambda: db.to_relation(path)) >= 1


def test_default_database_is_kept_in_a_thread_without_active_session(spark):
    import threading

    main = pt.Database.default()
    seen = []
    worker = threading.Thread(target=lambda: seen.append(pt.Database.default()))
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive()
    assert seen[0] is main


def test_default_database_follows_a_restarted_session(tmp_path):
    """The default database rebinds to the session started after a stop
    (a stopped session's plans fail with an internal planning error). Run
    in its own process: stopping the suite's session would break every
    later test."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        """
        import patito_spark as pt
        from patito_spark.session import get_session

        spark = get_session("restart")
        assert pt.Relation("select 1 as a").count() == 1
        spark.stop()
        spark = get_session("restart")
        assert pt.Relation("select 2 as a").count() == 1
        assert pt.Database.default().spark is spark
        """
    )
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (repo, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS="1",
        SPARK_DRIVER_MEMORY="1g",
    )
    done = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
