"""Structured Streaming helper tests (memory/rate sources, availableNow)."""

import time
from contextlib import contextmanager
from typing import Literal, Optional

import pytest
from pyspark.sql import functions as F

import patito_spark as pt
from patito_spark.streaming import (
    read_stream,
    stateful_dedup_stream,
    windowed_aggregate,
)
from patito_spark.streaming.validate import row_validity_column


class Event(pt.Model):
    event_id: int
    kind: Literal["click", "view"]
    amount: float = pt.Field(ge=0)
    note: Optional[str] = None


@pytest.fixture()
def event_parquet(spark, tmp_path):
    path = str(tmp_path / "events_stream")
    spark.createDataFrame(
        [
            (1, "click", 1.0, None),
            (2, "view", 2.0, "ok"),
            (3, "oven", 3.0, None),   # invalid kind
            (4, "click", -1.0, None), # invalid amount
        ],
        schema=Event.spark_schema,
    ).write.parquet(path)
    return path


def _run_available_now(stream_df, name, output_mode="append"):
    query = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(60)
    return query


def test_row_validity_column(spark):
    df = spark.createDataFrame(
        [
            (1, "click", 1.0, None),
            (3, "oven", 3.0, None),
            (4, "click", -1.0, None),
        ],
        schema=Event.spark_schema,
    )
    out = df.withColumn("ok", row_validity_column(Event)).collect()
    validity = {r.event_id: r.ok for r in out}
    assert validity == {1: True, 3: False, 4: False}

    class Tagged(pt.Model):
        tag_id: int
        xs: list[int]

    lists = spark.createDataFrame(
        [(1, [1, 2]), (2, [1, None]), (3, [])],
        schema="tag_id long, xs array<long>",
    )
    out = lists.withColumn("ok", row_validity_column(Tagged)).collect()
    assert {r.tag_id: r.ok for r in out} == {1: True, 2: False, 3: True}
    # Same verdict as batch validation.
    with pytest.raises(pt.DataFrameValidationError, match="missing value in lists"):
        Tagged.validate_df(lists.filter("tag_id = 2"))


def test_row_validity_column_constraints(spark):
    """Column constraints over snake_case names are not `_` self-references;
    a real `_` is refused on streams."""

    class Priced(pt.Model):
        unit_price: float = pt.Field(constraints=F.col("unit_price") >= 0)

    df = spark.createDataFrame([(1.0,), (-1.0,)], "unit_price double")
    out = df.withColumn("ok", row_validity_column(Priced)).collect()
    assert {r.unit_price: r.ok for r in out} == {1.0: True, -1.0: False}

    class Odd(pt.Model):
        odd_number: int = pt.Field(constraints=F.col("_") % 2 == 1)

    with pytest.raises(ValueError, match="self-references are not supported"):
        row_validity_column(Odd)


def test_row_validity_column_null_rule_matches_batch(spark):
    """A constraint that reads NULL passes, and constraints see rows whose
    own field is NULL: the row (a=1, b=NULL) is valid and (a=NULL, b=-1)
    is not, in batch and on the stream."""

    class Pair(pt.Model):
        a: Optional[int] = pt.Field(None, constraints="b > 0")
        b: Optional[int] = None

    df = spark.createDataFrame([(1, 1, None), (2, None, -1)], "id long, a long, b long")
    out = df.withColumn("ok", row_validity_column(Pair)).collect()
    assert {r.id: r.ok for r in out} == {1: True, 2: False}
    Pair.validate_df(df.filter("id = 1").drop("id"))
    with pytest.raises(pt.DataFrameValidationError, match="1 row does not match"):
        Pair.validate_df(df.drop("id"))


def test_read_stream_drop_invalid(spark, event_parquet):
    stream = read_stream(event_parquet, Event, spark=spark, drop_invalid=True)
    assert stream.isStreaming
    _run_available_now(stream, "t_valid_events")
    rows = spark.sql("select * from t_valid_events").collect()
    assert sorted(r.event_id for r in rows) == [1, 2]


def test_read_stream_annotates(spark, event_parquet):
    stream = read_stream(event_parquet, Event, spark=spark)
    _run_available_now(stream, "t_flagged_events")
    rows = spark.sql("select * from t_flagged_events").collect()
    flags = {r.event_id: r["__pt_valid"] for r in rows}
    assert flags == {1: True, 2: True, 3: False, 4: False}


def test_windowed_aggregate(spark, tmp_path):
    path = str(tmp_path / "ts_stream")
    spark.sql(
        """
        select id as user_id,
               timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,id,0) as ts,
               cast(id as double) as value
        from range(10)
        """
    ).write.parquet(path)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .parquet(path)
    )
    agg = windowed_aggregate(
        stream,
        "ts",
        "5 minutes",
        F.count("*").alias("n"),
        F.sum("value").alias("total"),
        watermark="1 minute",
    )
    # complete mode emits all windows, including ones the final watermark
    # hasn't closed yet (append mode would hold the last window back).
    _run_available_now(agg, "t_windows", output_mode="complete")
    rows = spark.sql("select * from t_windows").collect()
    assert sum(r.n for r in rows) == 10
    assert len(rows) == 2  # 10 minutes of data in 5-minute windows


def test_stateful_dedup_stream(spark, tmp_path):
    path = str(tmp_path / "dup_stream")
    spark.sql(
        """
        select id % 3 as k,
               timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) as ts
        from range(9)
        """
    ).write.parquet(path)
    stream = spark.readStream.schema("k long, ts timestamp").parquet(path)
    deduped = stateful_dedup_stream(stream, ["k"], "ts", watermark="1 hour")
    _run_available_now(deduped, "t_dedup")
    rows = spark.sql("select * from t_dedup").collect()
    assert sorted(r.k for r in rows) == [0, 1, 2]


def test_sessionize_stream(spark, tmp_path):
    from patito_spark.streaming import sessionize_stream

    path = str(tmp_path / "sess_stream")
    # user 1: two sessions separated by a 2-hour gap; user 2: one session
    spark.sql(
        """
        select * from values
          (1, timestamp'2024-01-01 00:00:00'),
          (1, timestamp'2024-01-01 00:05:00'),
          (1, timestamp'2024-01-01 02:30:00'),
          (2, timestamp'2024-01-01 01:00:00')
        as t(user_id, ts)
        """
    ).write.parquet(path)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(path)
    sessions = sessionize_stream(stream, gap="30 minutes", watermark="10 hours")
    _run_available_now(sessions, "t_sessions", output_mode="append")
    rows = spark.sql("select * from t_sessions").collect()
    # closed sessions emitted within the batch: user 1's first session
    # (closed by the 2h gap); open sessions are held in state
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r.n_events)
    assert by_user.get(1) == [2]


def test_streaming_apply_changes_matches_batch(spark, tmp_path):
    """The streaming CDC view must converge to the batch apply_changes
    result over the same change stream."""
    from patito_spark.operators.temporal import apply_changes
    from patito_spark.streaming import streaming_apply_changes

    path = str(tmp_path / "cdc_stream")
    changes = spark.sql(
        """
        select * from values
          (1, 10, 'v1a', 'U'),
          (1, 20, 'v1b', 'U'),
          (2, 15, 'v2',  'U'),
          (2, 30, null,  'D'),
          (3, 5,  'v3',  'U')
        as t(k, seq, v, op)
        """
    )
    changes.write.parquet(path)
    stream = spark.readStream.schema("k long, seq long, v string, op string").parquet(path)
    merged = streaming_apply_changes(stream, key_cols=["k"], seq_col="seq")
    _run_available_now(merged, "t_cdc", output_mode="update")
    rows = spark.sql("select * from t_cdc").collect()

    # Final state per key: latest update-mode emission
    latest = {}
    for r in rows:
        if r.k not in latest or r.seq > latest[r.k].seq:
            latest[r.k] = r
    stream_state = {
        k: (r.seq, r.v)
        for k, r in latest.items()
        if not r.is_deleted
    }
    batch = apply_changes(None, changes, key_cols=["k"], seq_col="seq")
    batch_state = {r.k: (r.seq, r.v) for r in batch.collect()}
    assert stream_state == batch_state
    assert latest[2].is_deleted  # tombstone emitted for the deleted key


_CDC_SCHEMA = "k long, seq long, v string, op string"


def _cdc_files(spark, path, files, schema=_CDC_SCHEMA):
    """Write each row list as one parquet file, with increasing mtimes so
    ``maxFilesPerTrigger=1`` reads them in list order."""
    import glob
    import os

    now = time.time()
    for i, rows in enumerate(files):
        before = set(glob.glob(f"{path}/*.parquet"))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        (new,) = set(glob.glob(f"{path}/*.parquet")) - before
        os.utime(new, (now - 100 + i, now - 100 + i))


def _cdc_emissions(
    spark, path, files_per_trigger=None, schema=_CDC_SCHEMA, checkpoint=None
):
    """Run streaming_apply_changes over ``path`` to completion; return
    ``[(batch_id, row), ...]`` and the finished query."""
    from patito_spark.streaming import streaming_apply_changes

    reader = spark.readStream.schema(schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    view = streaming_apply_changes(reader.parquet(path), ["k"], "seq")
    emitted = []
    writer = view.writeStream.outputMode("update").foreachBatch(
        lambda b, i: emitted.extend((i, r) for r in b.collect())
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    query = writer.trigger(availableNow=True).start()
    query.awaitTermination(120)
    assert query.exception() is None
    return emitted, query


def _final_view(emitted):
    final = {}
    for _, r in sorted(emitted, key=lambda e: e[0]):
        final[r.k] = r
    return final


def test_streaming_apply_changes_ties_and_late_changes(spark, tmp_path):
    """A seq tie goes to the greatest payload, within a batch and against
    state, whichever arrives first; a late change re-emits the winner."""
    path = str(tmp_path / "cdc_ties")
    _cdc_files(spark, path, [
        [(1, 10, "a", "U"), (1, 10, "b", "U"),
         (2, 10, "a", "U"), (3, 10, "b", "U"), (4, 20, "new", "U"),
         (5, 1, "x", None)],
        [(2, 10, "b", "U"), (3, 10, "a", "U"), (4, 5, "old", "U")],
    ])
    emitted, _ = _cdc_emissions(spark, path, files_per_trigger=1)
    by_key = {}
    for i, r in sorted(emitted, key=lambda e: e[0]):
        by_key.setdefault(r.k, []).append((i, r.seq, r.v, r.is_deleted))
    assert by_key[1] == [(0, 10, "b", False)]
    assert by_key[2] == [(0, 10, "a", False), (1, 10, "b", False)]
    assert by_key[3] == [(0, 10, "b", False), (1, 10, "b", False)]
    assert by_key[4] == [(0, 20, "new", False), (1, 20, "new", False)]
    assert by_key[5] == [(0, 1, "x", False)]  # NULL op is not a delete


def test_streaming_apply_changes_null_seq_never_wins(spark, tmp_path):
    """A key whose only changes have a NULL seq emits nothing (the pandas
    state version crashed the query on it)."""
    path = str(tmp_path / "cdc_null_seq")
    _cdc_files(spark, path, [
        [(1, None, "only", "U"), (2, None, "null", "U"), (2, 3, "w", "U"),
         (3, 1, "x", "U")],
    ])
    emitted, _ = _cdc_emissions(spark, path)
    final = _final_view(emitted)
    assert sorted(final) == [2, 3]
    assert (final[2].seq, final[2].v) == (3, "w")


def test_streaming_apply_changes_final_view_ignores_batching(spark, tmp_path):
    """The last emission per key is the same with one file per
    micro-batch and with every file in one, and it is the contract's
    winner: greatest (seq, payload), deletes as tombstones. The map
    column cannot be ordered and must not break the aggregation."""
    import random

    schema = "k long, seq long, v string, tags map<string,string>, op string"
    rng = random.Random(7)
    files = [
        [
            (rng.randrange(12), rng.choice([None, *range(6)]),
             v := rng.choice("abc"), {"v": v}, rng.choice(["U", "U", "D", None]))
            for _ in range(15)
        ]
        for _ in range(5)
    ]
    path = str(tmp_path / "cdc_batching")
    _cdc_files(spark, path, files, schema)
    one, q_one = _cdc_emissions(spark, path, files_per_trigger=1, schema=schema)
    assert len(q_one.recentProgress) >= 5
    every, _ = _cdc_emissions(spark, path, schema=schema)

    def view(emitted):
        return {
            k: (r.seq, r.v, r.tags, r.is_deleted)
            for k, r in _final_view(emitted).items()
        }

    want = {}
    for k, seq, v, tags, op in (r for rows in files for r in rows):
        cand = (seq, v, tags, op == "D")
        old = want.get(k)
        if seq is not None and (
            old is None or (seq, v, op == "D") > (old[0], old[1], old[3])
        ):
            want[k] = cand
    assert view(one) == view(every) == want


def test_streaming_apply_changes_plan_has_no_python(spark, tmp_path):
    """The merge is one JVM streaming aggregation: no pandas state
    operator and no other Python node in the executed plan."""
    import re

    path = str(tmp_path / "cdc_plan")
    _cdc_files(spark, path, [[(1, 1, "a", "U")]])
    _, query = _cdc_emissions(spark, path)
    plan = query._jsq.explainInternal(True)
    assert "StateStoreSave" in plan
    assert not re.search(r"InPandas|InArrow|Python", plan), plan


_CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_MANAGERS = "org.apache.spark.sql.execution.streaming.checkpointing."


@contextmanager
def _checkpoint_manager(spark, cls):
    """Run the block with ``cls`` as the session's checkpoint manager."""
    prev = spark.conf.get(_CHECKPOINT_MANAGER)
    spark.conf.set(_CHECKPOINT_MANAGER, cls)
    try:
        yield
    finally:
        spark.conf.set(_CHECKPOINT_MANAGER, prev)


def _input_rows(query):
    return sum(p["numInputRows"] for p in query.recentProgress)


def test_get_session_writes_checkpoints_through_filesystem(spark, tmp_path):
    """The bootstrap session uses the FileSystem checkpoint manager (no
    `readlink` fork per checkpoint file), and the setting is read when a
    query starts, so the resume tests below really switch managers."""
    from patito_spark.session import get_session

    assert get_session("patito_spark-tests") is spark
    assert spark.conf.get(_CHECKPOINT_MANAGER) == (
        _MANAGERS + "FileSystemBasedCheckpointFileManager"
    )
    path = str(tmp_path / "cdc_bogus")
    _cdc_files(spark, path, [[(1, 1, "a", "U")]])
    with _checkpoint_manager(spark, _MANAGERS + "NoSuchCheckpointFileManager"):
        with pytest.raises(Exception, match="NoSuchCheckpointFileManager"):
            _cdc_emissions(spark, path, checkpoint=str(tmp_path / "ckpt"))


def test_streaming_apply_changes_resumes_filecontext_checkpoint(spark, tmp_path):
    """A CDC checkpoint written by Spark's default FileContext manager
    restarts under the session's FileSystem manager: the second run reads
    only the new file, and the last emission per key is batch
    apply_changes over both files."""
    from patito_spark.operators.temporal import apply_changes

    path, ckpt = str(tmp_path / "cdc_resume"), str(tmp_path / "ckpt")
    first = [(1, 10, "a", "U"), (2, 10, "b", "U"), (3, 10, "c", "U")]
    second = [(1, 20, "a2", "U"), (2, 5, "late", "U"), (3, 30, None, "D"),
              (4, 1, "d", "U")]
    _cdc_files(spark, path, [first])
    with _checkpoint_manager(spark, _MANAGERS + "FileContextBasedCheckpointFileManager"):
        before, _ = _cdc_emissions(spark, path, checkpoint=ckpt)
    _cdc_files(spark, path, [second])
    after, query = _cdc_emissions(spark, path, checkpoint=ckpt)

    assert _input_rows(query) == len(second)
    assert min(i for i, _ in after) > max(i for i, _ in before)
    final = _final_view(before + after)
    batch = apply_changes(
        None, spark.createDataFrame(first + second, _CDC_SCHEMA), ["k"], "seq"
    )
    assert {k: (r.seq, r.v) for k, r in final.items() if not r.is_deleted} == {
        r.k: (r.seq, r.v) for r in batch.collect()
    }
    assert final[3].is_deleted


def test_stream_stream_join(spark, tmp_path):
    from patito_spark.streaming import stream_stream_join

    lpath, rpath = str(tmp_path / "ss_left"), str(tmp_path / "ss_right")
    spark.sql("""
        select * from values
          (1, timestamp'2024-01-01 10:00:00', 'L1'),
          (2, timestamp'2024-01-01 10:00:00', 'L2')
        as t(k, lts, lv)
    """).write.parquet(lpath)
    spark.sql("""
        select * from values
          (1, timestamp'2024-01-01 10:10:00', 'R1'),
          (2, timestamp'2024-01-01 12:00:00', 'R2late')
        as t(k, rts, rv)
    """).write.parquet(rpath)
    ls = spark.readStream.schema("k long, lts timestamp, lv string").parquet(lpath)
    rs = spark.readStream.schema("k long, rts timestamp, rv string").parquet(rpath)
    joined = stream_stream_join(
        ls, rs, on=["k"], left_ts="lts", right_ts="rts",
        max_delay="30 minutes", watermark="1 hour",
    )
    _run_available_now(joined, "t_ssjoin", output_mode="append")
    rows = spark.sql("select k, lv, rv from t_ssjoin").collect()
    got = {(r.k, r.lv, r.rv) for r in rows}
    assert (1, "L1", "R1") in got          # within 30 min
    assert all(r.rv != "R2late" for r in rows)  # 2h gap excluded


def test_write_stream_validated_dead_letter(spark, tmp_path):
    import patito_spark as pt
    from patito_spark.streaming import write_stream_validated

    class Reading(pt.Model):
        k: int
        v: float = pt.Field(ge=0)

    src = str(tmp_path / "wsv_src")
    spark.sql(
        "select * from values (1, 1.5), (2, -3.0), (3, 0.0), (4, cast(null as double)) as t(k, v)"
    ).write.parquet(src)
    stream = spark.readStream.schema("k long, v double").parquet(src)
    good, bad, ckpt = (str(tmp_path / d) for d in ("good", "bad", "ckpt"))
    q = write_stream_validated(
        stream, Reading, good, ckpt, dead_letter_path=bad,
        trigger_available_now=True,
    )
    q.awaitTermination(120)
    good_rows = {r.k for r in spark.read.parquet(good).collect()}
    bad_rows = {r.k for r in spark.read.parquet(bad).collect()}
    assert good_rows == {1, 3}
    assert bad_rows == {2, 4}  # negative and null both routed, not dropped


def test_write_stream_validated_inline_filter(spark, tmp_path):
    import patito_spark as pt
    from patito_spark.streaming import write_stream_validated

    class Reading(pt.Model):
        k: int
        v: float = pt.Field(ge=0)

    src = str(tmp_path / "wsv2_src")
    spark.sql("select * from values (1, 1.0), (2, -1.0) as t(k, v)").write.parquet(src)
    stream = spark.readStream.schema("k long, v double").parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt2")
    q = write_stream_validated(stream, Reading, out, ckpt, trigger_available_now=True)
    q.awaitTermination(120)
    assert {r.k for r in spark.read.parquet(out).collect()} == {1}


def test_write_stream_validated_resumes_filecontext_checkpoint(spark, tmp_path):
    """A dead-letter sink checkpoint written by the FileContext manager
    restarts under the session default: the second run reads only the
    appended file, and good + dead rows are the input rows, once each."""
    import patito_spark as pt
    from patito_spark.streaming import write_stream_validated

    class Reading(pt.Model):
        k: int
        v: float = pt.Field(ge=0)

    src = str(tmp_path / "wsv_resume_src")
    good, bad, ckpt = (str(tmp_path / d) for d in ("good", "bad", "ckpt"))

    def run():
        stream = spark.readStream.schema("k long, v double").parquet(src)
        q = write_stream_validated(
            stream, Reading, good, ckpt, dead_letter_path=bad,
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        assert q.exception() is None
        return q

    spark.sql("select * from values (1, 1.0), (2, -1.0) as t(k, v)").write.parquet(src)
    with _checkpoint_manager(spark, _MANAGERS + "FileContextBasedCheckpointFileManager"):
        run()
    spark.sql(
        "select * from values (3, 2.0), (4, cast(null as double)), (5, -5.0) as t(k, v)"
    ).write.mode("append").parquet(src)
    query = run()

    assert _input_rows(query) == 3
    good_keys = sorted(r.k for r in spark.read.parquet(good).collect())
    bad_keys = sorted(r.k for r in spark.read.parquet(bad).collect())
    assert good_keys == [1, 3]
    assert bad_keys == [2, 4, 5]


def test_stream_stream_join_left_outer(spark, tmp_path):
    """Outer rows emit only once BOTH watermarks prove no match can still
    arrive — which takes a later micro-batch advancing them. Two batches
    per side (maxFilesPerTrigger=1); the second carries far-future rows."""
    import time as _time

    from patito_spark.streaming import stream_stream_join

    lpath, rpath = str(tmp_path / "sso_left"), str(tmp_path / "sso_right")
    spark.sql("""
        select * from values
          (1, timestamp'2024-01-01 10:00:00', 'L1'),
          (9, timestamp'2024-01-01 10:00:00', 'Lonely')
        as t(k, lts, lv)
    """).coalesce(1).write.parquet(lpath)
    spark.sql("""
        select * from values (1, timestamp'2024-01-01 10:05:00', 'R1')
        as t(k, rts, rv)
    """).coalesce(1).write.parquet(rpath)
    _time.sleep(1.1)  # second files must sort later by mtime
    spark.sql("""
        select * from values (99, timestamp'2024-01-02 10:00:00', 'Ladv')
        as t(k, lts, lv)
    """).coalesce(1).write.mode("append").parquet(lpath)
    spark.sql("""
        select * from values (98, timestamp'2024-01-02 10:00:00', 'Radv')
        as t(k, rts, rv)
    """).coalesce(1).write.mode("append").parquet(rpath)

    ls = (spark.readStream.schema("k long, lts timestamp, lv string")
          .option("maxFilesPerTrigger", 1).parquet(lpath))
    rs = (spark.readStream.schema("k long, rts timestamp, rv string")
          .option("maxFilesPerTrigger", 1).parquet(rpath))
    joined = stream_stream_join(
        ls, rs, on=["k"], left_ts="lts", right_ts="rts",
        max_delay="30 minutes", watermark="1 hour", how="left_outer",
    )
    _run_available_now(joined, "t_sso", output_mode="append")
    rows = {(r.k, r.lv, r.rv) for r in spark.sql("select k, lv, rv from t_sso").collect()}
    assert (1, "L1", "R1") in rows
    # unmatched left row emitted with NULL right side after the day-later
    # batch advanced both watermarks past its join window
    assert (9, "Lonely", None) in rows


# ---------------------------------------------------------------------- #
# foreachBatch MERGE sink                                                 #
# ---------------------------------------------------------------------- #


def _cdc_batches():
    # (user_id, ts, value, op) — three files so maxFilesPerTrigger=1
    # forces multiple micro-batches, exercising target-merge + late data.
    return [
        [(1, 10, 1.0, "U"), (2, 10, 2.0, "U"), (3, 10, 3.0, "U")],
        [(1, 20, 1.5, "U"), (3, 20, 0.0, "D"), (4, 20, 4.0, "U")],
        # late change for user 1 (ts 15 < applied 20) must be rejected;
        # user 2 upserted again with a newer seq.
        [(1, 15, 9.9, "U"), (2, 30, 2.5, "U")],
    ]


def test_write_stream_merge_matches_batch_apply_changes(spark, tmp_path):
    from patito_spark.operators.temporal import apply_changes
    from patito_spark.streaming import write_stream_merge

    schema = "user_id long, ts long, value double, op string"
    src = str(tmp_path / "cdc_src")
    for i, rows in enumerate(_cdc_batches()):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    target = str(tmp_path / "cdc_target")
    query = write_stream_merge(
        stream,
        path=target,
        checkpoint=str(tmp_path / "ckpt"),
        key_cols=["user_id"],
        seq_col="ts",
        trigger_available_now=True,
    )
    query.awaitTermination(120)

    got = {
        r.user_id: (r.ts, r.value)
        for r in spark.read.parquet(target).collect()
    }

    all_changes = spark.createDataFrame(
        [r for rows in _cdc_batches() for r in rows], schema
    )
    want = {
        r.user_id: (r.ts, r.value)
        for r in apply_changes(
            None, all_changes, key_cols=["user_id"], seq_col="ts"
        ).collect()
    }
    assert got == want
    assert got[1] == (20, 1.5)   # late ts=15 rejected
    assert 3 not in got          # delete applied
    assert got[2] == (30, 2.5)   # re-upsert across batches


def test_write_stream_merge_random_streams(spark, tmp_path):
    """Randomized CDC equivalence: with tombstones on, ANY batch split of
    any change stream (including deletes arriving before older upserts)
    converges the target to batch apply_changes over the full stream.
    (Deterministic seeded cases — a hypothesis strategy would spin up a
    streaming query per example.)"""
    import random

    from pyspark.sql import functions as F

    from patito_spark.operators.temporal import apply_changes
    from patito_spark.streaming import write_stream_merge

    rng = random.Random(1234)
    schema = "user_id long, ts long, value double, op string"
    for case in range(3):
        # unique (key, seq): sample without replacement from a grid
        cells = [(k, s) for k in range(1, 6) for s in range(1, 30)]
        rng.shuffle(cells)
        changes = [
            (k, s, round(rng.random() * 10, 2), rng.choice(["U", "U", "D"]))
            for k, s in cells[: rng.randint(5, 40)]
        ]
        n_batches = rng.randint(1, 4)
        src = str(tmp_path / f"src_{case}")
        for i in range(n_batches):
            batch = changes[i::n_batches]
            if not batch:
                continue
            spark.createDataFrame(batch, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        target = str(tmp_path / f"target_{case}")
        q = write_stream_merge(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            path=target,
            checkpoint=str(tmp_path / f"ckpt_{case}"),
            key_cols=["user_id"],
            seq_col="ts",
            keep_tombstones=True,
            trigger_available_now=True,
        )
        q.awaitTermination(120)

        live = spark.read.parquet(target).filter(~F.col("is_deleted"))
        got = {r.user_id: (r.ts, r.value) for r in live.collect()}
        want = {
            r.user_id: (r.ts, r.value)
            for r in apply_changes(
                None,
                spark.createDataFrame(changes, schema),
                key_cols=["user_id"],
                seq_col="ts",
            ).collect()
        }
        assert got == want, f"case {case}: {got} != {want}"


def test_write_stream_merge_detects_lost_target(spark, tmp_path):
    """A missing target is legitimate only before the first successful
    merge. Afterward the _patito_merge_initialized marker exists, and a
    vanished target (crash mid-overwrite, external rm) must fail loudly
    instead of silently rebuilding the table from one micro-batch."""
    import os
    import shutil

    from patito_spark.streaming import write_stream_merge

    schema = "user_id long, ts long, value double, op string"
    src = str(tmp_path / "src")
    target = str(tmp_path / "tgt")

    def run_stream(ckpt):
        q = write_stream_merge(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            path=target,
            checkpoint=str(tmp_path / ckpt),
            key_cols=["user_id"],
            seq_col="ts",
            trigger_available_now=True,
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [(1, 10, 1.0, "U"), (2, 10, 2.0, "U")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run_stream("ckpt1")
    assert os.path.exists(os.path.join(target, "_patito_merge_initialized"))

    # Simulate losing the merged state but keeping the marker.
    for d in os.listdir(target):
        if d.startswith("__kb="):
            shutil.rmtree(os.path.join(target, d))
    spark.createDataFrame(
        [(3, 20, 3.0, "U")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    import pytest as _pytest

    with _pytest.raises(Exception, match="previously merged state"):
        run_stream("ckpt2")


def test_write_stream_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The parquet target is hash-partitioned on __kb and merged with
    dynamic partition overwrite: a micro-batch must rewrite ONLY the
    bucket directories its keys hash to (per-batch I/O proportional to
    touched state, not table size), and a bucket whose keys were all
    deleted must lose its directory."""
    import os

    from patito_spark.streaming import write_stream_merge

    schema = "user_id long, ts long, value double, op string"
    src = str(tmp_path / "src")
    target = str(tmp_path / "tgt")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        q = write_stream_merge(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            path=target,
            checkpoint=ckpt,
            key_cols=["user_id"],
            seq_col="ts",
            trigger_available_now=True,
            n_buckets=8,
        )
        q.awaitTermination(120)

    def files_by_bucket():
        out = {}
        for d in os.listdir(target):
            if d.startswith("__kb="):
                out[d] = sorted(os.listdir(os.path.join(target, d)))
        return out

    # batch 1: 80 keys spread over all 8 buckets
    spark.createDataFrame(
        [(k, 10, float(k), "U") for k in range(80)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run_stream()
    before = files_by_bucket()
    assert len(before) == 8  # all buckets populated

    # batch 2: update ONE key -> exactly one bucket dir may change
    spark.createDataFrame(
        [(7, 20, 7.5, "U")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run_stream()
    after = files_by_bucket()
    changed = {d for d in after if after[d] != before.get(d)}
    assert len(changed) == 1, f"rewrote {changed}"
    got = {
        r.user_id: r.value for r in spark.read.parquet(target).collect()
    }
    assert got[7] == 7.5 and len(got) == 80  # merge, not truncate

    # batch 3: delete every key of bucket(user_id=7) -> that directory
    # must disappear; nothing else rewritten
    kb7 = next(iter(changed))
    victims = [
        k for k in range(80)
        if spark.sql(
            f"select pmod(xxhash64(cast({k} as bigint)), 8) = "
            f"{kb7.split('=')[1]} as m"
        ).first()["m"]
    ]
    spark.createDataFrame(
        [(k, 30, 0.0, "D") for k in victims], schema
    ).coalesce(1).write.mode("append").parquet(src)
    before3 = files_by_bucket()
    run_stream()
    after3 = files_by_bucket()
    assert kb7 not in after3  # stale bucket dir dropped
    unchanged = {d for d in after3 if after3[d] == before3.get(d)}
    assert unchanged == set(after3)  # no other bucket rewritten
    got = {r.user_id for r in spark.read.parquet(target).collect()}
    assert got == set(range(80)) - set(victims)
