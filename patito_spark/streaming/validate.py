"""Model-aware Structured Streaming helpers.

Batch validation can scan; a stream cannot. So on streams the model's
row-level checks become a per-record predicate (fused into the stream
pipeline) instead of the batch single-pass aggregate: invalid rows are
either dropped or routed by a ``__pt_valid`` flag, and schema checks happen
once at stream definition (driver-side, free). Both sides take their checks
from the one compiler, :func:`patito_spark.validators.row_checks`, so a row
the stream rejects is a row batch ``validate()`` counts, check by check.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional, TYPE_CHECKING

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from patito_spark.validators import row_checks

if TYPE_CHECKING:
    from patito_spark.model import Model


def row_validity_column(schema: type["Model"]) -> Column:
    """Boolean Column, never NULL: True where the row passes every row check.

    The AND of ``NOT violation`` over :func:`~patito_spark.validators.row_checks`,
    the compiler batch ``validate()`` counts with, so both apply the same
    NULL rule: a check fails only where its predicate is FALSE, and a NULL
    result passes. Bounds and enum skip a NULL field; constraints see every
    row. Uniqueness is cross-row and is NOT included — use
    :func:`stateful_dedup_stream` for streaming dedup.

    Raises:
        ValueError: a constraint reads ``_``, which batch binds by a
            projection a row predicate cannot make.
    """
    checks = row_checks(schema)
    for check in checks:
        if check.kind == "constraints" and check.detail:
            raise ValueError(
                f"Streaming validation of column {check.column!r}: `_` self-"
                "references are not supported on streams; name the column "
                "explicitly in the constraint."
            )
    return reduce(lambda a, b: a & b, (~c.violation for c in checks), F.lit(True))


def read_stream(
    path_or_format: str,
    schema: type["Model"],
    spark: Optional[SparkSession] = None,
    drop_invalid: bool = False,
    format: Optional[str] = None,
    **options,
) -> DataFrame:
    """``readStream`` with the model's schema and per-record validation.

    Returns a streaming DataFrame; invalid rows are dropped
    (``drop_invalid=True``) or annotated with ``__pt_valid`` for routing to
    a dead-letter sink.
    """
    from patito_spark.session import active_session

    spark = spark or active_session()
    reader = spark.readStream.options(**options)
    if format is not None:
        stream = reader.format(format).schema(schema.spark_schema).load(
            path_or_format
        )
    else:
        stream = reader.schema(schema.spark_schema).parquet(path_or_format)
    valid = row_validity_column(schema)
    if drop_invalid:
        return stream.filter(valid)
    return stream.withColumn("__pt_valid", valid)


def windowed_aggregate(
    stream: DataFrame,
    ts_col: str,
    window_duration: str,
    *aggs: Column,
    watermark: str = "10 minutes",
    group_by: Optional[list[str]] = None,
    slide_duration: Optional[str] = None,
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation.

    The watermark bounds state: late records beyond it are dropped and
    completed windows are evicted, so state size is O(active windows), not
    O(stream length).
    """
    keys = [
        F.window(F.col(ts_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(ts_col), window_duration)
    ]
    for key in group_by or []:
        keys.append(F.col(key))
    return stream.withWatermark(ts_col, watermark).groupBy(*keys).agg(*aggs)


def session_window_aggregate(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    *aggs: Column,
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessionization via Spark's NATIVE session window.

    The declarative sibling of :func:`sessionize_stream`: the same
    gap-merge semantics expressed as ``groupBy(user,
    session_window(ts, gap))``, which Catalyst plans as the built-in
    ``SessionWindowStateStoreSave`` operator — all-JVM session merging,
    no Python state workers, watermark-bounded state eviction for free.
    Prefer this whenever per-session output plus standard aggregates is
    enough; reach for ``sessionize_stream`` only when the per-event
    state transition genuinely needs custom Python.

    Works on BATCH frames too (session_window is a plain aggregation
    there — the watermark is skipped), so the same helper backs both
    sides of an equivalence test or a backfill job.

    Semantics are Spark's native ones: sessions merge while
    ``ts <= prev_ts + gap`` (probed on this build — a delta of exactly
    ``gap`` still merges; only ``delta > gap`` splits), the SAME
    boundary rule as ``sessionize_stream`` and the batch lag-window
    sessionizer. The one difference: ``session_end`` here is the window
    end (``last event + gap``); ``sessionize_stream`` reports the last
    event itself. Subtract ``gap`` to convert.

    Output: ``user_col, session_start, session_end, n_events`` plus any
    extra ``aggs``. ``ts_col`` must be a true timestamp column (cast
    epoch-nanos with ``timestamp_micros(ns div 1000)`` first).
    """
    agg_list = [F.count("*").alias("n_events"), *aggs]
    src = df if not df.isStreaming else df.withWatermark(ts_col, watermark)
    out = src.groupBy(
        F.col(user_col), F.session_window(F.col(ts_col), gap)
    ).agg(*agg_list)
    return out.select(
        user_col,
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *[c for c in out.columns if c not in (user_col, "session_window")],
    )


def sessionize_stream(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator: gap-based sessionization per user.

    Built on ``applyInPandasWithState`` — the escape hatch for stateful
    logic Spark's built-ins can't express. State per user holds only
    (open-session start, last event ts, count): O(users) memory, evicted
    via state timeout once the gap passes. Emits one row per *closed*
    session; the session still open when state times out is flushed then.

    Output: ``user_id, session_start, session_end, n_events``.
    """
    import datetime as dt

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    gap_value, gap_unit = gap.split()
    seconds_per = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
    }[gap_unit]
    gap_seconds = int(gap_value) * seconds_per

    out_schema = StructType(
        [
            StructField("user_id", LongType(), False),
            StructField("session_start", TimestampType(), False),
            StructField("session_end", TimestampType(), False),
            StructField("n_events", LongType(), False),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_s", LongType(), True),
            StructField("last_s", LongType(), True),
            StructField("count", LongType(), True),
        ]
    )

    def close_sessions(key, batches, state: GroupState):
        (user_id,) = key
        sessions = []

        if state.hasTimedOut:
            if state.exists:
                start_s, last_s, count = state.get
                sessions.append((user_id, start_s, last_s, count))
                state.remove()
            yield pd.DataFrame(
                sessions,
                columns=["user_id", "start_s", "last_s", "count"],
            ).assign(
                session_start=lambda d: pd.to_datetime(d["start_s"], unit="s"),
                session_end=lambda d: pd.to_datetime(d["last_s"], unit="s"),
                n_events=lambda d: d["count"],
            )[["user_id", "session_start", "session_end", "n_events"]]
            return

        timestamps = []
        for pdf in batches:
            timestamps.extend(
                int(t.timestamp()) for t in pdf[ts_col]
            )
        timestamps.sort()

        if state.exists:
            start_s, last_s, count = state.get
        else:
            start_s = last_s = None
            count = 0

        for t in timestamps:
            if start_s is None:
                start_s, last_s, count = t, t, 1
            elif t - last_s > gap_seconds:
                sessions.append((user_id, start_s, last_s, count))
                start_s, last_s, count = t, t, 1
            else:
                last_s, count = t, count + 1

        if start_s is not None:
            state.update((start_s, last_s, count))
            state.setTimeoutDuration(gap_seconds * 1000)

        yield pd.DataFrame(
            [
                (
                    u,
                    dt.datetime.fromtimestamp(s, dt.timezone.utc).replace(
                        tzinfo=None
                    ),
                    dt.datetime.fromtimestamp(e, dt.timezone.utc).replace(
                        tzinfo=None
                    ),
                    n,
                )
                for (u, s, e, n) in sessions
            ],
            columns=["user_id", "session_start", "session_end", "n_events"],
        )

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            close_sessions,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def stateful_dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Exactly-once-per-key dedup within the watermark horizon.

    Uses Spark's built-in ``dropDuplicatesWithinWatermark``: state holds one
    entry per key and is evicted once the watermark passes, so memory is
    bounded by the number of distinct keys per horizon — the streaming
    analogue of batch ``dedup_exact``.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def _orderable(dtype: T.DataType) -> bool:
    """True when Spark can compare values of ``dtype`` (no map or variant
    anywhere inside it)."""
    if isinstance(dtype, (T.MapType, T.VariantType)):
        return False
    if isinstance(dtype, T.ArrayType):
        return _orderable(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return all(_orderable(f.dataType) for f in dtype.fields)
    return True


def streaming_apply_changes(
    stream: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Streaming CDC MERGE: a continuously-updated latest-state view.

    The streaming counterpart of
    :func:`patito_spark.operators.temporal.apply_changes`: per key, the
    change with the greatest ``seq_col`` seen so far wins; a winning
    delete emits a tombstone (``is_deleted=True``; a NULL op is not a
    delete). Output: keys, payload (all columns but ``op_col``),
    ``is_deleted``.

    One native ``max_by`` streaming aggregation: the state store keeps
    one buffer per key (O(keys) memory) and no Python runs in the plan.
    Run with ``outputMode("update")``; each micro-batch emits the current
    winner of every key it carried, so a late or losing change re-emits
    the unchanged winner (idempotent for an upsert consumer).

    - A tie on ``seq_col`` goes to the greatest orderable payload (then
      a delete), so the view depends neither on arrival order nor on the
      micro-batch split; map/variant columns do not break ties. The final
      view equals the batch operator whenever (key, seq) is unique, as
      ``apply_changes`` requires.
    - Rows with a NULL ``seq_col`` never win; a key with only such rows
      emits nothing.
    - A checkpoint from the earlier ``applyInPandasWithState`` version
      cannot be restarted: ``start()`` returns, then the first batch
      fails with ``STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA``
      before processing any rows.
    """
    value_cols = [c for c in stream.columns if c not in (*key_cols, op_col)]
    is_deleted = F.coalesce(F.col(op_col) == delete_op, F.lit(False))
    rank = [
        c for c in value_cols
        if c != seq_col and _orderable(stream.schema[c].dataType)
    ]
    winner = F.max_by(
        F.struct(*value_cols, is_deleted.alias("is_deleted")),
        F.when(
            F.col(seq_col).isNotNull(),
            F.struct(seq_col, *rank, is_deleted.alias("is_deleted")),
        ),
    )
    return (
        stream.groupBy(*key_cols)
        .agg(winner.alias("__w"))
        .filter(F.col("__w").isNotNull())
        .select(
            *key_cols,
            *[F.col("__w").getField(c).alias(c) for c in value_cols],
            F.col("__w.is_deleted"),
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a bounded time condition.

    Joins rows whose timestamps are within ``max_delay`` of each other
    (``right_ts`` in [left_ts - max_delay, left_ts + max_delay]). The
    watermarks plus the interval bound are exactly what lets Spark EVICT
    join state: without them a stream-stream join buffers both sides
    forever. State per side is bounded by (watermark + max_delay) of
    data — the knob to size against throughput.

    ``how``: inner, or left_outer/right_outer. Outer NULL rows emit
    only when BOTH watermarks have advanced past the row's join window —
    which requires a LATER micro-batch carrying newer events; a stream
    that simply ends never flushes its pending outer rows (standard
    Structured Streaming semantics, pinned by the outer-join test).
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = None
    for key in on:
        this = lw[key] == rw[key]
        cond = this if cond is None else cond & this
    interval = (
        (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {max_delay}"))
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    )
    cond = interval if cond is None else cond & interval
    joined = lw.join(rw, cond, how)
    # A condition join keeps both copies of each key; keep the side that
    # is non-null under the chosen join type.
    keep_left = how != "right_outer"
    for key in on:
        joined = joined.drop(rw[key] if keep_left else lw[key])
    return joined


def write_stream_validated(
    stream: DataFrame,
    model: type["Model"],
    path: str,
    checkpoint: str,
    dead_letter_path: Optional[str] = None,
    format: str = "parquet",
    trigger_available_now: bool = False,
    query_name: Optional[str] = None,
):
    """Validated streaming sink: good rows to ``path``, bad rows aside.

    The model's row checks (compiled by :func:`row_validity_column` from
    the same spec as batch validation) gate every record. With
    ``dead_letter_path`` the sink runs as ``foreachBatch`` writing BOTH
    outputs per micro-batch — invalid records are never dropped silently,
    the standard dead-letter-queue pattern; without it invalid rows are
    filtered out inline (cheaper: no per-batch python callback).

    Returns the started ``StreamingQuery``.
    """
    valid = row_validity_column(model)
    if dead_letter_path is None:
        writer = (
            stream.filter(valid)
            .writeStream.format(format)
            .option("path", path)
            .option("checkpointLocation", checkpoint)
        )
        if query_name:
            writer = writer.queryName(query_name)
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def route(batch: DataFrame, batch_id: int) -> None:
        # Split once per micro-batch; persist so the two writes don't
        # recompute the upstream batch.
        batch = batch.persist()
        batch.filter(valid).write.mode("append").format(format).save(path)
        batch.filter(~valid).write.mode("append").format(format).save(
            dead_letter_path
        )
        batch.unpersist()

    writer = stream.writeStream.foreachBatch(route).option(
        "checkpointLocation", checkpoint
    )
    if query_name:
        writer = writer.queryName(query_name)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_merge(
    changes: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    keep_tombstones: bool = False,
    trigger_available_now: bool = False,
    query_name: Optional[str] = None,
    n_buckets: int = 64,
):
    """CDC stream → continuously maintained table via foreachBatch MERGE.

    Each micro-batch is merged onto the target with the same semantics as
    the batch operator :func:`patito_spark.operators.temporal.apply_changes`:
    per key the greatest ``seq_col`` wins, a winning ``delete_op`` removes
    the key, and a late change older than the target's current row is
    rejected (the target row re-enters the merge carrying its own seq and
    wins ties; :func:`streaming_apply_changes` breaks them by payload, so
    the two agree whenever (key, seq) is unique, as ``apply_changes``
    requires). The seq column must be part of the change payload.

    The target is parquet **hash-partitioned on a key bucket**
    (directory column ``__kb`` = ``xxhash64(keys) mod n_buckets``, an
    internal layout column readers should drop): because the bucket is a
    pure function of the key, a micro-batch can only change state inside
    the buckets its own keys hash to, so the merge reads the target
    pruned to those partitions and rewrites ONLY them (dynamic partition
    overwrite). Per-batch I/O is therefore O(state touched by the
    batch), not O(|target|) — the property a native MERGE (Delta/
    Iceberg) gives you, reproduced on plain parquet; those formats also
    add snapshot isolation, which plain parquet cannot.
    ``localCheckpoint(eager=True)`` materializes the merged result
    BEFORE the overwrite deletes the files it was derived from.

    Tombstones: with ``keep_tombstones=False`` (default) a delete simply
    removes the row — so a later micro-batch carrying an OLDER change for
    a deleted key re-inserts it (the target kept no marker). In-order
    feeds never hit this. ``keep_tombstones=True`` stores delete winners
    as rows flagged ``is_deleted=true`` instead: any batch arrival order
    then converges to the batch MERGE over the full stream (readers
    filter ``NOT is_deleted``).

    Returns the started ``StreamingQuery``.
    """
    from pyspark.sql import Window

    spark = changes.sparkSession
    payload_cols = [c for c in changes.columns if c != op_col]
    bucket_expr = F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))

    def merge(batch: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()

        def _hpath(p: str):
            jp = jvm.org.apache.hadoop.fs.Path(p)
            return jp, jp.getFileSystem(hconf)

        # Marker distinguishing "first batch, no target yet" from "target
        # vanished after a prior commit" (e.g. a crash between dynamic
        # overwrite's delete and write). Without it, a missing target
        # would silently rebuild the table from this batch alone,
        # discarding all previously merged state. Written once after the
        # first successful merge; dynamic partition overwrite only
        # touches __kb=* directories, so the root-level marker survives.
        marker, marker_fs = _hpath(f"{path}/_patito_merge_initialized")

        # The batch's keys can only live in these buckets — a bounded
        # driver list (≤ n_buckets ints) that drives partition pruning
        # on the target read AND scopes the rewrite.
        touched = {
            r["__kb"]
            for r in batch.select(bucket_expr.alias("__kb"))
            .distinct()
            .collect()
        }
        if not touched:  # empty micro-batch: nothing to merge
            return
        try:
            target = spark.read.parquet(path).filter(
                F.col("__kb").isin(*touched)
            )
            have_target = True
        except AnalysisException:
            # Path missing / no footers yet. Legitimate ONLY before the
            # first successful merge — if the marker says we previously
            # committed state, the target has been lost and rebuilding
            # from this batch alone would silently discard it.
            if marker_fs.exists(marker):
                raise RuntimeError(
                    f"write_stream_merge target {path!r} is unreadable but "
                    "_patito_merge_initialized exists: previously merged "
                    "state has been lost (crash mid-overwrite or external "
                    "deletion). Refusing to rebuild from one micro-batch; "
                    "restore the target or remove the marker to re-seed."
                )
            have_target = False
        if have_target:
            # Target rows re-enter the merge as pseudo-changes with
            # source-priority 1: on a seq tie (a repeated (key, seq)) the
            # target (already-applied state) wins.
            # Tombstone rows re-enter as deletes, so their seq keeps
            # guarding against late lower-seq re-inserts.
            if keep_tombstones:
                pseudo = target.select(
                    *payload_cols,
                    F.when(F.col("is_deleted"), F.lit(delete_op))
                    .otherwise(F.lit("U"))
                    .alias(op_col),
                )
            else:
                pseudo = target.select(*payload_cols).withColumn(
                    op_col, F.lit("U")
                )
            pseudo = pseudo.withColumn("__src", F.lit(1))
            combined = pseudo.unionByName(
                batch.select(*payload_cols, op_col).withColumn(
                    "__src", F.lit(0)
                )
            )
        else:
            combined = batch.select(*payload_cols, op_col).withColumn(
                "__src", F.lit(0)
            )
        # Latest change per key: greatest (seq, source-priority) wins —
        # the same reduction apply_changes performs, inlined so delete
        # winners can be KEPT as tombstones instead of dropped.
        w = Window.partitionBy(*key_cols).orderBy(
            F.col(seq_col).desc(), F.col("__src").desc()
        )
        latest = (
            combined.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__src")
        )
        if keep_tombstones:
            merged = latest.withColumn(
                "is_deleted", F.col(op_col) == delete_op
            ).drop(op_col)
        else:
            merged = latest.filter(F.col(op_col) != delete_op).drop(op_col)
        merged = merged.withColumn("__kb", bucket_expr)
        # Materialize BEFORE overwrite: the plan reads the files the
        # overwrite is about to delete.
        merged = merged.localCheckpoint(eager=True)
        # Dynamic partition overwrite replaces exactly the __kb
        # directories present in `merged`; everything else is untouched.
        prev_mode = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy("__kb").parquet(path)
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev_mode
            )
        if not marker_fs.exists(marker):
            marker_fs.create(marker, True).close()
        # A touched bucket whose keys were ALL deleted produces no rows,
        # so dynamic overwrite never replaces its directory — drop the
        # stale partition explicitly (driver-side fs, bounded by
        # n_buckets).
        if have_target and not keep_tombstones:
            present = {
                r["__kb"] for r in merged.select("__kb").distinct().collect()
            }
            stale = touched - present
            for kb in stale:
                p, fs = _hpath(f"{path}/__kb={kb}")
                if fs.exists(p):
                    fs.delete(p, True)

    writer = changes.writeStream.foreachBatch(merge).option(
        "checkpointLocation", checkpoint
    )
    if query_name:
        writer = writer.queryName(query_name)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
