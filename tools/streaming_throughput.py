"""Throughput numbers for the streaming operators (verdict r6/r8 item).

Measures, on local[cpus] with a file source replayed availableNow:

1. ``streaming_dedup_lsh`` — rows/s end-to-end over 100k synthetic docs
   (1000 duplicate cohorts x 100), at the default 64-hash/16-band config
   and the light 16/4 config, with and without a state TTL; reports the
   state-store row count (one representative per occupied (band, bucket)
   — the O(buckets) bound) from the query's final progress.
2. ``write_stream_merge`` — CDC changes/s merged onto a bucketed parquet
   target across multi-file micro-batches.

availableNow drains the whole source as fast as the plan allows, so
wall-clock / input rows is a genuine sustained-throughput figure for
this host; absolute numbers move with host weather (docs/perf.md
records the run context).

Usage: python tools/streaming_throughput.py [--docs 100000] [--changes 500000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from patito_spark.session import get_session


def state_rows(query) -> int:
    prog = query.lastProgress
    if not prog:
        return -1
    ops = prog.get("stateOperators") or []
    return sum(op.get("numRowsTotal", 0) for op in ops)


def run_dedup(spark, src, n_docs, num_hashes, bands, ttl_ms, name):
    from patito_spark.streaming.dedup import streaming_dedup_lsh

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    flagged = streaming_dedup_lsh(
        stream, num_hashes=num_hashes, bands=bands, state_ttl_ms=ttl_ms
    )
    t0 = time.perf_counter()
    q = (
        flagged.select("doc_id")
        .writeStream.format("noop")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .outputMode("append")
        .trigger(availableNow=True)
        .queryName(name)
        .start()
    )
    if ttl_ms is None:
        q.awaitTermination(600)
        wall = time.perf_counter() - t0
    else:
        # A TTL registers processing-time timeouts, and a query with
        # pending timeouts never self-terminates under availableNow
        # (see streaming_dedup_lsh's warning) — drain by input-rows
        # progress, stop explicitly, and time the drain only.
        deadline = time.time() + 600
        while time.time() < deadline:
            done = sum(p["numInputRows"] for p in q.recentProgress)
            if done >= n_docs:
                break
            time.sleep(0.5)
        wall = time.perf_counter() - t0
        st = state_rows(q)
        q.stop()
        q.awaitTermination(30)
        return {
            "config": f"hashes={num_hashes} bands={bands} ttl_ms={ttl_ms}",
            "docs": n_docs,
            "wall_s": round(wall, 2),
            "docs_per_s": int(n_docs / wall),
            "state_rows": st,
        }
    return {
        "config": f"hashes={num_hashes} bands={bands} ttl_ms={ttl_ms}",
        "docs": n_docs,
        "wall_s": round(wall, 2),
        "docs_per_s": int(n_docs / wall),
        "state_rows": state_rows(q),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--changes", type=int, default=500_000)
    ap.add_argument("--keys", type=int, default=50_000)
    ap.add_argument("--events", type=int, default=1_000_000)
    args = ap.parse_args()

    spark = get_session("streaming-throughput")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="stream_tp_")
    out = {}

    # --- streaming_dedup_lsh ------------------------------------------ #
    src = f"{work}/docs"
    spark.range(args.docs).selectExpr(
        "id as doc_id",
        "array_join(transform(sequence(1, 12), "
        "i -> concat('w', id % 1000, 'x', i)), ' ') as text",
    ).write.parquet(src)
    out["dedup_lsh"] = [
        run_dedup(spark, src, args.docs, 64, 16, None, "tp_d64"),
        run_dedup(spark, src, args.docs, 64, 16, 3_600_000, "tp_d64t"),
        run_dedup(spark, src, args.docs, 16, 4, None, "tp_d16"),
    ]

    # --- write_stream_merge ------------------------------------------- #
    from patito_spark.streaming import write_stream_merge

    cdc_src = f"{work}/cdc"
    n_files = 10
    per_file = args.changes // n_files
    for i in range(n_files):
        spark.range(per_file).selectExpr(
            f"xxhash64(id + {i * per_file}) % {args.keys} as user_id",
            f"id + {i * per_file} as ts",
            "cast(id % 1000 as double) / 10 as value",
            f"case when (id + {i}) % 20 = 0 then 'D' else 'U' end as op",
        ).coalesce(1).write.mode("append").parquet(cdc_src)

    target = f"{work}/target"
    t0 = time.perf_counter()
    q = write_stream_merge(
        spark.readStream.schema(
            "user_id long, ts long, value double, op string"
        )
        .option("maxFilesPerTrigger", "2")
        .parquet(cdc_src),
        path=target,
        checkpoint=f"{work}/ckpt_merge",
        key_cols=["user_id"],
        seq_col="ts",
        trigger_available_now=True,
    )
    q.awaitTermination(600)
    wall = time.perf_counter() - t0
    final_rows = spark.read.parquet(target).count()
    out["stream_merge"] = {
        "changes": args.changes,
        "batches": n_files // 2,
        "distinct_keys": args.keys,
        "wall_s": round(wall, 2),
        "changes_per_s": int(args.changes / wall),
        "target_rows": final_rows,
    }

    # --- sessionization: native session_window vs Python state -------- #
    from patito_spark.streaming import (
        session_window_aggregate,
        sessionize_stream,
    )

    n_ev = args.events
    ev_src = f"{work}/events"
    # 10k users, ~n/10k events each, gaps 1-120 s (session gap 60 s)
    spark.range(n_ev).selectExpr(
        "id % 10000 as user_id",
        "timestamp_seconds(1000000 + cast(id / 10000 as long) * "
        "(1 + pmod(xxhash64(id), 120))) as ts",
    ).write.parquet(ev_src)
    stream = lambda: spark.readStream.schema(
        "user_id long, ts timestamp"
    ).parquet(ev_src)

    t0 = time.perf_counter()
    q = (
        session_window_aggregate(
            stream(), "user_id", "ts", "60 seconds", watermark="0 seconds"
        )
        .writeStream.format("noop")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    native_wall = time.perf_counter() - t0

    # The custom-state path registers processing-time timeouts, so it
    # never self-terminates under availableNow — drain by progress.
    t0 = time.perf_counter()
    q = (
        sessionize_stream(stream(), gap="60 seconds", watermark="1 hour")
        .writeStream.format("noop")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + 600
    while time.time() < deadline:
        if sum(p["numInputRows"] for p in q.recentProgress) >= n_ev:
            break
        time.sleep(0.5)
    custom_wall = time.perf_counter() - t0
    q.stop()
    q.awaitTermination(30)
    out["sessionize"] = {
        "events": n_ev,
        "native_session_window": {
            "wall_s": round(native_wall, 2),
            "events_per_s": int(n_ev / native_wall),
        },
        "custom_applyInPandasWithState": {
            "wall_s": round(custom_wall, 2),
            "events_per_s": int(n_ev / custom_wall),
        },
    }

    print(json.dumps(out, indent=2))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
