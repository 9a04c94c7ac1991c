"""Race salted_join / salted_aggregate against their unsalted plans on a
generated hot-key dataset (verdict r6/r8 item: measured skew numbers).

Dataset: a fact table of ``--rows`` rows where ``--hot-frac`` of all rows
share ONE join/group key (the classic power-law head) and the rest are
uniform over ``--n-keys``; a dim table of one row per key, sized past the
10 MB auto-broadcast bound so the join actually shuffles (a broadcastable
dim has no skew problem — Spark never shuffles the fact).

Three contenders per operation, interleaved in one session (host-noise
immune):
  join:  AQE skew-join ON | AQE skew split OFF | salted_join(hot_keys)
  agg:   direct groupBy    | salted_aggregate
Executed with best-of-N and a noop sink.

Context for reading the results (also in docs/perf.md):
  - groupBy sum/count with map-side combine collapses a hot key to one
    partial row per map task BEFORE the shuffle — salting can only win
    when partial aggregation is ineffective (e.g. collect_list /
    exact-distinct states). The agg race documents that honestly.
  - AQE's skew-join split is automatic salting for sort-merge joins; the
    salted_join operator is the explicit fallback for plans AQE cannot
    rewrite (broadcast-ineligible streaming joins, pre-AQE clusters) and
    for deterministic replication counts.

Usage: python tools/skew_bench.py [--rows 5000000] [--runs 3]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from patito_spark.session import get_session


def timeit(fn, runs):
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=5_000_000)
    ap.add_argument("--n-keys", type=int, default=2_000_000)
    ap.add_argument("--hot-frac", type=float, default=0.5)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    spark = get_session("skew-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from patito_spark.operators.skew import salted_aggregate, salted_join

    hot_cut = int(args.rows * args.hot_frac)
    # Deterministic skew: first hot_frac of ids collapse to key 0.
    fact = (
        spark.range(args.rows)
        .select(
            F.when(F.col("id") < hot_cut, F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(args.n_keys)))
            .alias("key"),
            (F.col("id") % 97).cast("double").alias("value"),
        )
        .persist()
    )
    # Dim: one row per key, padded payload so estimated size clears the
    # 10 MB autoBroadcastJoinThreshold and the join really shuffles.
    dim = (
        spark.range(args.n_keys)
        .select(
            F.col("id").alias("key"),
            F.concat(F.lit("x" * 64), F.col("id")).alias("payload"),
        )
        .persist()
    )
    fact.count(), dim.count()

    results: dict[str, float] = {}

    def joined(l, r):
        return l.join(r, "key").select(
            F.sum(F.length("payload")).alias("s")
        )

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    results["join_aqe_skew_on"] = timeit(
        lambda: noop(joined(fact, dim)), args.runs
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    results["join_aqe_skew_off"] = timeit(
        lambda: noop(joined(fact, dim)), args.runs
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    results["join_salted"] = timeit(
        lambda: noop(
            salted_join(fact, dim, on=["key"], hot_keys=[0])
            .select(F.sum(F.length("payload")).alias("s"))
        ),
        args.runs,
    )

    results["agg_direct"] = timeit(
        lambda: noop(
            fact.groupBy("key").agg(
                F.sum("value").alias("s"), F.count("*").alias("n")
            )
        ),
        args.runs,
    )
    results["agg_salted"] = timeit(
        lambda: noop(
            salted_aggregate(
                fact,
                keys=["key"],
                aggs={"s": ("value", "sum"), "n": ("value", "count")},
            )
        ),
        args.runs,
    )

    # Sanity: identical results on the salted paths.
    direct = fact.groupBy("key").agg(F.sum("value").alias("s")).count()
    salted = salted_aggregate(
        fact, keys=["key"], aggs={"s": ("value", "sum")}
    ).count()
    assert direct == salted, (direct, salted)

    print(
        f"\nrows={args.rows} n_keys={args.n_keys} "
        f"hot_frac={args.hot_frac} runs={args.runs}"
    )
    for k, v in results.items():
        print(f"  {k}: {v:.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
