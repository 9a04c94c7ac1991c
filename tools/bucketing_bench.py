"""Regenerate docs/bucketing.md: shuffle-free co-located join vs plain join.

Writes orders and lineitem bucketed by the join key (sf0.1), then times
the orderkey join both ways and counts Exchange operators in each plan.
The bucketed layout trades a one-time partitioned write for join-time
shuffle elimination — the pre-partitioning strategy a 100 TB fact-fact
join needs (at that scale the shuffle IS the cost).

Run from the repo root: ``python tools/bucketing_bench.py``
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from patito_spark.sources.readers import write_bucketed

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BUCKETS = 32


def timed(df, runs=3):
    df.write.format("noop").mode("overwrite").save()  # warm
    best = float("inf")
    for _ in range(runs):
        start = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - start)
    return best


def main() -> None:
    import tempfile as _tf

    from pyspark.sql import SparkSession

    from patito_spark.session import get_session

    # warehouse.dir is a static conf — set it before session creation.
    wh = _tf.mkdtemp(prefix="pt_bucket_wh_")
    SparkSession.builder.config("spark.sql.warehouse.dir", wh)
    spark = get_session("bucketing-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # The plain join shuffles into as many partitions as there are buckets.
    spark.conf.set("spark.sql.shuffle.partitions", str(BUCKETS))
    # Disable broadcast so the plain join actually shuffles (at real scale
    # neither fact side fits in a broadcast).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")

    if True:
        write_bucketed(
            orders, "b_orders", bucket_by=["o_orderkey"], num_buckets=BUCKETS
        )
        write_bucketed(
            lineitem,
            "b_lineitem",
            bucket_by=["l_orderkey"],
            num_buckets=BUCKETS,
        )
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")

        plain = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).select("l_orderkey", "l_extendedprice", "o_totalprice")
        bucketed = bl.join(bo, bl.l_orderkey == bo.o_orderkey).select(
            "l_orderkey", "l_extendedprice", "o_totalprice"
        )

        def exchanges(df):
            return (
                df._jdf.queryExecution()
                .executedPlan()
                .toString()
                .count("Exchange hashpartitioning")
            )

        t_plain, x_plain = timed(plain), exchanges(plain)
        t_bucket, x_bucket = timed(bucketed), exchanges(bucketed)

        # Headline-query shape (TPC-H Q3) over the same layouts: the
        # orders⋈lineitem leg joins bucket-locally AND the groupBy on
        # l_orderkey reuses the bucket partitioning — two exchanges gone.
        # The customer dim joins by broadcast in both layouts (realistic:
        # dims broadcast at any scale, facts don't).
        from pyspark.sql import functions as F

        customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")

        def q3_shape(o, l):
            c = customer.filter(F.col("c_mktsegment") == "BUILDING")
            of = o.filter(
                F.col("o_orderdate")
                < F.expr("timestamp '1998-01-01 00:00:00'")
            )
            lf = l.filter(
                F.col("l_shipdate")
                > F.expr("timestamp '1998-01-01 00:00:00'")
            )
            j = lf.join(of, lf.l_orderkey == of.o_orderkey).join(
                F.broadcast(c), of.o_custkey == c.c_custkey
            )
            return (
                j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
                .agg(
                    F.sum(
                        lf.l_extendedprice * (1 - lf.l_discount)
                    ).alias("revenue")
                )
                .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
                .limit(10)
            )

        q3_plain = q3_shape(orders, lineitem)
        q3_bucket = q3_shape(bo, bl)
        tq3_plain, xq3_plain = timed(q3_plain), exchanges(q3_plain)
        tq3_bucket, xq3_bucket = timed(q3_bucket), exchanges(q3_bucket)

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "bucketing.md",
    )
    with open(out, "w") as fh:
        fh.write(
            "# Bucketed co-located join — measured\n\n"
            "Generated by `tools/bucketing_bench.py` (sf0.1, broadcast\n"
            "disabled so the plain join shuffles like a fact-fact join\n"
            f"would at scale; {BUCKETS} buckets, warm best-of-3).\n\n"
            "| layout | join exchanges | sec |\n"
            "| --- | --- | --- |\n"
            f"| plain parquet | {x_plain} | {t_plain:.2f} |\n"
            f"| bucketed by key | {x_bucket} | {t_bucket:.2f} |\n\n"
            "The bucketed layout removes every hash-partitioning exchange\n"
            "from the join: both sides scan pre-partitioned buckets and\n"
            "join partition-locally. At 100 TB the eliminated shuffle is\n"
            "the dominant cost of a fact-fact join; the trade is a\n"
            "one-time bucketed write plus fixed bucket count.\n\n"
            "## Headline query shape (TPC-H Q3) on the same layouts\n\n"
            "| layout | exchanges | sec |\n"
            "| --- | --- | --- |\n"
            f"| plain parquet | {xq3_plain} | {tq3_plain:.2f} |\n"
            f"| bucketed orders+lineitem | {xq3_bucket} | {tq3_bucket:.2f} |\n\n"
            "Bucketing serves the full query, not just the bare join: the\n"
            "orders⋈lineitem leg joins bucket-locally, the groupBy on\n"
            "l_orderkey reuses the same partitioning (no pre-agg exchange),\n"
            "and the customer dim broadcasts in both layouts. The remaining\n"
            "exchange is the final top-10 ordering's singlePartition\n"
            "gather, which moves 10 rows.\n"
        )
    print(
        f"join   plain: {t_plain:.2f}s ({x_plain} ex) | "
        f"bucketed: {t_bucket:.2f}s ({x_bucket} ex)\n"
        f"q3     plain: {tq3_plain:.2f}s ({xq3_plain} ex) | "
        f"bucketed: {tq3_bucket:.2f}s ({xq3_bucket} ex) -> wrote {out}"
    )


if __name__ == "__main__":
    main()
