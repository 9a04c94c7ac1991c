"""Per-stage A/B profile of dedup_embedding_lsh at two scale factors.

Times each stage (bucket assignment, per-bucket pairwise verify) and
counts the bucket-size distribution for FIXED plane counts vs the
auto-sized default, at sf0.1 and sf1 in ONE process (interleaved race,
immune to host weather). Instrument for the round-7 verdict item:
explain and flatten the 3.7x/decade marginal of dedup_embedding_lsh.

The hypothesis it tests: with 2^planes buckets FIXED, per-bucket
pairwise work is sum(b^2) ~ n^2 / 2^planes — quadratic in corpus size —
while auto_n_planes holds expected bucket size (and verify cost per
vector) constant.

Usage: python tools/profile_embedding_lsh.py [--runs 3]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from patito_spark.session import get_session

SF_SMALL = "/root/testdata/sf0.1"
SF_BIG = "/root/repo/.localdata/sf1"


def timeit(fn, runs):
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def profile(spark, sf_dir, runs):
    from patito_spark.operators.dedup import embedding_dedup_pairs_lsh
    from patito_spark.operators.similarity import (
        _deterministic_hyperplanes,
        auto_n_planes,
    )
    from patito_spark.functions.vector_numpy import sign_projection_buckets

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    out = {"vectors": n, "auto_planes": auto_n_planes(n)}

    for label, planes_n in (("fixed4", 4), ("auto", auto_n_planes(n))):
        planes = _deterministic_hyperplanes(64, planes_n, 42)
        pruned = emb.select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        bucketed = sign_projection_buckets(pruned, planes, vec_col="vec")
        out[f"t_bucket_{label}"] = timeit(lambda: noop(bucketed), runs)
        sizes = bucketed.groupBy("bucket").count()
        stats = sizes.agg(
            F.count("*").alias("n_buckets"),
            F.max("count").alias("max_b"),
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pair_work"),
        ).first()
        out[f"buckets_{label}"] = (
            f"n={stats['n_buckets']} max={stats['max_b']} "
            f"pair_work={int(stats['pair_work'] or 0)}"
        )
        pairs = embedding_dedup_pairs_lsh(
            emb, threshold=0.35, n_planes=planes_n
        )
        out[f"t_pairs_{label}"] = timeit(lambda: noop(pairs), runs)
        out[f"pairs_{label}"] = pairs.count()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    spark = get_session("profile-embedding-lsh")
    spark.sparkContext.setLogLevel("ERROR")
    for sf_dir in (SF_SMALL, SF_BIG):
        if not os.path.isdir(sf_dir):
            print(f"=== {sf_dir} MISSING (run tools/gen_sf_scale.py) ===")
            continue
        print(f"\n=== {sf_dir} ===")
        for k, v in profile(spark, sf_dir, args.runs).items():
            if isinstance(v, float):
                print(f"  {k}: {v:.3f}")
            else:
                print(f"  {k}: {v}")
    spark.stop()


if __name__ == "__main__":
    main()
