"""Per-stage A/B profile of dedup_minhash at two scale factors.

Times and counts each stage (shingle rows, bin-min signature aggregate,
band buckets, candidate pairs, Jaccard verify) at sf0.1 and sf1 in ONE
process, so the comparison is an interleaved race immune to host
weather. This is the instrument for the round-6 verdict's top item:
explain the 2.9x/decade marginal of the dedup_minhash entry.

Usage: python tools/profile_minhash_stages.py [--runs 2]
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


def profile(spark, sf_dir, runs, hash_mode="portable"):
    from patito_spark.functions.cache import release_caches, tracked_persist
    from patito_spark.operators.dedup import (
        banded_signatures,
        jaccard,
        minhash_lsh_candidates,
        shingle_hash_rows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = {"docs": docs.count()}

    sr = shingle_hash_rows(docs, n=3, hash_mode=hash_mode)
    out["shingle_rows"] = sr.count()
    out["t_shingle"] = timeit(lambda: noop(sr), runs)

    num_hashes, bands = 64, 16
    for densify in (False, True):
        tag = "dense" if densify else "sparse"
        banded = banded_signatures(
            sr, num_hashes=num_hashes, bands=bands, densify=densify
        )
        out[f"t_banded_{tag}"] = timeit(lambda: noop(banded), runs)
        bsz = banded.groupBy("band", "bucket").count()
        stats = bsz.agg(
            F.count("*").alias("n_buckets"),
            F.sum(F.when(F.col("count") > 1, 1)).alias("multi_buckets"),
            F.max("count").alias("max_bucket"),
            F.sum(
                F.when(
                    F.col("count") > 1,
                    F.col("count") * (F.col("count") - 1) / 2,
                )
            ).alias("raw_pair_work"),
        ).first()
        out[f"buckets_{tag}"] = (
            f"n={stats['n_buckets']} multi={stats['multi_buckets']} "
            f"max={stats['max_bucket']} pair_work={int(stats['raw_pair_work'] or 0)}"
        )

    for densify in (False, True):
        tag = "dense" if densify else "sparse"
        cands = minhash_lsh_candidates(
            docs, shingle_rows=sr, num_hashes=num_hashes, bands=bands,
            hash_mode=hash_mode, densify=densify,
        )
        out[f"candidates_{tag}"] = cands.count()
        release_caches()

    # full pipeline: entry-shape (threshold 0.6, portable)
    srp = tracked_persist(
        shingle_hash_rows(docs, n=3, hash_mode=hash_mode)
    )
    cand2 = minhash_lsh_candidates(
        docs, shingle_rows=srp, num_hashes=num_hashes, bands=bands,
        hash_mode=hash_mode,
    )
    toks = srp.groupBy(F.col("__id").alias("__jid")).agg(
        F.sort_array(F.collect_list("__h")).alias("__jtokens")
    )
    verified = (
        cand2.join(
            toks.withColumnsRenamed({"__jid": "id_a", "__jtokens": "tokens_a"}),
            on="id_a",
        )
        .join(
            toks.withColumnsRenamed({"__jid": "id_b", "__jtokens": "tokens_b"}),
            on="id_b",
        )
        .withColumn("jaccard", jaccard(F.col("tokens_a"), F.col("tokens_b")))
        .filter(F.col("jaccard") >= 0.6)
        .select("id_a", "id_b", "jaccard")
    )

    def full():
        noop(verified)
        release_caches()

    out["t_full"] = timeit(full, runs)
    out["verified"] = verified.count()
    release_caches()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    a = ap.parse_args()

    spark = get_session("profile-minhash-stages")
    spark.sparkContext.setLogLevel("ERROR")

    for sf_dir in (SF_SMALL, SF_BIG):
        if not os.path.exists(f"{sf_dir}/documents.parquet"):
            print(f"skip {sf_dir} (missing)")
            continue
        r = profile(spark, sf_dir, a.runs)
        print(f"\n=== {sf_dir} ===")
        for k, v in r.items():
            print(f"  {k}: {v:.3f}" if isinstance(v, float) else f"  {k}: {v}")

    spark.stop()


if __name__ == "__main__":
    main()
