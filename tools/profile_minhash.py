"""Profile dedup_minhash stages at sf0.1 to locate the floor regression.

Times each stage of minhash_dedup_pairs (shingle, LSH candidates, verify)
separately, plus the whole entry, best-of-3 warm, noop sink like bench.py.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from patito_spark.session import get_session


def timeit(label, fn, runs=3):
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    print(f"{label}: {best:.3f}s")
    return best


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("profile-minhash")
    spark.sparkContext.setLogLevel("ERROR")

    from patito_spark.functions.cache import release_caches
    from patito_spark.operators.dedup import (
        minhash_dedup_pairs,
        minhash_lsh_candidates,
        shingle_hash_rows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    print("docs:", docs.count())

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # warm
    noop(entry_mod.dedup_minhash(spark, sf_dir))
    release_caches()

    # full entry (as bench measures)
    def full():
        noop(entry_mod.dedup_minhash(spark, sf_dir))

    timeit("full entry (portable, caches accumulate)", full)
    release_caches()

    def full_release():
        noop(entry_mod.dedup_minhash(spark, sf_dir))
        release_caches()

    timeit("full entry (release each run)", full_release)

    # stage: shingle only
    def shingle_only():
        noop(shingle_hash_rows(docs, n=3, hash_mode="portable"))

    timeit("shingle_hash_rows portable", shingle_only)

    def shingle_fast():
        noop(shingle_hash_rows(docs, n=3, hash_mode="xxhash64"))

    timeit("shingle_hash_rows xxhash64", shingle_fast)

    # stage: candidates (materialized shingles)
    from patito_spark.functions.cache import tracked_persist

    def cands():
        sr = tracked_persist(shingle_hash_rows(docs, n=3, hash_mode="portable"))
        noop(
            minhash_lsh_candidates(
                docs, shingle_rows=sr, num_hashes=64, bands=16,
                hash_mode="portable",
            )
        )
        release_caches()

    timeit("shingle+candidates", cands)

    # xxhash64-mode full pipeline for comparison
    def full_xx():
        noop(
            minhash_dedup_pairs(
                docs, threshold=0.6, num_hashes=64, bands=16,
                hash_mode="xxhash64",
            )
        )
        release_caches()

    timeit("full pipeline xxhash64", full_xx)

    spark.stop()


if __name__ == "__main__":
    main()
