"""Split each entry's wall time into CONSTRUCTION (the entry function
call — where eager driver actions live) vs EXECUTION (the noop sink of
the returned plan). Entries whose construction phase is a large share
are candidates for guide §2.6 job overlap or action fusion.

Usage: python tools/probe_eager_phase.py entry[,entry...] [--runs 3]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("entries")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    import __spark_entry__ as em
    from patito_spark.functions.cache import release_caches
    from patito_spark.session import get_session

    spark = get_session("probe-eager")
    spark.sparkContext.setLogLevel("ERROR")

    queries = em.queries()
    names = [n for n in args.entries.split(",") if n in queries]
    for name in names:  # warm
        queries[name](spark, args.sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        release_caches()

    for name in names:
        best_c = best_e = float("inf")
        for _ in range(args.runs):
            t0 = time.perf_counter()
            df = queries[name](spark, args.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            best_c, best_e = min(best_c, t1 - t0), min(best_e, t2 - t1)
            release_caches()
        print(
            f"{name}: construct {best_c:.3f}s  execute {best_e:.3f}s",
            flush=True,
        )


if __name__ == "__main__":
    main()
