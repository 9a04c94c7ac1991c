"""Per-entry job/stage/task counts + wall time: find latency-bound entries.

Each Spark action costs fixed scheduling latency regardless of data size;
entries that run many serial jobs (count gates, .first() ladders, streaming
micro-batches, iterative loops) are constant-dominated at bench scale. This
profiler runs the bench protocol (warm pass, then best-of-N) but also
records how many jobs/stages/tasks each entry launched on its timed run.

Usage: python tools/profile_jobs_r15.py [entry,entry,...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from patito_spark.functions.cache import release_caches
from patito_spark.session import get_session


def main() -> None:
    only = set(sys.argv[1].split(",")) if len(sys.argv) > 1 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("patito_spark-job-profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker

    queries = entry_mod.queries()
    if only:
        queries = {k: v for k, v in queries.items() if k in only}

    # warm pass
    for name, fn in queries.items():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_caches()

    rows = []
    for name, fn in queries.items():
        ids_before = set(tracker().getJobIdsForGroup(None) or [])
        # job ids are global-monotonic; snapshot the counter (py4j
        # returns the AtomicInteger as a plain int)
        all_before = int(sc._jsc.sc().dagScheduler().nextJobId())
        start = time.perf_counter()
        df = fn(spark, sf_dir)
        t_build = time.perf_counter() - start
        df.write.format("noop").mode("overwrite").save()
        t_total = time.perf_counter() - start
        all_after = sc._jsc.sc().dagScheduler().nextJobId()
        release_caches()
        rows.append(
            {
                "entry": name,
                "sec": round(t_total, 3),
                "build_sec": round(t_build, 3),
                "jobs": all_after - all_before,
            }
        )
        _ = ids_before
    rows.sort(key=lambda r: -r["sec"])
    for r in rows:
        print(json.dumps(r))
    spark.stop()


if __name__ == "__main__":
    main()
