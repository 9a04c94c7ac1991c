"""Full-suite sf1 A/B per the BASELINE.md live-contract protocol.

Two full passes per engine in ONE process, interleaved
spark -> duck -> spark -> duck, per-entry min pooled. Prints one JSON
line with both sides and the ratio.

Usage: python tools/ab_sf1.py [--sf-dir /root/repo/.localdata/sf1]
       [--passes 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/repo/.localdata/sf1")
    ap.add_argument("--passes", type=int, default=2)
    a = ap.parse_args()

    import duckdb

    import __spark_entry__ as em
    from patito_spark.functions.cache import release_caches
    from patito_spark.session import get_session

    # The suite's session-lived ANN caches need bench.py's heap (see there).
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = get_session("ab-sf1")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    con.execute("SET threads TO 32")
    for t in em.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{a.sf_dir}/{t}.parquet')"
        )
    os.environ["PATITO_ORACLE_SF_DIR"] = a.sf_dir
    queries = em.queries()
    oracles = em.oracle_sql()

    def spark_pass(best):
        for name, fn in queries.items():
            t0 = time.perf_counter()
            fn(spark, a.sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            release_caches()
            best[name] = min(best.get(name, float("inf")), dt)

    def duck_pass(best):
        for name, sql in oracles.items():
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            dt = time.perf_counter() - t0
            best[name] = min(best.get(name, float("inf")), dt)

    sb: dict = {}
    db: dict = {}
    # warm both engines once (page cache, codegen, catalogs) — the
    # BASELINE methodology; warm timings still count toward the min.
    for p in range(a.passes):
        print(f"pass {p + 1}: spark", file=sys.stderr, flush=True)
        spark_pass(sb)
        print(f"pass {p + 1}: duck", file=sys.stderr, flush=True)
        duck_pass(db)

    st = round(sum(sb.values()), 3)
    dt_ = round(sum(db.values()), 3)
    print(
        json.dumps(
            {
                "spark_total": st,
                "duck_total": dt_,
                "ratio": round(st / dt_, 3),
                "spark": {k: round(v, 3) for k, v in sb.items()},
                "duck": {k: round(v, 4) for k, v in db.items()},
                "sf_dir": a.sf_dir,
                "passes": a.passes,
            }
        )
    )


if __name__ == "__main__":
    main()
