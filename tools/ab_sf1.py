"""Full-suite sf1 A/B per the BASELINE.md live-contract protocol.

Spark is timed by bench.py's ``time_entries`` (one warm pass, then
``--passes`` timed passes); a DuckDB pass runs after each timed Spark
pass in the same process, so the two engines interleave
spark -> duck -> spark -> duck, per-entry min pooled. Prints one JSON
line with both sides, the ratio and Spark's per-entry layers.

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
    from bench import time_entries
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

    db: dict = {}

    def duck_pass():
        for name, sql in oracles.items():
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            db[name] = min(db.get(name, float("inf")), time.perf_counter() - t0)

    sb, layers = time_entries(spark, queries, a.sf_dir, a.passes, after_pass=duck_pass)

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
                "layers": layers,
            }
        )
    )


if __name__ == "__main__":
    main()
