"""Replay the round driver's correctness pass locally, one command.

Runs every ``__spark_entry__.queries()`` entry on local Spark AND its
``oracle_sql()`` statement on DuckDB over the same parquet, compares
row counts, column sets, and values (columns sorted by name, rows
sorted, stringified — the driver's hash-compare semantics), and prints
one line per entry plus a JSON summary.

Usage: python tools/verify_entries.py [--sf-dir /root/testdata/sf0.01]
       [--only name1,name2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as em
from patito_spark.functions.cache import release_caches
from patito_spark.session import get_session


def frame_diff(sdf, odf) -> dict:
    """Compare two pandas frames as the driver's hash does: columns
    sorted by name, rows sorted, values stringified."""
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        return {"ok": False, "err": f"schema {scols} != {ocols}"}
    sdf = sdf[scols].sort_values(scols).reset_index(drop=True)
    odf = odf[scols].sort_values(scols).reset_index(drop=True)
    if len(sdf) != len(odf):
        return {"ok": False, "err": f"rows {len(sdf)} != {len(odf)}"}
    mism = sum(
        int((sdf[c].astype(str).values != odf[c].astype(str).values).sum())
        for c in scols
    )
    return {"ok": mism == 0, "rows": len(sdf), "mismatched_values": mism}


def compare(spark, con, name: str, sf_dir: str) -> dict:
    t0 = time.time()
    try:
        sdf = em.queries()[name](spark, sf_dir).toPandas()
        odf = con.execute(em.oracle_sql()[name]).df()
        return {**frame_diff(sdf, odf), "sec": round(time.time() - t0, 2)}
    except Exception as exc:  # surface, don't abort the sweep
        return {"ok": False, "err": f"{type(exc).__name__}: {exc}"}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    a = ap.parse_args(argv)

    # Scale-dependent oracle fragments (LSH plane count, IVF cells, the
    # PCA fit literals) must derive from the SF being verified, not the
    # sf0.01 default — without this, every non-default --sf-dir run
    # reported spurious ann/embedding mismatches (the baseline_duckdb.py
    # contract, applied here in round 13).
    os.environ["PATITO_ORACLE_SF_DIR"] = a.sf_dir

    spark = get_session("verify-entries")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in em.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{a.sf_dir}/{t}.parquet')"
        )

    names = sorted(em.queries())
    if a.only:
        keep = set(a.only.split(","))
        names = [n for n in names if n in keep]
    results = {}
    for name in names:
        r = compare(spark, con, name, a.sf_dir)
        results[name] = r
        status = "OK " if r.get("ok") else "FAIL"
        detail = (
            f"rows={r.get('rows')} {r.get('sec')}s"
            if r.get("ok")
            else r.get("err", f"{r.get('mismatched_values')} mismatches")
        )
        print(f"{status} {name}: {detail}", flush=True)
        release_caches()

    n_ok = sum(1 for r in results.values() if r.get("ok"))
    print(json.dumps({"ok": n_ok, "total": len(results),
                      "sf_dir": a.sf_dir}))
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
