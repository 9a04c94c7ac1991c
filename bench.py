"""Benchmark: run every headline query at $SPARK_GRAFT_SF_DIR and print one
JSON line with per-query wall times.

Materialization uses the noop sink (full JVM-side execution, no driver
collect), so timings measure the real plan, not Arrow/driver transfer.
"""

from __future__ import annotations

import json
import os
import re
import time

import __spark_entry__ as entry_mod
from patito_spark.session import get_session


def load_floor(path: str) -> dict:
    """Read a floor file, failing loudly on a malformed one.

    ``queries`` must map entry names to positive seconds; ``sf`` and
    ``cpus``, when present, must be numbers (a missing one means no
    guard, see ``main``). The ValueError names the bad field.
    """
    with open(path) as fh:
        doc = json.load(fh)
    if not isinstance(doc, dict):
        raise ValueError(f"{path}: expected a JSON object, got {type(doc).__name__}")
    queries = doc.get("queries")
    if not isinstance(queries, dict):
        raise ValueError(f"{path}: 'queries' must map entry names to seconds")
    for name, floor in queries.items():
        if not _is_number(floor) or floor <= 0:
            raise ValueError(
                f"{path}: 'queries' entry {name!r} must be a positive number, "
                f"got {floor!r}"
            )
    for field in ("sf", "cpus"):
        if field in doc and not _is_number(doc[field]):
            raise ValueError(f"{path}: {field!r} must be a number, got {doc[field]!r}")
    return doc


def _is_number(value) -> bool:
    return isinstance(value, (int, float)) and not isinstance(value, bool)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    match = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(match.group(1).rstrip(".")) if match else None

    # 48g (not the library's 8g): the session-lived ANN index caches are a
    # feature (build-once/query-many is their steady state) but in a
    # single local JVM they share one heap with every later entry's sorts
    # and aggregation buffers. At 16g that contention inflated
    # dedup_minhash ~1.4x and tripped the ann_topk floor guard (round-10
    # verdict #1); on a real cluster the index lives on the executors
    # that built it, not inside the driver heap competing with unrelated
    # stages. The 128 GiB sandbox affords 48g.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = get_session("patito_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM, codegen cache, and file-index for every query, then
    # measure steady state (what a long-lived cluster session would see).
    # Each query is timed best-of-N (default 3): single-shot timings at
    # sub-second scale are dominated by scheduler jitter and produced
    # phantom regressions on untouched code in earlier rounds.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    queries = entry_mod.queries()
    # Comma-separated subset for development (profile one entry in the
    # exact harness context without paying the full suite).
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = set(only.split(","))
        queries = {k: v for k, v in queries.items() if k in keep}

    # Session-lived _ANN_INDEX_CACHE artifacts are built in this warm
    # pass and PROBED by the timed passes; their one-time build costs
    # are published in BASELINE.md's "Session-lived artifact exemption
    # table" (tools/artifact_build_costs.py) — read vs-oracle ratios
    # for the artifact-backed entries together with that table.
    #
    # Operator-internal intermediates (tracked persists) are released
    # after every run: without this, run N's persisted shingles/signatures
    # satisfy run N+1's structurally identical plan from cache, and the
    # "best of N" times a cache hit instead of the operator (this
    # manufactured the round-5 dedup_minhash floor). Session-lived index
    # artifacts (_ANN_INDEX_CACHE) are owned by the entries, live outside
    # the tracked registry, and deliberately survive — build-once /
    # query-many IS their steady state.
    from patito_spark.functions.cache import release_caches

    for fn in queries.values():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_caches()

    # Best-of-N over INTERLEAVED full passes (pass 1 runs every query,
    # then pass 2, ...): a query's N attempts are spread minutes apart,
    # so a transient slow window (host throttling, GC storm) cannot
    # poison all attempts of any one query — consecutive per-query
    # attempts did exactly that and produced phantom regressions on
    # untouched code.
    best: dict[str, float] = {name: float("inf") for name in queries}
    for _ in range(runs):
        for name, fn in queries.items():
            start = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best[name] = min(best[name], time.perf_counter() - start)
            release_caches()
    timings = {name: round(t, 3) for name, t in best.items()}

    total = round(sum(timings.values()), 3)

    # Per-query regression flags vs the committed floor (best time ever
    # committed at this SF), DRIFT-NORMALIZED: this container's host has
    # external load the in-container loadavg doesn't see, and whole-run
    # throughput swings ~1.5× between sessions (docs/perf.md, round 6).
    # An absolute 1.3× threshold therefore flags half the suite on a
    # slow-host day. The run's MEDIAN ratio-to-floor estimates the
    # machine drift; a regression is an entry > 1.3× the drift-adjusted
    # floor AND > 0.2 s absolute — a code regression moves one entry
    # against the pack, host weather moves the whole pack together.
    # Update floors with `python tools/update_bench_floor.py <run.json>`
    # after a good run.
    regressions: dict[str, dict[str, float]] = {}
    drift = 1.0
    floor_path = os.path.join(os.path.dirname(__file__), "BENCH_FLOOR.json")
    if os.path.exists(floor_path):
        floor_doc = load_floor(floor_path)
        # Floors are per (scale factor, core count): comparing an sf1 run
        # against sf0.1 floors flags every data-proportional entry, and an
        # 8-core floor is unreachable at 32 cores for the suite's
        # anti-scaling entries (several entries run ~0.7x at 8 cores at
        # this SF because per-task/stage setup scales with core count) —
        # round-15 min-merged an 8-core run into the floor file and the
        # driver's 32-core bench then flagged round-over-round-flat
        # entries as "reproduced" regressions. No floors committed at
        # this (sf, cpus) -> no guard. A floor file with no 'cpus'
        # field is of unknown core-count provenance — treated like an
        # SF mismatch (no guard), never applied.
        floors = (
            floor_doc.get("queries", {})
            if floor_doc.get("sf") == sf
            and floor_doc.get("cpus") == int(cpus)
            else {}
        )
        ratios = sorted(
            timings[n] / f for n, f in floors.items() if f and n in timings
        )
        # The median only estimates MACHINE drift when taken over enough
        # entries that one real code regression can't move it; subset
        # (SPARK_GRAFT_BENCH_ONLY) runs fall back to the absolute guard.
        if len(ratios) >= 10:
            drift = max(1.0, ratios[len(ratios) // 2])
        for name, t in timings.items():
            floor = floors.get(name)
            adj = floor * drift if floor else None
            if floor and t > adj * 1.3 and t - adj > 0.2:
                regressions[name] = {
                    "t": t,
                    "floor": floor,
                    "drift_adjusted_floor": round(adj, 3),
                    "ratio": round(t / adj, 2),
                }

    # Round-15 committed protocol: every floor breach gets an automatic
    # same-process race before the numbers are reported — the one
    # instrument that has settled every perf dispute for three rounds
    # running (suite-context single-window numbers swing up to ~1.9x on
    # unchanged code). The race re-times the flagged entry best-of-N in
    # this same JVM minutes after its suite slot; a transient window
    # clears, a real regression reproduces. Disable with
    # SPARK_GRAFT_RACE_FLAGGED=0.
    if regressions and os.environ.get("SPARK_GRAFT_RACE_FLAGGED", "1") != "0":
        race_runs = int(os.environ.get("SPARK_GRAFT_RACE_RUNS", "5"))
        for name, info in list(regressions.items()):
            fn = queries[name]
            race_best = float("inf")
            for _ in range(race_runs):
                start = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                race_best = min(race_best, time.perf_counter() - start)
                release_caches()
            adj = info["drift_adjusted_floor"]
            info["race_best"] = round(race_best, 3)
            info["race_ratio"] = round(race_best / adj, 2)
            if race_best <= adj * 1.3 or race_best - adj <= 0.2:
                info["verdict"] = "cleared-by-race"
            else:
                info["verdict"] = "reproduced"
        # The race verdict is reported alongside the raw suite timings;
        # the suite timing itself is never rewritten (a substitution
        # could only LOWER flagged entries — a one-sided estimator,
        # round-15 verdict item 2).

    print(
        json.dumps(
            {
                "metric": "total_query_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": int(cpus),
                "host_drift": round(drift, 3),
                "regressions": regressions,
            }
        )
    )


if __name__ == "__main__":
    main()
