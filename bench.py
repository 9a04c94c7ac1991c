"""Benchmark: run every headline query at $SPARK_GRAFT_SF_DIR and print one
JSON line with per-query wall times and each query's layer split.

Materialization uses the noop sink (full JVM-side execution, no driver
collect), so timings measure the real plan, not Arrow/driver transfer.
``time_entries`` is the one timing loop; ``tools/scaling_audit.py`` and
``tools/ab_sf1.py`` call it too.
"""

from __future__ import annotations

import json
import os
import re
import time

import __spark_entry__ as entry_mod
from patito_spark.session import get_session
from perfbench.tracing import Engine


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


class _Layers:
    """Engine, Python-worker and JIT counters read around one run.

    Every read happens before a run's clock starts or after it stops, so
    the probes cost suite wall time but never an entry's time.
    """

    def __init__(self, spark) -> None:
        self.engine = Engine(spark)
        self._store = spark.sparkContext._jsc.sc().statusStore()
        jvm = spark.sparkContext._jvm
        # Total milliseconds the JIT threads spent compiling; a plain
        # MXBean read over py4j, so it runs no job.
        self._jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    def before(self) -> tuple:
        self.engine.new_stages()  # drop stages run since the last split
        return (
            self.engine.next_job(),
            self.engine.worker_cpu_s(),
            self._jit.getTotalCompilationTime(),
            time.time(),
        )

    def split(self, before: tuple, build_s: float) -> dict:
        """The run's layers, given ``before()``'s reading and its build time."""
        job0, worker0, jit0, wall0 = before
        jit_ms = self._jit.getTotalCompilationTime() - jit0
        worker_s = self.engine.worker_cpu_s() - worker0
        stages = self.engine.new_stages()  # waits for the listener bus
        job1 = self.engine.next_job()
        ran = [s for s in stages if s["status"] != "SKIPPED"]
        # A job is eager when the entry submitted it before returning its
        # frame; the status store keeps each job's submission time.
        built_ms = (wall0 + build_s) * 1e3
        build_jobs = sum(
            1 for job in range(job0, job1) if self._submitted_ms(job) < built_ms
        )

        def total(*keys) -> float:
            return sum(s[k] for s in ran for k in keys)

        return {
            "build_s": round(build_s, 3),
            "build_jobs": build_jobs,
            "jobs": job1 - job0,
            "stages": len(ran),
            "stages_skipped": len(stages) - len(ran),
            "tasks": total("tasks"),
            "executor_run_s": round(total("executorRunTime") / 1e3, 3),
            "executor_cpu_s": round(total("executorCpuTime") / 1e9, 3),
            "gc_s": round(total("jvmGcTime") / 1e3, 3),
            "shuffle_read_mb": round(total("shuffleReadBytes") / 1e6, 3),
            "shuffle_write_mb": round(total("shuffleWriteBytes") / 1e6, 3),
            "spill_mb": round(total("memoryBytesSpilled", "diskBytesSpilled") / 1e6, 3),
            "python_worker_cpu_s": round(worker_s, 3),
            "jit_ms": int(jit_ms),
        }

    def _submitted_ms(self, job: int) -> float:
        from py4j.protocol import Py4JJavaError

        try:
            sub = self._store.job(job).submissionTime()
        except Py4JJavaError:  # an id the scheduler allocated but never posted
            return float("inf")
        return sub.get().getTime() if sub.isDefined() else float("inf")


def time_entries(spark, queries: dict, sf_dir: str, runs: int, after_pass=None):
    """Warm every entry once, then time ``runs`` interleaved noop-sink passes.

    Returns ``(best, layers)``: each entry's best wall seconds, and per
    entry the layer split (``_Layers.split``) of the run that set that
    best, plus ``warm_build_s`` and ``warm_build_jobs`` from the warm
    pass. ``after_pass``, if given, is called after each timed pass.

    The warm pass fills the JVM, codegen cache and file index, and builds
    every session-lived artifact (the ``_ANN_INDEX_CACHE`` indexes, the
    tokenizer and ``.arpa`` models): its ``build_s`` and eager jobs
    include those builds. The timed passes then measure steady state,
    what a long-lived cluster session sees, and probe the prebuilt
    artifacts.

    Best-of-N runs over INTERLEAVED full passes (pass 1 runs every entry,
    then pass 2, ...): an entry's attempts are spread minutes apart, so a
    transient slow window (host throttling, GC storm) cannot poison all
    of them. Single-shot and back-to-back timings produced phantom
    regressions on untouched code in earlier rounds.

    Operator-internal intermediates (tracked persists) are released after
    every run: otherwise run N's persisted shingles or signatures satisfy
    run N+1's identical plan from cache, and the best time is a cache
    hit, not the operator. Each run releases only the persists made
    inside it (``cache_scope``). Session-lived artifacts live outside the
    tracked registry and survive, as do the file schemas
    ``read_inferred`` keeps: build once, query many is their steady
    state.
    """
    from patito_spark.functions.cache import cache_scope

    probe = _Layers(spark)

    def run(fn) -> tuple:
        before = probe.before()
        with cache_scope():
            start = time.perf_counter()
            df = fn(spark, sf_dir)
            built = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            seconds = time.perf_counter() - start
        split = probe.split(before, built - start)
        return seconds, split

    warm = {name: run(fn)[1] for name, fn in queries.items()}
    best = {name: float("inf") for name in queries}
    layers: dict = {}
    for _ in range(runs):
        for name, fn in queries.items():
            seconds, split = run(fn)
            if seconds < best[name]:
                best[name] = seconds
                layers[name] = {
                    **split,
                    "warm_build_s": warm[name]["build_s"],
                    "warm_build_jobs": warm[name]["build_jobs"],
                }
        if after_pass is not None:
            after_pass()
    return best, layers


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

    # Best-of-N (default 3) over warm, interleaved passes; see time_entries.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    queries = entry_mod.queries()
    # Comma-separated subset for development (profile one entry in the
    # exact harness context without paying the full suite).
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = set(only.split(","))
        queries = {k: v for k, v in queries.items() if k in keep}

    best, layers = time_entries(spark, queries, sf_dir, runs)
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
    # unchanged code). The race re-times the flagged entries best-of-N
    # (after one warm run) in this same JVM minutes after their suite
    # slots; a transient window clears, a real regression reproduces.
    # Disable with SPARK_GRAFT_RACE_FLAGGED=0.
    if regressions and os.environ.get("SPARK_GRAFT_RACE_FLAGGED", "1") != "0":
        race_runs = int(os.environ.get("SPARK_GRAFT_RACE_RUNS", "5"))
        race, _ = time_entries(
            spark, {name: queries[name] for name in regressions}, sf_dir, race_runs
        )
        for name, info in regressions.items():
            adj = info["drift_adjusted_floor"]
            info["race_best"] = round(race[name], 3)
            info["race_ratio"] = round(race[name] / adj, 2)
            if race[name] <= adj * 1.3 or race[name] - adj <= 0.2:
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
                "layers": layers,
            }
        )
    )


if __name__ == "__main__":
    main()
