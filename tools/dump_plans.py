"""Regenerate docs/plans.md: formatted physical plans of headline queries.

Run from the repo root: ``python tools/dump_plans.py``

With ``--round rNN [--suffix before|after] [--only a,b]`` it instead
captures ``.explain("formatted")`` of every declared query at
$SPARK_GRAFT_SF_DIR (default sf0.1, the bench scale) into
``plans/rNN/<query>_<suffix>.txt``. Plans are captured WITHOUT executing
(the initial AdaptiveSparkPlan), which is what ``.explain("formatted")``
prints.
"""

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from patito_spark.functions.cache import release_caches
from patito_spark.plans import executed_plan, formatted_explain
from patito_spark.session import get_session

SF_DIR = "/root/testdata/sf0.01"

HEADLINERS = {
    "q1_pricing_summary": (
        "Filter pushed to scan, 7-column pruned read, partial+final "
        "HashAggregate (map-side combine), range-partitioned sort."
    ),
    "q3_shipping_priority": (
        "Both joins broadcast (filtered sides are small), "
        "TakeOrderedAndProject instead of global sort+limit."
    ),
    "q5_local_supplier": (
        "Region/nation dims explicitly broadcast; fact joins left to AQE."
    ),
    "q6_forecast_revenue": (
        "All four predicates in PushedFilters; ReadSchema is exactly the "
        "4 needed columns of 11."
    ),
    "rel_pipeline": (
        "SQL-string Relation filter -> case -> select -> aggregate chain "
        "still reaches the parquet scan with pushed filters — the "
        "Relation layer compiles to Catalyst plans, not opaque strings."
    ),
    "dedup_semantic": (
        "SemDeDup over the shared IVF index: in-cell exact scoring is a "
        "(cell, block, block) equi-join on the inverted file — no corpus "
        "cross product; the quantizer assignment is a map-only Arrow "
        "stage over one corpus scan."
    ),
    "dedup_minhash": (
        "OPH MinHash: explode/shingle window -> hash aggregates with "
        "partial_min (map-side combine) -> band-bucket equi-join; no "
        "cross product anywhere."
    ),
    "q_asof_bidirectional": (
        "As-of join via union + keyed window, direction='both': ZERO "
        "join operators for the temporal match, ONE hash exchange serves "
        "both window directions (the forward window re-sorts the reused "
        "shuffle), filters pushed to both scans."
    ),
    "q_range_join_orders": (
        "Bucketed range join resolves as a hash equi-join on the bucket "
        "(broadcast here; shuffle join at scale) — never "
        "BroadcastNestedLoopJoin."
    ),
    "q_kmv_distinct_users": (
        "KMV sketch: WindowGroupLimit pushes the smallest-k selection "
        "map-side, so the shuffle carries at most k hashes per group "
        "per partition."
    ),
    "dedup_corpus_minhash": (
        "End-to-end dedup composition: banded LSH equi-joins feed the "
        "component loop; the final step is a LEFT ANTI join against the "
        "(small) drop set."
    ),
    "ann_search": (
        "LSH + IVF top-k union-tagged: both methods read their prebuilt "
        "index from InMemoryTableScan (built once per corpus), probes "
        "broadcast to it, WindowGroupLimit prunes the top-k map-side."
    ),
    "contamination_check": (
        "Benchmark grams distinct + BroadcastExchange — the corpus gram "
        "stream is joined map-side and never dedup-shuffled "
        "(count_distinct collapses duplicates after the join)."
    ),
    "dedup_spans": (
        "ExactSubstr intervals: zero-exchange arrays_zip gram build "
        "(codegen, no per-doc sort), occurrence count + first occurrence "
        "as a MERGEABLE partial count/min(struct) aggregate joined back "
        "onto the persisted gram stream (skew-splittable — no row_number "
        "window over the gram hash); the islands windows run on "
        "duplicated candidates only."
    ),
    "text_unigram_ppl": (
        "Fused two-pass LM stack (lm_quality_scores): one positioned-"
        "pair aggregate builds BOTH LMs (unigram derived from the pair "
        "table); the scoring pass joins the corpus stream ONCE against "
        "a fused pair-level score table (all NLLs precomputed per "
        "distinct (prev, w) pair — the bigram/unigram/target lookups "
        "happen inside the tiny broadcast side), null-safe prev key, "
        "then a single partial+final per-doc aggregate; zero Python "
        "stages."
    ),
}


def dump_round(spark, round_id: str, suffix: str, only) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(__file__), "..", "plans", round_id)
    os.makedirs(out_dir, exist_ok=True)
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        for name, fn in entry_mod.queries().items():
            if only and name not in only:
                continue
            spark.sparkContext.setJobDescription(f"plan-dump: {name}")
            text = formatted_explain(fn(spark, sf_dir))
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(text)
            release_caches()
            print(f"wrote {path} ({len(text)} bytes)")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", dest="round_id")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--only")
    a = ap.parse_args()
    spark = get_session("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    if a.round_id:
        dump_round(
            spark, a.round_id, a.suffix, set(a.only.split(",")) if a.only else None
        )
        return
    queries = entry_mod.queries()
    out = [
        "# Physical plans of headline queries (auto-generated)",
        "",
        "Regenerate with `python tools/dump_plans.py`. Annotations state",
        "the property each plan is expected to show; `tests/test_plans.py`",
        "asserts them.",
        "",
    ]
    for name, annotation in HEADLINERS.items():
        df = queries[name](spark, SF_DIR)
        plan = executed_plan(df)
        plan = re.sub(r", \[plan_id=\d+\]", "", plan)
        out.append(f"## {name}")
        out.append("")
        out.append(annotation)
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    with open(
        os.path.join(os.path.dirname(__file__), "..", "docs", "plans.md"), "w"
    ) as f:
        f.write("\n".join(out))
    print("wrote docs/plans.md")


if __name__ == "__main__":
    main()
