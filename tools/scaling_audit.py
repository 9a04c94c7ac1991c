"""Regenerate docs/scaling.md: per-query times across scale factors.

The 100 TB question is not "how fast at sf0.1" but "what grows when the
data does". Timing every query at sf0.001/0.01/0.1 splits each one into
its fixed cost (scheduling, codegen — the sf0.001 time) and its
data-proportional term (the sf0.01 → sf0.1 marginal, where row counts
grow 10×). Queries whose marginal stays near 1× are constant-dominated
at these sizes; marginals near 10× are scan/shuffle-bound and are the
ones whose plan shape decides cluster-scale behavior.

Run from the repo root: ``python tools/scaling_audit.py``
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from bench import time_entries
from patito_spark.session import get_session

MANUAL_MARKER = "<!-- MANUAL SECTIONS BELOW: preserved by tools/scaling_audit.py -->"

#: sf -> data dir. sf1 is the locally derived set (tools/gen_sf_scale.py);
#: skipped with a note if it has not been generated.
SF_DIRS = {
    "0.001": "/root/testdata/sf0.001",
    "0.01": "/root/testdata/sf0.01",
    "0.1": "/root/testdata/sf0.1",
    "1": "/root/repo/.localdata/sf1",
}
RUNS = 2


def main() -> None:
    spark = get_session("scaling-audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    sfs = [sf for sf, d in SF_DIRS.items() if os.path.isdir(d)]
    timings: dict[str, dict[str, float]] = {name: {} for name in queries}
    for sf in sfs:
        best, _ = time_entries(spark, queries, SF_DIRS[sf], RUNS)
        for name, t in best.items():
            timings[name][sf] = t

    top, bottom = sfs[-1], sfs[-2]
    lines = [
        "# Scaling audit — per-query seconds across scale factors",
        "",
        "Generated by `tools/scaling_audit.py` (bench.py's `time_entries`:",
        "warm, best-of-2 interleaved passes, noop sink, operator caches",
        "released per run). `marginal` =",
        f"t(sf{top}) / t(sf{bottom}) while the data grows 10×: values",
        "near 1 mean the query is fixed-cost-dominated at these sizes; the",
        "closer to 10, the more scan/shuffle-bound — those rows are where",
        "plan shape matters at cluster scale. sf1 is the locally derived",
        "10× set (tools/gen_sf_scale.py) when present.",
        "",
        "| query | " + " | ".join(f"sf{sf}" for sf in sfs) + " | marginal |",
        "| --- | " + " | ".join("---" for _ in sfs) + " | --- |",
    ]
    for name in queries:
        t = timings[name]
        marginal = t[top] / t[bottom] if t[bottom] > 0 else float("nan")
        cells = " | ".join(f"{t[sf]:.2f}" for sf in sfs)
        lines.append(f"| {name} | {cells} | {marginal:.1f}× |")
    totals = {sf: sum(t[sf] for t in timings.values()) for sf in sfs}
    lines += [
        "",
        "Totals: "
        + ", ".join(f"sf{sf} {totals[sf]:.1f} s" for sf in sfs)
        + f" (marginal {totals[top] / totals[bottom]:.1f}× for 10× data).",
    ]
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "scaling.md",
    )
    # Everything below the marker is hand-written analysis (densification,
    # auto-planes, recall, quantizer sections) — regenerate ONLY the table
    # above it.
    manual = ""
    if os.path.exists(out):
        with open(out) as fh:
            existing = fh.read()
        if MANUAL_MARKER in existing:
            manual = existing.split(MANUAL_MARKER, 1)[1]
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n\n" + MANUAL_MARKER + manual)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
