"""Measure the one-time build cost of every session-lived
_ANN_INDEX_CACHE artifact (round-15 verdict item 3 / round-16 item 4):
the bench's timed passes probe PREBUILT artifacts (build-once /
query-many is the operators' steady state) while the DuckDB oracle
replays construction per pass, so vs-oracle ratios for the
artifact-backed entries must be read together with this table. The
numbers land in BASELINE.md's exemption table.

Each artifact builds ONCE in a fresh session (cold cache), timed
around the same helper the entries call; an untimed warmup count on
each input table first, so file-index/JVM warmup is not charged to the
first artifact.

Usage: python tools/artifact_build_costs.py [--sf-dir DIR]
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
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    import __spark_entry__ as em
    from patito_spark.session import get_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    spark = get_session("artifact-build-costs")
    spark.sparkContext.setLogLevel("ERROR")
    sf = args.sf_dir

    # untimed warmup: file index + codegen basics for the input tables
    for t in ("documents", "embeddings"):
        em._t(spark, sf, t).count()

    from patito_spark.operators.dedup import embedding_dedup_pairs_lsh  # noqa: F401
    from patito_spark.operators.similarity import build_lsh_index

    builders = {
        # key -> (owning entry family, zero-arg builder)
        "lsh(n_planes=6) [ann_search/ann_topk]": lambda: em._lsh_index(
            spark, sf
        ),
        "lsh-auto [dedup_embedding]": lambda: build_lsh_index(
            em._t(spark, sf, "embeddings"), n_planes=None
        ),
        "ivf [ann_search/dedup_semantic]": lambda: em._ivf_index(spark, sf),
        "sq8 [ann_search branches]": lambda: em._sq8_params(spark, sf),
        "pca [ann_search branches]": lambda: em._pca_params(spark, sf),
        "pca_reduced [ann_search branches]": lambda: em._pca_reduced_corpus(
            spark, sf
        ),
        "arpa [text_unigram_ppl]": lambda: em._arpa_lm_for(spark, sf),
        "tok/bpe+unigram [text_token_counts]": (
            lambda: em._tokenizer_artifacts_for(spark, sf)
        ),
        "bm25 [text_token_counts family]": lambda: em._bm25_index(spark, sf),
    }
    out = {}
    for name, build in builders.items():
        t0 = time.perf_counter()
        build()
        out[name] = round(time.perf_counter() - t0, 3)
        print(f"{name}: {out[name]} s", flush=True)
    print(json.dumps({"sf_dir": sf, "cpus": int(cpus), "build_s": out}))
    spark.stop()


if __name__ == "__main__":
    main()
