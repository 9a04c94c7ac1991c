"""Recall of auto-sized embedding LSH dedup vs exact all-pairs truth.

Verdict r8 item #4: `auto_n_planes` flattened the scale marginal
(pair-work n²/2^p → ~linear) but more planes split true-duplicate pairs
across buckets more often — single-table collision for a pair at angle
theta is (1 - theta/pi)^p, decaying with p. The compensating lever is
`n_tables` (L OR-ed tables; a pair is missed only if split in EVERY
table). Nothing had measured the actual recall at the auto plane count.

This tool computes, per SF directory and cosine threshold:
  - exact truth: `embedding_dedup_pairs` (blocked all-pairs, no LSH)
  - LSH pairs at auto planes for n_tables in {1, 2, 4}
  - recall = |lsh ∩ exact| / |exact|  (precision is 1.0 by construction:
    the verify stage computes exact cosine inside each bucket)

Results feed docs/scaling.md §LSH-dedup recall and the n_tables scale
policy in `embedding_dedup_pairs_lsh`'s docstring.

Usage: python tools/recall_embedding_lsh.py [--thresholds 0.35,0.8,0.95]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from patito_spark.session import get_session

SF_DIRS = ("/root/testdata/sf0.1", "/root/repo/.localdata/sf1")


def pair_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect()}


PLANT_OFFSET = 10_000_000


def planted_corpus(spark, sf_dir, lo=0.92, hi=0.99):
    """Corpus + one planted near-duplicate per vector at controlled cosine.

    The synthetic embeddings have essentially NO true pairs above cosine
    0.8 (measured: one pair at sf1), so corpus-only recall can only be
    measured in the low-threshold search regime — not the high-threshold
    regime dedup actually runs in. This plants ground truth there: for
    each vector v, emit u = cos(a)·v + sin(a)·|v|·w with w a unit vector
    orthogonal to v (Gram-Schmidt on a seeded Gaussian), so
    cosine(u, v) = cos(a) exactly, drawn uniformly from [lo, hi]. The
    duplicate's id is the original's + PLANT_OFFSET.
    """
    import numpy as np
    import pandas as pd

    pdf = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .toPandas()
    )
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    rng = np.random.RandomState(7)
    target_cos = rng.uniform(lo, hi, size=len(mat))
    w = rng.normal(size=mat.shape)
    # orthogonalize w against each row of mat, then unit-scale
    vnorm = np.linalg.norm(mat, axis=1, keepdims=True)
    vhat = mat / vnorm
    w -= (w * vhat).sum(axis=1, keepdims=True) * vhat
    w /= np.linalg.norm(w, axis=1, keepdims=True)
    sin_a = np.sqrt(1.0 - target_cos**2)
    dup = target_cos[:, None] * mat + (sin_a * vnorm[:, 0])[:, None] * w
    both = pd.DataFrame(
        {
            "vec_id": list(pdf["vec_id"])
            + [int(i) + PLANT_OFFSET for i in pdf["vec_id"]],
            "embedding": [r.tolist() for r in mat] + [r.tolist() for r in dup],
        }
    )
    truth = {
        (int(i), int(i) + PLANT_OFFSET) for i in pdf["vec_id"]
    }
    return spark.createDataFrame(both), truth


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--thresholds", default="0.35,0.8,0.95")
    ap.add_argument("--tables", default="1,2,4")
    args = ap.parse_args()
    thresholds = [float(x) for x in args.thresholds.split(",")]
    tables = [int(x) for x in args.tables.split(",")]

    spark = get_session("recall-embedding-lsh")
    spark.sparkContext.setLogLevel("ERROR")

    from patito_spark.operators.dedup import (
        embedding_dedup_pairs,
        embedding_dedup_pairs_lsh,
    )
    from patito_spark.operators.similarity import auto_n_planes

    for sf_dir in SF_DIRS:
        if not os.path.isdir(sf_dir):
            print(f"=== {sf_dir} MISSING (run tools/gen_sf_scale.py) ===")
            continue
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n = emb.count()
        planes = auto_n_planes(n)
        print(f"\n=== {sf_dir}  n={n}  auto_planes={planes} ===")
        for thr in thresholds:
            exact = pair_set(embedding_dedup_pairs(emb, threshold=thr))
            if not exact:
                print(f"  thr={thr}: 0 exact pairs — skipped")
                continue
            row = [f"  thr={thr}: exact={len(exact)}"]
            for L in tables:
                got = pair_set(
                    embedding_dedup_pairs_lsh(
                        emb, threshold=thr, n_tables=L, n_vectors=n
                    )
                )
                fp = got - exact
                assert not fp, f"false positives?! {sorted(fp)[:5]}"
                row.append(
                    f"L={L}: {len(got)} recall={len(got) / len(exact):.3f}"
                )
            print("  ".join(row))

        # --- planted near-duplicates: the regime dedup runs in -------- #
        planted, truth = planted_corpus(spark, sf_dir)
        n2 = 2 * n
        planes2 = auto_n_planes(n2)
        print(
            f"  planted: {len(truth)} pairs at cosine U[0.92,0.99], "
            f"corpus 2n={n2}, auto_planes={planes2}"
        )
        for L in tables:
            got = pair_set(
                embedding_dedup_pairs_lsh(
                    planted, threshold=0.9, n_tables=L, n_vectors=n2
                )
            )
            hit = len(got & truth)
            print(
                f"    thr=0.9 L={L}: planted recall={hit / len(truth):.3f}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
