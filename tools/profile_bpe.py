"""BPE token-accounting throughput at sf1 (round-11 verdict #8).

No GPT-2 merges.txt ships in this container, so the profile trains a
small byte-level BPE merge table ON THE CORPUS ITSELF (the
operators.tokenizer.train_bpe path: distributed word-frequency
collapse + driver merge loop) and measures the distributed counter
with it. Merge-table size shifts the per-word merge
depth roughly logarithmically; the word-cache hit rate — measured here
with accumulators — is the dominant throughput factor either way, so
the docs/s row is representative of a real 50k-merge artifact within a
small constant.

Usage: python tools/profile_bpe.py [--sf-dir .localdata/sf1] [--merges 1000]
"""

from __future__ import annotations

import argparse
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=".localdata/sf1")
    ap.add_argument("--merges", type=int, default=1000)
    ap.add_argument("--train-docs", type=int, default=2000)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from patito_spark.session import get_session

    spark = get_session("profile-bpe")
    spark.sparkContext.setLogLevel("ERROR")

    from patito_spark.operators.tokenizer import train_bpe

    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    n_docs = docs.count()
    n_chars = docs.agg(F.sum(F.length("text"))).first()[0]

    t0 = time.time()
    merges = train_bpe(
        docs.limit(args.train_docs), n_merges=args.merges
    )
    t_train = time.time() - t0

    # Instrumented copy of the distributed counter: accumulators tally
    # cache hits/misses so the Zipf-cache claim gets a measured number.
    import pandas as pd
    from pyspark.sql import types as T

    from patito_spark.operators.tokenizer import (
        _bpe_word,
        _pretokenize,
        bytes_to_unicode,
    )

    sc = spark.sparkContext
    hits = sc.accumulator(0)
    misses = sc.accumulator(0)
    tokens_acc = sc.accumulator(0)
    merges_bc = sc.broadcast(dict(merges))

    def count(batches, cache_size=200_000):
        ranks = merges_bc.value
        b2u = bytes_to_unicode()
        cache: dict = {}
        h = m = tok = 0
        for pdf in batches:
            out = []
            for t in pdf["text"]:
                total = 0
                for w in _pretokenize(t):
                    n = cache.get(w)
                    if n is None:
                        m += 1
                        mapped = "".join(b2u[b] for b in w.encode("utf-8"))
                        n = len(_bpe_word(mapped, ranks))
                        if len(cache) < cache_size:
                            cache[w] = n
                    else:
                        h += 1
                    total += n
                tok += total
                out.append(total)
            yield pd.DataFrame({"n": out})
        hits.add(h)
        misses.add(m)
        tokens_acc.add(tok)

    schema = T.StructType([T.StructField("n", T.LongType())])
    src = docs.select("text")
    # warm the scan cache distinction out of the way
    src.count()
    print(
        f"sf_dir={args.sf_dir} merges={len(merges)} "
        f"(trained {t_train:.1f}s on {args.train_docs} docs)"
    )
    for tag, cs in (("cached", 200_000), ("no-cache bound", 0)):
        hits.value = 0
        misses.value = 0
        tokens_acc.value = 0
        t0 = time.time()
        src.mapInPandas(
            lambda b, cs=cs: count(b, cache_size=cs), schema=schema
        ).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        n_tok = tokens_acc.value
        hr = hits.value / max(1, hits.value + misses.value)
        print(
            f"[{tag}] docs={n_docs} chars={n_chars} tokens={n_tok} "
            f"wall={wall:.2f}s docs/s={n_docs / wall:,.0f} "
            f"tokens/s={n_tok / wall:,.0f} "
            f"MB/s={n_chars / wall / 1e6:.1f} cache_hit_rate={hr:.4f}"
        )


if __name__ == "__main__":
    sys.path.insert(0, ".")
    main()
