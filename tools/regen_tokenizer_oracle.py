"""Regenerate (and verify) the committed tokenizer-oracle tables.

`__spark_entry__._UNIGRAM_SEG` / `_BPE_SEG` pin the per-word
segmentations of the DETERMINISTIC session-trained artifacts
(`_tokenizer_artifacts_for` — trainers are pure functions of the
document vocabulary; word frequency is 1 + portable_md5(word) % 97).
They were generated ONCE by this tool (round 14; see docs/perf.md
"tokenizer-trainer driver row") and re-derive bit-identically whenever
the trainers and testdata vocabulary are unchanged — which is exactly
what this tool checks.

Usage:
  python tools/regen_tokenizer_oracle.py               # verify committed
  python tools/regen_tokenizer_oracle.py --print       # emit fresh dicts
  python tools/regen_tokenizer_oracle.py --sf-dir DIR  # other testdata
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--print", action="store_true", dest="emit")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from patito_spark.operators.tokenizer import (
        _bpe_word,
        bytes_to_unicode,
    )
    from patito_spark.operators.unigram import (
        build_unigram_vocab,
        viterbi_segment,
    )
    from patito_spark.session import get_session

    spark = get_session("regen-tokenizer-oracle")
    spark.sparkContext.setLogLevel("ERROR")

    logp, merges, vocab = em._tokenizer_artifacts_for(spark, args.sf_dir)
    uni_ids = build_unigram_vocab(logp)
    lp, ranks, voc = dict(logp), dict(merges), dict(vocab)
    b2u = bytes_to_unicode()

    words = sorted(
        r.w
        for r in em._t(spark, args.sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .distinct()
        .collect()
    )

    uni_seg: dict = {}
    bpe_seg: dict = {}
    for w in words:
        for variant in (w, " " + w):
            mapped = "".join(b2u[c] for c in variant.encode("utf-8"))
            pieces, _ = viterbi_segment(mapped, lp, 8)
            uni_seg[variant] = " ".join(
                str(uni_ids.get(p, 0)) for p in pieces
            )
            bpe_seg[variant] = " ".join(
                str(voc[t]) for t in _bpe_word(mapped, ranks) if t in voc
            )

    if args.emit:
        for name, table in (("_UNIGRAM_SEG", uni_seg), ("_BPE_SEG", bpe_seg)):
            print(f"{name} = {{")
            for w in words:
                print(f"    {w!r}: {table[w]!r}, {' ' + w!r}: {table[' ' + w]!r},")
            print("}")
        return

    ok = True
    for name, fresh, committed in (
        ("_UNIGRAM_SEG", uni_seg, em._UNIGRAM_SEG),
        ("_BPE_SEG", bpe_seg, em._BPE_SEG),
    ):
        if fresh != committed:
            ok = False
            only_f = {k: v for k, v in fresh.items() if committed.get(k) != v}
            only_c = {k: v for k, v in committed.items() if fresh.get(k) != v}
            print(f"MISMATCH {name}: fresh={list(only_f.items())[:4]} "
                  f"committed={list(only_c.items())[:4]}")
        else:
            print(f"OK {name}: {len(fresh)} entries match the committed table")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
