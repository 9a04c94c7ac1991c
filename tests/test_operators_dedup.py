"""Dedup operator unit tests with planted duplicates."""

import pytest
from pyspark.sql import functions as F

from patito_spark.operators import dedup


@pytest.fixture()
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy", "sleepy")
    other = "completely different content about spark and scale " * 5
    return spark.createDataFrame(
        [
            (1, base.strip(), "en"),
            (2, base.strip(), "en"),        # exact dup of 1
            (3, near.strip(), "en"),        # near dup of 1
            (4, other.strip(), "en"),
            (5, "tiny", "fr"),
        ],
        schema="doc_id long, text string, lang string",
    )


def test_dedup_exact(docs):
    out = dedup.dedup_exact(docs, subset=["text"], id_col="doc_id")
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [1, 3, 4, 5]  # doc 2 dropped, doc 1 kept (min id)


def test_exact_dedup_keys(docs):
    out = dedup.exact_dedup_keys(docs, subset=["lang"], id_col="doc_id")
    mapping = {r.lang: r.keep_id for r in out.collect()}
    assert mapping == {"en": 1, "fr": 5}


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], schema="text string")
    out = df.select(dedup.shingles("text", n=2).alias("s")).first().s
    assert sorted(out) == ["a b", "b c", "c d"]
    # shorter than n falls back to the whole text
    df2 = spark.createDataFrame([("a",)], schema="text string")
    assert df2.select(dedup.shingles("text", n=3).alias("s")).first().s == ["a"]


def test_minhash_finds_planted_dups(docs):
    pairs = dedup.minhash_dedup_pairs(
        docs, threshold=0.5, num_hashes=64, bands=16
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found  # exact dup always collides
    for id_a, id_b in found:
        assert (id_a, id_b) not in {(1, 4), (2, 4), (3, 4)}  # no false merges


def test_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
        schema="doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.0, ngram=1).collect()
    vals = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert vals[(1, 2)] == pytest.approx(3 / 5)
    assert (1, 3) not in vals or vals[(1, 3)] == 0.0


def test_simhash_exact_dup_same_signature(docs):
    sigs = dedup.simhash_signatures(docs)
    by_id = {r["__id"]: r["__sig"] for r in sigs.collect()}
    assert by_id[1] == by_id[2]


def test_simhash_pairs(docs):
    pairs = dedup.simhash_dedup_pairs(docs, max_hamming=3).collect()
    found = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert found[(1, 2)] == 0


def _md5_hash(s):
    """The portable hash, spelled independently of the library."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def test_minhash_arrow_sql_parity(spark):
    # The per-doc Arrow feature build (shingles + md5 + OPH bins +
    # densification + band keys + verify gram-sets in one map-only
    # stage) must give the verified pair set of a pure-Python pipeline:
    # streaming.dedup._banded_buckets band keys, the 1 < n <= 1000
    # bucket guard, and Jaccard over sorted distinct portable gram
    # hashes — for both densify variants, across short docs, empty/null
    # text and unicode.
    import random
    from collections import defaultdict

    from patito_spark.streaming.dedup import _banded_buckets

    rnd = random.Random(7)
    words = [f"w{i}" for i in range(30)] + ["ü", ""]
    rows = []
    for d in range(120):
        base = [words[rnd.randrange(len(words))] for _ in range(rnd.randrange(1, 20))]
        rows.append((d, " ".join(base)))
        if d % 5 == 0:
            twin = list(base)
            if len(twin) > 3:
                twin[1] = "w0"
            rows.append((1000 + d, " ".join(twin)))
    rows += [(5000, ""), (5001, None), (5002, "a"), (5003, "ü ü")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    toks = {}
    for i, text in rows:
        if text is None:
            continue
        t = text.split(" ")
        grams = (
            {" ".join(t[j : j + 3]) for j in range(len(t) - 2)}
            if len(t) >= 3
            else {text}
        )
        toks[i] = {_md5_hash(g) for g in grams}

    def jac(a, b):
        inter = len(toks[a] & toks[b])
        union = len(toks[a]) + len(toks[b]) - inter
        return 1.0 if union == 0 else inter / union

    for densify in (True, False):
        arrow = dedup.minhash_dedup_pairs(
            df, threshold=0.5, densify=densify
        ).collect()
        buckets = defaultdict(list)
        for i, text in rows:
            if text is not None:
                for key in _banded_buckets(text, 3, 64, 16, densify=densify):
                    buckets[key].append(i)
        candidates = {
            (a, b)
            for ids in buckets.values()
            if 1 < len(ids) <= 1000
            for a in ids
            for b in ids
            if a < b
        }
        got = {(r.id_a, r.id_b): round(r.jaccard, 12) for r in arrow}
        want = {
            p: round(jac(*p), 12) for p in candidates if jac(*p) >= 0.5
        }
        assert got == want
        assert got  # the twins guarantee a non-empty pair set


def test_simhash_arrow_sql_parity(spark):
    # The map-only Arrow build must match a pure-Python SimHash over the
    # same md5 token hashes, including the tokenization edge cases:
    # empty text (one empty token), null text (no output row),
    # consecutive/trailing spaces (empty tokens kept, Java
    # split(re, -1)), and non-ASCII (md5 over UTF-8 bytes).
    rows = [
        (1, "hello world hello spark"),
        (2, ""),
        (3, None),
        (4, "a  b"),
        (5, "héllo wörld ünïcode"),
        (6, "x "),
        (7, "the quick brown fox jumps over the lazy dog " * 50),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    for bits in (64, 32):
        arrow = {
            r["__id"]: r["__sig"]
            for r in dedup.simhash_signatures(df, bits=bits).collect()
        }
        want = {}
        for i, text in rows:
            if text is None:
                continue
            hashes = [_md5_hash(t) for t in text.split(" ")]
            want[i] = sum(
                1 << b
                for b in range(min(bits, 60))
                if 2 * sum((h >> b) & 1 for h in hashes) > len(hashes)
            )
        assert arrow == want
        assert 3 not in arrow


def test_simhash_arrow_plan_is_map_only(spark):
    # The signature build adds ZERO exchanges: a single mapInPandas
    # over the scan.
    df = spark.createDataFrame(
        [(1, "a b"), (2, "c d")], schema="doc_id long, text string"
    )
    plan = (
        dedup.simhash_signatures(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_hamming_combination_masks_shape():
    # c=8, h=3: agree on 5 chunks -> C(8,5)=56 masks, each 40 bits wide
    masks = dedup.hamming_combination_masks(8, 3)
    assert len(masks) == 56
    assert all(bin(m & ((1 << 64) - 1)).count("1") == 40 for m in masks)
    # c=8, h=0 degenerates to the single full mask (signed -1)
    assert dedup.hamming_combination_masks(8, 0) == [-1]
    # h >= c falls back to single-chunk agreement (partial recall)
    assert len(dedup.hamming_combination_masks(4, 8)) == 4
    # table-count guard
    with pytest.raises(ValueError, match="combination tables"):
        dedup.hamming_combination_masks(16, 8)


def _brute_hamming_pairs(rows, max_hamming):
    out = {}
    for i, (ida, sa) in enumerate(rows):
        for idb, sb in rows[i + 1:]:
            h = bin((sa ^ sb) & ((1 << 64) - 1)).count("1")
            if h <= max_hamming:
                out[(min(ida, idb), max(ida, idb))] = h
    return out


def test_hamming_pairs_exact_recall_vs_brute_force(spark):
    import random

    rng = random.Random(12)
    base = rng.getrandbits(63)
    rows = []
    for i in range(60):
        sig = base
        for _ in range(rng.randrange(0, 7)):  # flip 0-6 bits
            sig ^= 1 << rng.randrange(64)
        sig = sig - (1 << 64) if sig >= (1 << 63) else sig
        rows.append((i, sig))
    rows += [(100 + i, rng.getrandbits(60)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, sig long")
    for h, c in [(3, 8), (4, 8), (6, 8), (2, 4)]:
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in dedup.hamming_pairs(
                df, id_col="doc_id", sig_col="sig",
                max_hamming=h, chunks=c,
            ).collect()
        }
        assert got == _brute_hamming_pairs(rows, h), (h, c)


def test_hamming_pairs_star_same_components(spark):
    import random

    from patito_spark.operators.graph import connected_components

    rng = random.Random(5)
    base = rng.getrandbits(60)
    rows = [(i, base) for i in range(10)]  # exact-dup group
    rows += [(20 + i, base ^ (1 << i)) for i in range(4)]  # 1-bit neighbors
    rows += [(100 + i, rng.getrandbits(60)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, sig long")

    def comps(expand):
        pairs = dedup.hamming_pairs(
            df, id_col="doc_id", sig_col="sig",
            max_hamming=3, chunks=8, expand=expand,
        )
        cc = connected_components(pairs.select("id_a", "id_b"))
        groups = {}
        for r in cc.collect():
            groups.setdefault(r.component, set()).add(r.node)
        return {frozenset(g) for g in groups.values()}

    full, star = comps("full"), comps("star")
    assert full == star
    # star output is linear: members->rep stars + rep-to-rep edges
    n_star = dedup.hamming_pairs(
        df, id_col="doc_id", sig_col="sig",
        max_hamming=3, chunks=8, expand="star",
    ).count()
    n_full = dedup.hamming_pairs(
        df, id_col="doc_id", sig_col="sig", max_hamming=3, chunks=8,
    ).count()
    assert n_full == 10 * 9 // 2 + 10 * 4 + 4 * 3 // 2  # quadratic in group
    # star: 9 member->rep edges + rep-to-rep links (4 base-neighbor +
    # 6 neighbor-neighbor sig pairs)
    assert n_star == 9 + 4 + 6


def test_hamming_pairs_bucket_preprune_drops_hot_key(spark):
    # 100 DISTINCT sigs differing only in chunk 7: every combination
    # key not touching chunk 7 puts all 100 in ONE bucket. With
    # max_bucket_size=50 the counter drops those buckets BEFORE the
    # join — deliberately sacrificing recall inside the pathological
    # bucket (that's the guard's contract) while unrelated pairs pass.
    rows = [(i, (i << 56) | 0x00FFFFFF) for i in range(100)]
    rows += [(200, 7), (201, 7 | (1 << 40))]  # a real near pair elsewhere
    df = spark.createDataFrame(rows, "doc_id long, sig long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.hamming_pairs(
            df, id_col="doc_id", sig_col="sig",
            max_hamming=6, chunks=8, max_bucket_size=50,
        ).collect()
    }
    # the hot bucket was dropped by the counter; the small pair survives
    assert (200, 201) in got and got[(200, 201)] == 1
    assert all(a >= 200 for a, _ in got)


def test_embedding_dedup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0]),  # near dup of 1
        (3, [0.0, 1.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<double>")
    pairs = dedup.embedding_dedup_pairs(df, threshold=0.99).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert found == {(1, 2)}


def test_embedding_dedup_lsh(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.normal(size=(50, 16))
    rows = [(i, vecs[i].tolist()) for i in range(50)]
    # plant a near-duplicate
    rows.append((100, (vecs[0] + 0.001 * rng.normal(size=16)).tolist()))
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<double>")
    pairs = dedup.embedding_dedup_pairs_lsh(
        df, threshold=0.99, n_planes=4, dim=16
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 100) in found


def test_dedup_corpus_end_to_end(spark):
    from patito_spark.operators.dedup import dedup_corpus

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                                   # exact dup of 1
            (3, base + " tail"),                         # near dup of 1
            (4, "completely different words entirely here now today"),
            (5, "another unrelated document with its own content"),
        ],
        "doc_id long, text string",
    )
    out = dedup_corpus(docs, threshold=0.5, bands=32, num_hashes=64)
    kept = sorted(r["doc_id"] for r in out.collect())
    # cluster {1,2,3} -> representative 1; singletons survive
    assert kept == [1, 4, 5]
    assert out.columns == docs.columns


class TestMinhashDedupAgainst:
    def test_cross_corpus_pairs_match_brute_force(self, spark):
        from patito_spark.operators.dedup import (
            minhash_dedup_against,
            shingles,
        )
        from patito_spark.operators.dedup import jaccard as jac

        base = "the quick brown fox jumps over the lazy dog every day"
        corpus = spark.createDataFrame(
            [
                (1, base),
                (2, base + " again"),                      # near-dup of ref 100
                (3, "completely unrelated text about spark shuffles here"),
            ],
            "doc_id long, text string",
        )
        ref = spark.createDataFrame(
            [(100, base), (200, "nothing matches this reference row at all")],
            "doc_id long, text string",
        )
        got = {
            (r["doc_id"], r["ref_id"])
            for r in minhash_dedup_against(
                corpus, ref, threshold=0.5, bands=32, num_hashes=64
            ).collect()
        }
        # brute-force truth over the same shingle space
        a = corpus.select("doc_id", shingles("text", n=3).alias("g"))
        b = ref.select(
            F.col("doc_id").alias("rid"), shingles("text", n=3).alias("rg")
        )
        truth = {
            (r["doc_id"], r["rid"])
            for r in a.crossJoin(b)
            .withColumn("j", jac(F.col("g"), F.col("rg")))
            .filter(F.col("j") >= 0.5)
            .collect()
        }
        # LSH recall <= 1: everything found must be true; the exact and
        # one-word-apart pairs collide in some band at 32 bands.
        assert got <= truth
        assert (1, 100) in got and (2, 100) in got

    def test_no_cross_matches_empty(self, spark):
        from patito_spark.operators.dedup import minhash_dedup_against

        corpus = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id long, text string",
        )
        ref = spark.createDataFrame(
            [(9, "totally different words with zero shared shingles ok")],
            "doc_id long, text string",
        )
        out = minhash_dedup_against(corpus, ref, threshold=0.3)
        assert out.count() == 0
        assert out.columns == ["doc_id", "ref_id", "jaccard"]

    def test_corpus_never_self_joined(self, spark):
        """Plan check: exactly one join keyed on (band, bucket), between
        corpus and reference — no corpus-corpus bucket self-join."""
        from patito_spark.operators.dedup import minhash_dedup_against

        corpus = spark.createDataFrame(
            [(i, f"doc number {i} with shared suffix words here") for i in range(20)],
            "doc_id long, text string",
        )
        ref = spark.createDataFrame(
            [(99, "doc number 7 with shared suffix words here")],
            "doc_id long, text string",
        )
        pairs = minhash_dedup_against(corpus, ref, threshold=0.9)
        rows = {(r["doc_id"], r["ref_id"]) for r in pairs.collect()}
        assert rows == {(7, 99)}


class TestMultiTableEmbeddingDedup:
    def test_multi_table_superset_of_single(self, spark):
        import numpy as np

        from patito_spark.operators.dedup import embedding_dedup_pairs_lsh

        rng = np.random.RandomState(7)
        base = rng.normal(size=(40, 16))
        # plant 5 near-dup pairs: vec i+100 ~= vec i
        rows = [(i, base[i].tolist()) for i in range(40)]
        for i in range(5):
            v = base[i] + rng.normal(scale=0.01, size=16)
            rows.append((100 + i, v.tolist()))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

        def pairs(**kw):
            return {
                (r["id_a"], r["id_b"])
                for r in embedding_dedup_pairs_lsh(
                    df, threshold=0.98, dim=16, n_planes=6, **kw
                ).collect()
            }

        single = pairs()
        multi = pairs(n_tables=4)
        assert single <= multi  # OR of tables can only add recall
        # with 4 tables every planted pair must be found
        assert {(i, 100 + i) for i in range(5)} <= multi

    def test_multi_table_pairs_unique(self, spark):
        import numpy as np

        from patito_spark.operators.dedup import embedding_dedup_pairs_lsh

        rng = np.random.RandomState(3)
        rows = [(i, rng.normal(size=8).tolist()) for i in range(30)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = embedding_dedup_pairs_lsh(
            df, threshold=-1.0, dim=8, n_planes=2, n_tables=3
        )
        got = out.select("id_a", "id_b")
        assert got.count() == got.distinct().count()

    def test_index_with_multi_table_rejected(self, spark):
        """n_tables>1 with a prebuilt index must raise (the index branch
        would otherwise silently win and deliver single-table recall),
        matching ann_lsh_topk's contract."""
        import numpy as np
        import pytest as _pytest

        from patito_spark.operators.dedup import embedding_dedup_pairs_lsh
        from patito_spark.operators.similarity import build_lsh_index

        rng = np.random.RandomState(7)
        df = spark.createDataFrame(
            [(i, rng.normal(size=16).tolist()) for i in range(10)],
            "vec_id long, embedding array<double>",
        )
        idx = build_lsh_index(df, n_planes=4, dim=16)
        try:
            with _pytest.raises(ValueError, match="n_tables"):
                embedding_dedup_pairs_lsh(df, dim=16, n_tables=2, index=idx)
        finally:
            idx.unpersist()


class TestEmbeddingDedupAgainst:
    def test_cross_corpus_semantic_match(self, spark):
        import numpy as np

        from patito_spark.operators.dedup import embedding_dedup_against

        rng = np.random.RandomState(11)
        ref_vecs = rng.normal(size=(4, 16))
        corpus_rows = [
            (0, (ref_vecs[0] + rng.normal(scale=0.01, size=16)).tolist()),
            (1, (ref_vecs[1] + rng.normal(scale=0.01, size=16)).tolist()),
        ] + [(10 + i, rng.normal(size=16).tolist()) for i in range(20)]
        corpus = spark.createDataFrame(
            corpus_rows, "vec_id long, embedding array<double>"
        )
        ref = spark.createDataFrame(
            [(100 + i, ref_vecs[i].tolist()) for i in range(4)],
            "vec_id long, embedding array<double>",
        )
        got = {
            (r["vec_id"], r["ref_id"])
            for r in embedding_dedup_against(
                corpus, ref, threshold=0.98, dim=16, n_planes=4, n_tables=4
            ).collect()
        }
        assert {(0, 100), (1, 101)} <= got
        assert all(cid in (0, 1) for cid, _ in got)  # random vecs never match

    def test_threshold_filters_everything(self, spark):
        import numpy as np

        from patito_spark.operators.dedup import embedding_dedup_against

        rng = np.random.RandomState(5)
        corpus = spark.createDataFrame(
            [(i, rng.normal(size=8).tolist()) for i in range(10)],
            "vec_id long, embedding array<double>",
        )
        ref = spark.createDataFrame(
            [(99, rng.normal(size=8).tolist())],
            "vec_id long, embedding array<double>",
        )
        out = embedding_dedup_against(
            corpus, ref, threshold=0.9999, dim=8, n_planes=2
        )
        assert out.count() == 0
        assert out.columns == ["vec_id", "ref_id", "cosine"]


def test_embedding_lsh_auto_tables_planted_recall(spark):
    """Recall pin for the n_tables="auto" pairing (docs/scaling.md
    §LSH-dedup recall): planted duplicates at cosine U[0.92, 0.99] over
    the real sf0.001 embeddings must be recovered at ~0.9 with the
    L = planes/2 pairing at 8 planes. Seeded planting + seeded
    hyperplanes make the measured value a constant on this data; the
    0.8 floor fails any silent recall collapse while ignoring the last
    few percent of model noise.
    """
    import os

    import numpy as np
    import pandas as pd

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.001 testdata not present")
    pdf = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .toPandas()
    )
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    rng = np.random.RandomState(7)
    target_cos = rng.uniform(0.92, 0.99, size=len(mat))
    w = rng.normal(size=mat.shape)
    vnorm = np.linalg.norm(mat, axis=1, keepdims=True)
    vhat = mat / vnorm
    w -= (w * vhat).sum(axis=1, keepdims=True) * vhat
    w /= np.linalg.norm(w, axis=1, keepdims=True)
    sin_a = np.sqrt(1.0 - target_cos**2)
    dup = target_cos[:, None] * mat + (sin_a * vnorm[:, 0])[:, None] * w
    offset = 10_000_000
    both = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": list(pdf["vec_id"])
                + [int(i) + offset for i in pdf["vec_id"]],
                "embedding": [r.tolist() for r in mat]
                + [r.tolist() for r in dup],
            }
        )
    )
    truth = {(int(i), int(i) + offset) for i in pdf["vec_id"]}

    got = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_dedup_pairs_lsh(
            both, threshold=0.9, n_planes=8, n_tables="auto"
        ).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, recall


def test_embedding_lsh_auto_tables_rejects_index(spark):
    df = spark.createDataFrame(
        [(0, [1.0] * 64)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="prebuilt index"):
        dedup.embedding_dedup_pairs_lsh(df, n_tables="auto", index=object())
