"""Similarity search unit tests."""

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from patito_spark.functions.vector import cosine_similarity, dot_product, l2_norm
from patito_spark.operators import similarity


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(11)
    vecs = rng.normal(size=(100, 16))
    rows = [(i, vecs[i].tolist()) for i in range(100)]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<double>")
    return df, vecs


def test_vector_functions(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0])], schema="a array<double>, b array<double>"
    )
    row = df.select(
        dot_product("a", "b").alias("dot"),
        l2_norm("a").alias("norm"),
        cosine_similarity("a", "b").alias("cos"),
    ).first()
    assert row.dot == pytest.approx(11.0)
    assert row.norm == pytest.approx(np.sqrt(5))
    assert row.cos == pytest.approx(11 / (np.sqrt(5) * 5))


def test_cosine_topk_matches_numpy(emb):
    df, vecs = emb
    queries = df.filter(F.col("vec_id") < 3)
    out = similarity.cosine_topk(df, queries, k=5)
    got = {
        (r.query_id, r.rank): r.neighbor_id for r in out.collect()
    }
    normalized = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = normalized @ normalized.T
    for q in range(3):
        order = np.lexsort((np.arange(100), -np.round(sims[q], 12)))
        for rank in range(1, 6):
            assert got[(q, rank)] == order[rank - 1]


def test_cosine_topk_self_is_rank1(emb):
    df, _ = emb
    queries = df.filter(F.col("vec_id") < 5)
    out = similarity.cosine_topk(df, queries, k=1).collect()
    for r in out:
        assert r.neighbor_id == r.query_id
        assert r.cosine == pytest.approx(1.0)


def test_ann_lsh_recall(emb):
    df, _ = emb
    queries = df.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(df, queries, k=5)
    approx = similarity.ann_lsh_topk(
        df, queries, k=5, n_planes=4, dim=16
    )
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # every ANN result must be a real vector pair from the same bucket;
    # self-match is always in-bucket so recall > 0 guaranteed
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.2
    for q in range(10):
        assert (q, q) in approx_set


def test_ann_recall_pinned_at_documented_config(spark):
    """Regression pin for docs/ann_quality.md (verdict r8 #5).

    Re-measures recall@10 over the real sf0.1 embeddings at the two
    headline configurations the docs recommend, with floors just under
    the committed measurements (LSH 6-plane/4-table/multi-probe 0.728,
    IVF 64-cell/16-probe 0.789). The old 0.2/0.4 sanity floors let a
    silent recall collapse to 0.3 pass; these fail it. Both paths are
    seed-deterministic, so the measured values are exactly reproducible
    on this data — a failure means the algorithm changed, not noise.
    """
    import os

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.1 testdata not present")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 64)
    k = 10

    exact = similarity.cosine_topk(emb, queries, k=k).collect()
    truth: dict = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(rows):
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(
            len(by_q.get(q, set()) & ids) / k for q, ids in truth.items()
        ) / len(truth)

    lsh = similarity.ann_lsh_topk(
        emb, queries, k=k, n_planes=6, n_tables=4, multi_probe_bits=1
    ).collect()
    assert recall(lsh) >= 0.65

    ivf = similarity.ann_ivf_topk(
        emb, queries, k=k, n_centroids=64, n_probe=16
    ).collect()
    assert recall(ivf) >= 0.70


def test_bucket_determinism(emb):
    df, _ = emb
    b1 = similarity.hyperplane_lsh_buckets(df, n_planes=4, dim=16, seed=1)
    b2 = similarity.hyperplane_lsh_buckets(df, n_planes=4, dim=16, seed=1)
    assert {(r.vec_id, r.bucket) for r in b1.collect()} == {
        (r.vec_id, r.bucket) for r in b2.collect()
    }


def test_ann_ivf_recall(emb):
    df, _ = emb
    from pyspark.sql import functions as F2

    queries = df.filter(F2.col("vec_id") < 10)
    exact = similarity.cosine_topk(df, queries, k=5)
    ivf = similarity.ann_ivf_topk(
        df, queries, k=5, n_centroids=8, n_probe=3
    )
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(exact_set & ivf_set) / len(exact_set)
    assert recall >= 0.4
    for q in range(10):
        assert (q, q) in ivf_set  # self always lands in own probed cell


def test_vector_functions_match_numpy_fold_bit_exact(spark):
    """The HOF dot/norm are BIT-identical to the numpy seq_* helpers (the
    Arrow scoring path): both fold left to right in double precision."""
    from patito_spark.functions.vector_numpy import seq_dot_matrix, seq_norm

    rng = np.random.RandomState(7)
    a = rng.normal(size=(20, 16))
    b = rng.normal(size=(20, 16))
    df = spark.createDataFrame(
        [(a[i].tolist(), b[i].tolist()) for i in range(20)],
        schema="a array<double>, b array<double>",
    )
    rows = df.select(
        dot_product("a", "b").alias("dot"), l2_norm("a").alias("norm")
    ).collect()
    np_dot = np.array([seq_dot_matrix(a[i : i + 1], b[i : i + 1])[0, 0] for i in range(20)])
    assert (np_dot == np.array([r.dot for r in rows])).all()
    assert (seq_norm(a) == np.array([r.norm for r in rows])).all()


def _seq_cos(a, b):
    """Cosine with sequential-fold sums in plain Python floats."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def _ivf_reference(vecs, n_cells, queries, k, n_probe):
    """Cosine IVF over the first ``n_cells`` vectors as centroids: assign
    (ties to the lowest cell), probe the ``n_probe`` best cells, rank
    probed vectors by (cosine desc, id asc)."""
    cents = vecs[:n_cells]

    def affinities(v):
        return [_seq_cos(v, c) for c in cents]

    def best_cells(v):
        scores = affinities(v)
        return sorted(range(n_cells), key=lambda c: (-scores[c], c))

    cell = {i: best_cells(v)[0] for i, v in enumerate(vecs)}
    out = {}
    for q in queries:
        probed = set(best_cells(vecs[q])[:n_probe])
        scored = sorted(
            (-_seq_cos(vecs[q], v), i)
            for i, v in enumerate(vecs)
            if cell[i] in probed
        )
        for rank, (neg, i) in enumerate(scored[:k], start=1):
            out[(q, rank)] = (i, -neg)
    return out


VEC = st.lists(st.integers(-2, 2), min_size=3, max_size=3).filter(any)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(VEC, min_size=4, max_size=12),
    n_cells=st.integers(1, 3),
    n_probe=st.integers(1, 3),
    k=st.integers(1, 4),
)
def test_ann_ivf_topk_matches_python(spark, vecs, n_cells, n_probe, k):
    """Small integer vectors make cosine ties common, so assignment,
    probing and ranking tie-breaks are all exercised; cosines compare
    bit-exactly."""
    vecs = [[float(x) for x in v] for v in vecs]
    n_probe = min(n_probe, n_cells)
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    out = similarity.ann_ivf_topk(
        df,
        df.filter(F.col("vec_id") < 3),
        k=k,
        n_probe=n_probe,
        centroids_df=df.filter(F.col("vec_id") < n_cells),
        assign_metric="cosine",
    )
    got = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in out.collect()}
    assert got == _ivf_reference(vecs, n_cells, range(3), k, n_probe)


def test_multi_probe_raises_recall(spark, sf_dir):
    """Hamming-1 probing must find at least as many true neighbors as
    single-bucket probing (and strictly more candidates)."""
    from patito_spark.operators.similarity import ann_lsh_topk, cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }

    def recall(multi):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ann_lsh_topk(
                emb, queries, k=5, n_planes=6, multi_probe_bits=multi
            ).collect()
        }
        return len(approx & exact) / len(exact)

    r0, r1 = recall(0), recall(1)
    assert r1 >= r0
    # synthetic embeddings are uniform-random (no true clusters), so
    # absolute recall is modest; monotonicity is the real contract
    assert r1 >= 0.3


def test_multi_probe_bits_validation(spark, sf_dir):
    from patito_spark.operators.similarity import ann_lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="multi_probe_bits"):
        ann_lsh_topk(emb, emb.limit(1), multi_probe_bits=2)


# ---------------------------------------------------------------------- #
# Reusable index artifacts (build once, query many)                       #
# ---------------------------------------------------------------------- #


def _topk_rows(df):
    return sorted(
        (r.query_id, r.rank, r.neighbor_id, round(r.cosine, 9))
        for r in df.collect()
    )


def test_lsh_index_matches_direct(emb):
    df, _ = emb
    queries = df.filter(F.col("vec_id") < 5)
    direct = similarity.ann_lsh_topk(df, queries, k=5, dim=16)
    idx = similarity.build_lsh_index(df, dim=16)
    try:
        via_index = similarity.ann_lsh_topk(None, queries, k=5, index=idx)
        assert _topk_rows(via_index) == _topk_rows(direct)
    finally:
        idx.unpersist()


def test_ivf_index_two_queries_one_corpus_scan(emb):
    df, _ = emb
    centroids = df.filter(F.col("vec_id") < 8)
    idx = similarity.build_ivf_index(
        df, centroids_df=centroids, assign_metric="cosine"
    )
    try:
        q1 = df.filter(F.col("vec_id") < 3)
        q2 = df.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 6))
        out1 = similarity.ann_ivf_topk(None, q1, k=5, n_probe=2, index=idx)
        r1 = _topk_rows(out1)  # first action materializes the index cache
        out2 = similarity.ann_ivf_topk(None, q2, k=5, n_probe=2, index=idx)
        # Second query reads the cached inverted file, not the corpus.
        plan = out2._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        r2 = _topk_rows(out2)
        direct = similarity.ann_ivf_topk(
            df, q2, k=5, n_probe=2,
            centroids_df=centroids, assign_metric="cosine",
        )
        assert r2 == _topk_rows(direct)
        assert len(r1) == 3 * 5 and len(r2) == 3 * 5
    finally:
        idx.unpersist()


def test_lsh_index_write_read_roundtrip(emb, tmp_path):
    df, _ = emb
    queries = df.filter(F.col("vec_id") < 4)
    idx = similarity.build_lsh_index(df, dim=16, materialize=False)
    path = str(tmp_path / "lsh_index")
    idx.write(path)
    loaded = similarity.LshIndex.read(df.sparkSession, path)
    got = similarity.ann_lsh_topk(None, queries, k=5, index=loaded)
    want = similarity.ann_lsh_topk(df, queries, k=5, dim=16)
    assert _topk_rows(got) == _topk_rows(want)


def test_ivf_index_write_read_roundtrip(emb, tmp_path):
    df, _ = emb
    queries = df.filter(F.col("vec_id") < 4)
    centroids = df.filter(F.col("vec_id") < 8)
    idx = similarity.build_ivf_index(
        df, centroids_df=centroids, assign_metric="cosine",
        materialize=False,
    )
    path = str(tmp_path / "ivf_index")
    idx.write(path)
    loaded = similarity.IvfIndex.read(df.sparkSession, path)
    assert loaded.assign_metric == "cosine"
    assert np.allclose(loaded.centroids, idx.centroids)
    got = similarity.ann_ivf_topk(None, queries, k=5, index=loaded)
    want = similarity.ann_ivf_topk(
        df, queries, k=5, centroids_df=centroids, assign_metric="cosine"
    )
    assert _topk_rows(got) == _topk_rows(want)


def test_embedding_dedup_accepts_lsh_index(emb):
    from patito_spark.operators import dedup

    df, _ = emb
    # Plant an exact duplicate pair so the threshold filter keeps rows.
    dup = df.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    full = df.unionByName(dup)
    direct = dedup.embedding_dedup_pairs_lsh(full, threshold=0.99, dim=16)
    idx = similarity.build_lsh_index(full, dim=16)
    try:
        via_index = dedup.embedding_dedup_pairs_lsh(
            full, threshold=0.99, index=idx
        )
        key = lambda df_: sorted(
            (r.id_a, r.id_b, round(r.cosine, 9)) for r in df_.collect()
        )
        assert key(via_index) == key(direct)
        assert (0, 1000) in {(r.id_a, r.id_b) for r in direct.collect()}
    finally:
        idx.unpersist()


class TestAutoPlanes:
    def test_auto_n_planes_holds_bucket_size(self):
        from patito_spark.operators.similarity import auto_n_planes

        assert auto_n_planes(100) == 2            # tiny corpus -> floor
        assert auto_n_planes(2_000) == 4          # 2000/200 -> 2^4 buckets
        assert auto_n_planes(20_000) == 7         # 10x data -> +~3 planes
        assert auto_n_planes(20_000_000) == 17
        assert auto_n_planes(10**12) == 24        # capped

    def test_build_index_auto_sizes(self, spark, emb):
        from patito_spark.operators.similarity import (
            auto_n_planes,
            build_lsh_index,
        )

        df, _ = emb
        n = df.count()
        idx = build_lsh_index(
            df, n_planes=None, dim=16, target_bucket_size=max(n // 4, 1)
        )
        try:
            assert idx.n_planes == auto_n_planes(n, max(n // 4, 1))
            assert idx.table.count() == n
        finally:
            idx.unpersist()

    def test_auto_n_centroids_sqrt_rule(self):
        from patito_spark.operators.similarity import auto_n_centroids

        assert auto_n_centroids(100) == 16          # floor
        assert auto_n_centroids(1_000_000) == 1000  # sqrt
        assert auto_n_centroids(10**12) == 65_536   # capped

    def test_build_ivf_auto_sizes(self, spark, emb):
        from patito_spark.operators.similarity import build_ivf_index

        df, _ = emb
        idx = build_ivf_index(df, n_centroids=None, max_train_vectors=100)
        try:
            # 100 vectors -> floor of 16 cells; every vector assigned
            assert idx.centroids.shape[0] == 16
            assert idx.table.count() == 100
        finally:
            idx.unpersist()

    def test_multi_table_lsh_recall_dominates_single(self, spark, emb):
        """n_tables=L unions candidates: recall vs exact truth is at
        least the single-table recall, and strictly better here."""
        from patito_spark.operators.similarity import ann_lsh_topk, cosine_topk

        df, _ = emb
        queries = df.filter("vec_id < 8")
        truth = {}
        for r in cosine_topk(df, queries, k=5).collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

        def recall(out):
            got = {}
            for r in out.collect():
                got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            return sum(
                len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
            ) / len(truth)

        one = recall(ann_lsh_topk(df, queries, k=5, n_planes=6, dim=16))
        four = recall(
            ann_lsh_topk(df, queries, k=5, n_planes=6, dim=16, n_tables=4)
        )
        assert four >= one
        assert four > 0.3  # four tables must find real structure

    def test_multi_table_pairs_scored_once(self, spark, emb):
        from patito_spark.operators.similarity import ann_lsh_topk

        df, _ = emb
        queries = df.filter("vec_id < 4")
        out = ann_lsh_topk(df, queries, k=50, n_planes=2, dim=16, n_tables=3)
        pairs = out.select("query_id", "neighbor_id")
        assert pairs.count() == pairs.distinct().count()

    def test_multi_table_index_rejected(self, spark, emb):
        import pytest as _pytest

        from patito_spark.operators.similarity import (
            ann_lsh_topk,
            build_lsh_index,
        )

        df, _ = emb
        idx = build_lsh_index(df, n_planes=4, dim=16)
        try:
            with _pytest.raises(ValueError, match="n_tables"):
                ann_lsh_topk(None, df.limit(1), n_tables=2, index=idx)
        finally:
            idx.unpersist()


def test_cluster_embeddings_separates_blobs(spark):
    from patito_spark.operators.similarity import (
        build_ivf_index, cluster_embeddings,
    )

    # two well-separated blobs -> 2 clusters must split them cleanly
    rows = [(i, [10.0 + (i % 5) * 0.01, 0.0]) for i in range(50)]
    rows += [(100 + i, [0.0, 10.0 + (i % 5) * 0.01]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cluster_embeddings(df, n_clusters=2)
    assert out.columns == ["vec_id", "cluster"]
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert len(got) == 100
    blob_a = {got[i] for i in range(50)}
    blob_b = {got[100 + i] for i in range(50)}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b
    # deterministic under the same seed
    again = {r["vec_id"]: r["cluster"]
             for r in cluster_embeddings(df, n_clusters=2).collect()}
    assert got == again
    # reusing a prebuilt index skips the fit and matches its cells
    idx = build_ivf_index(df, n_centroids=2, materialize=False)
    via_idx = {r["vec_id"]: r["cluster"]
               for r in cluster_embeddings(df, index=idx).collect()}
    cells = {r["neighbor_id"]: r["cell"] for r in idx.table.collect()}
    assert via_idx == cells
