"""Similarity search over embedding columns.

* :func:`cosine_topk` — exact brute-force baseline. The query matrix rides
  into each task as a broadcast closure (queries are small by definition);
  scoring is one Arrow-batched numpy pass over the corpus scan with
  *per-batch top-k pruning*, so the ranking shuffle moves at most
  ``k × |queries|`` rows per input batch — never the full
  ``|corpus| × |queries|`` score matrix.
* :func:`hyperplane_lsh_buckets` / :func:`ann_lsh_topk` — the scale path:
  sign-random-projection buckets shrink each query's candidate set to its
  own bucket before exact scoring. Hyperplanes are derived deterministically
  from a seed so results are reproducible.
* :func:`ann_ivf_topk` — IVF: a KMeans coarse quantizer (fit on a
  deterministic hash-sample, never the full corpus) routes each query to
  its ``n_probe`` nearest cells.

All scoring goes through :mod:`patito_spark.functions.vector_numpy` —
Arrow-batched numpy with sequential-fold accumulation (bit-exact vs the
DuckDB oracles); interpreted higher-order-function lambdas are banned from
these hot paths (~100-1000× slower than codegen/numpy per op).
"""

from __future__ import annotations

from typing import Iterator, Optional

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T

from patito_spark.functions.vector_numpy import (
    _as_matrix,
    cosine_score_pairs,
    seq_dot_matrix,
    seq_norm,
    sign_projection_buckets,
)

#: Hard cap on driver-side query materialization in :func:`cosine_topk`.
#: Queries ship as a broadcast variable (once per executor); beyond this
#: size use the LSH/IVF paths (or a broadcast bucket join) instead.
MAX_BROADCAST_QUERIES = 65_536


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: Optional[str] = None,
    query_vec_col: Optional[str] = None,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Returns ``query_id, neighbor_id, cosine, rank``; ties broken by
    neighbor id so results are deterministic across engines.

    Scale shape: the query set is collected once (bounded by
    :data:`MAX_BROADCAST_QUERIES`) and scored against the corpus in one
    Arrow-batched numpy pass. Each batch emits only its local top-k rows
    per query (same (cosine desc, id asc) order as the final ranking, so
    pruning is lossless); the global window then ranks
    ``≤ k × |queries| × n_batches`` rows, not ``|corpus| × |queries|``.
    """
    import numpy as np
    import pandas as pd

    query_id_col = query_id_col or id_col
    query_vec_col = query_vec_col or vec_col

    q_pdf = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("__qvec"),
        )
        .limit(MAX_BROADCAST_QUERIES + 1)
        .toPandas()
    )
    if len(q_pdf) > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"cosine_topk broadcasts the query set to every task; got more "
            f"than {MAX_BROADCAST_QUERIES} queries. Use ann_lsh_topk / "
            "ann_ivf_topk for large query sets."
        )
    q_ids = q_pdf["query_id"].to_numpy()
    q_mat = _as_matrix(q_pdf["__qvec"])
    q_norm = seq_norm(q_mat)
    nq = len(q_ids)
    # Broadcast variable, not a task closure: at the 65k cap the query
    # matrix is ~35 MB — as a closure it is re-serialized into every task
    # binary; as a broadcast it ships once per executor (torrent blocks).
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, q_mat, q_norm))

    out_schema = T.StructType(
        [
            T.StructField(
                "query_id", queries.schema[query_id_col].dataType, True
            ),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType, True),
            T.StructField("cosine", T.DoubleType(), True),
        ]
    )
    pruned = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )

    def score(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        b_ids, b_mat, b_norm = bc.value
        for pdf in batches:
            if len(pdf) == 0 or nq == 0:
                continue
            c_mat = _as_matrix(pdf["__cvec"])
            c_ids = pdf["neighbor_id"].to_numpy()
            # (nc, nq) cosine matrix; sequential-fold accumulation keeps it
            # bit-exact vs the expression/DuckDB formulation.
            cos = seq_dot_matrix(c_mat, b_mat) / (
                seq_norm(c_mat)[:, None] * b_norm[None, :]
            )
            take = min(k, len(c_ids))
            parts = []
            for j in range(nq):
                # Local top-k under the FINAL ordering (cosine desc, id asc)
                # — lossless pruning for the global top-k.
                order = np.lexsort((c_ids, -cos[:, j]))[:take]
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": np.repeat(b_ids[j], take),
                            "neighbor_id": c_ids[order],
                            "cosine": cos[order, j],
                        }
                    )
                )
            yield pd.concat(parts, ignore_index=True)

    scored = pruned.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _deterministic_hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Seeded pseudo-random unit hyperplanes (no RNG state, reproducible)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_planes, dim))
    planes /= np.linalg.norm(planes, axis=1, keepdims=True)
    return planes.tolist()


def hyperplane_lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Assign each vector to a sign-random-projection bucket.

    One numpy matmul per Arrow batch (map-only, no shuffle); all input
    columns pass through with a ``bucket`` column appended.
    """
    planes = _deterministic_hyperplanes(dim, n_planes, seed)
    return sign_projection_buckets(df, planes, vec_col=vec_col)


def _multi_table_buckets(
    df: DataFrame, planes, n_planes: int, n_tables: int, vec_col: str
) -> DataFrame:
    """(tbl, bucket) rows per input row: ONE Arrow pass computes every
    table's sign-projection bucket (stacked plane matrix), then a
    posexplode fans out — n_tables hash tables for one corpus scan."""
    import numpy as np
    import pandas as pd

    plane_mat = np.asarray(planes, dtype=np.float64)
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("__buckets", T.ArrayType(T.LongType()), False)]
    )

    def assign(batches):
        from patito_spark.functions.vector_numpy import (
            _as_matrix,
            seq_dot_matrix,
        )

        weights = 1 << np.arange(n_planes, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _as_matrix(pdf[vec_col])
            signs = seq_dot_matrix(mat, plane_mat) > 0
            buckets = [
                (signs[:, t * n_planes : (t + 1) * n_planes] @ weights)
                for t in range(n_tables)
            ]
            out = pdf.copy()
            out["__buckets"] = list(np.stack(buckets, axis=1))
            yield out

    exploded = df.mapInPandas(assign, schema=out_schema).select(
        *df.columns, F.posexplode("__buckets").alias("tbl", "bucket")
    )
    return exploded


def ann_lsh_topk(
    corpus: Optional[DataFrame],
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    multi_probe_bits: int = 0,
    n_tables: int = 1,
    index: Optional["LshIndex"] = None,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking *within* each query's bucket.

    The corpus-side bucket assignment is a map-only numpy projection; the
    join on ``bucket`` replaces the cross join, cutting scored candidates
    by ~2^n_planes. ``multi_probe_bits=1`` additionally probes every
    bucket at Hamming distance 1 from the query's (each hyperplane bit
    flipped once — the standard multi-probe recall lever: a near neighbor
    missed only because it straddles ONE hyperplane is recovered). The
    query side explodes to ``n_planes + 1`` probe buckets, so the join
    stays an equi-join — corpus-side pruning is preserved, candidate
    volume grows ~(n_planes+1)×. Only 0 and 1 are supported; deeper
    probing multiplies candidates combinatorially — use fewer planes or
    IVF instead.
    """
    if multi_probe_bits not in (0, 1):
        raise ValueError("multi_probe_bits must be 0 or 1")
    if n_tables > 1:
        # Multi-table LSH — the recall lever measured in
        # docs/ann_quality.md: L independent hash tables (disjoint plane
        # blocks of one stacked matrix, one Arrow pass per side) OR-ed
        # together. A true neighbor is missed only if it straddles a
        # hyperplane in EVERY table (miss^L), at L× candidate volume.
        if index is not None:
            raise ValueError(
                "n_tables applies to the direct path; build a wider "
                "single-table index (or multiple indexes) for "
                "build-once/query-many multi-table search"
            )
        planes = _deterministic_hyperplanes(dim, n_planes * n_tables, seed)
        c = _multi_table_buckets(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("__cvec"),
            ),
            planes, n_planes, n_tables, "__cvec",
        )
        q = _multi_table_buckets(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
            ),
            planes, n_planes, n_tables, "__qvec",
        )
        if multi_probe_bits == 1:
            probes = F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                    for i in range(n_planes)
                ],
            )
            q = q.withColumn("bucket", F.explode(probes))
        candidates = (
            c.join(F.broadcast(q), on=["tbl", "bucket"])
            # a pair can meet in several tables; score it once
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        scored = cosine_score_pairs(
            candidates,
            vec_a="__qvec",
            vec_b="__cvec",
            keep_cols=["query_id", "neighbor_id"],
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank")
        )
    if index is not None:
        # Prebuilt index: skip the corpus projection; the query side must
        # hash with the SAME hyperplanes the index was built with.
        planes = index.planes
        n_planes = index.n_planes
        c = index.table
    else:
        planes = _deterministic_hyperplanes(dim, n_planes, seed)
        c = sign_projection_buckets(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("__cvec"),
            ),
            planes,
            vec_col="__cvec",
        )
    q = sign_projection_buckets(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        ),
        planes,
        vec_col="__qvec",
    )
    if multi_probe_bits == 1:
        # A corpus vector lives in ONE bucket and the probe set is
        # distinct, so each (query, neighbor) pair still meets at most
        # once — no dedup pass needed.
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(n_planes)
            ],
        )
        q = q.withColumn("bucket", F.explode(probes))
    candidates = c.join(F.broadcast(q), on="bucket")
    scored = cosine_score_pairs(
        candidates,
        vec_a="__qvec",
        vec_b="__cvec",
        keep_cols=["query_id", "neighbor_id"],
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


class LshIndex:
    """Reusable LSH index: the bucketed corpus table + its hyperplanes.

    Build once per corpus with :func:`build_lsh_index`, query many times
    with :func:`ann_lsh_topk`; ``write``/``read`` round-trip the index
    through parquet so a 100 TB pipeline pays the bucket projection once,
    not once per query batch.
    """

    def __init__(self, table: DataFrame, planes, n_planes: int, seed: int):
        self.table = table  # (bucket, neighbor_id, __cvec)
        self.planes = planes
        self.n_planes = n_planes
        self.seed = seed

    def unpersist(self) -> "LshIndex":
        self.table.unpersist()
        return self

    def write(self, path: str, mode: str = "error") -> None:
        """Persist the index: assignments + hyperplanes as parquet."""
        spark = self.table.sparkSession
        self.table.write.mode(mode).parquet(f"{path}/assignments")
        meta = [
            (i, [float(x) for x in plane], self.seed)
            for i, plane in enumerate(self.planes)
        ]
        spark.createDataFrame(
            meta, "plane_id int, plane array<double>, seed int"
        ).coalesce(1).write.mode(mode).parquet(f"{path}/planes")

    @classmethod
    def read(cls, spark, path: str) -> "LshIndex":
        from patito_spark.sources.readers import read_inferred

        table = read_inferred(spark, "parquet", f"{path}/assignments")
        meta = (
            read_inferred(spark, "parquet", f"{path}/planes")
            .orderBy("plane_id")
            .collect()
        )
        planes = [row["plane"] for row in meta]
        seed = meta[0]["seed"] if meta else 42
        return cls(table, planes, n_planes=len(planes), seed=seed)


def auto_n_planes(
    n_vectors: int, target_bucket_size: int = 200,
    min_planes: int = 2, max_planes: int = 24,
) -> int:
    """Plane count that keeps the EXPECTED bucket size constant.

    Sign-projection LSH has 2^planes buckets; with a FIXED plane count
    the per-bucket pair verification grows QUADRATICALLY as the corpus
    grows (the round-6 scaling audit measured dedup_embedding_lsh's
    top-decade marginal at 3.7x per 10x data for exactly this reason).
    ceil(log2(n / target)) planes holds expected bucket size — and thus
    verification cost per vector — flat at any corpus size.
    """
    import math

    if n_vectors <= target_bucket_size:
        return min_planes
    return max(min_planes, min(max_planes,
               math.ceil(math.log2(n_vectors / target_bucket_size))))


def build_lsh_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: Optional[int] = 8,
    dim: int = 64,
    seed: int = 42,
    materialize: bool = True,
    target_bucket_size: int = 200,
) -> LshIndex:
    """Bucket the corpus once; returns a reusable :class:`LshIndex`.

    ``n_planes=None`` auto-sizes the plane count from the corpus count
    via :func:`auto_n_planes` (one count() job) so bucket sizes — and
    the quadratic in-bucket verification — stay constant as the corpus
    grows; pass an explicit count for reproducible bucketing (the
    oracle-replayed bench entries do).

    ``materialize=True`` persists the assignment table, so N query batches
    cost N bucket joins but ONE corpus scan + projection. The cache is a
    *session-lived artifact* owned by the index (release with
    ``index.unpersist()``), deliberately NOT in the
    ``patito_spark.release_caches()`` registry — a bulk release of
    operator-internal intermediates must not tear down an index the
    caller intends to query again.
    """
    if n_planes is None:
        n_planes = auto_n_planes(corpus.count(), target_bucket_size)
    planes = _deterministic_hyperplanes(dim, n_planes, seed)
    table = sign_projection_buckets(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
        ),
        planes,
        vec_col="__cvec",
    )
    if materialize:
        table = table.persist()
    return LshIndex(table, planes, n_planes=n_planes, seed=seed)


class IvfIndex:
    """Reusable IVF index: centroid matrix + the inverted-file table."""

    def __init__(
        self, table: DataFrame, centroids, assign_metric: str,
        n_rows: Optional[int] = None,
    ):
        self.table = table  # (cell, neighbor_id, __cvec)
        self.centroids = centroids  # (n_cells, dim) numpy
        self.assign_metric = assign_metric
        # Corpus row count when the build already paid for it (None for
        # centroids_df builds and disk reads) — lets IVFADC's PQ fit
        # skip a fresh full-corpus count().
        self.n_rows = n_rows

    def unpersist(self) -> "IvfIndex":
        self.table.unpersist()
        return self

    def write(self, path: str, mode: str = "error") -> None:
        spark = self.table.sparkSession
        self.table.write.mode(mode).parquet(f"{path}/assignments")
        meta = [
            (i, [float(x) for x in c], self.assign_metric)
            for i, c in enumerate(self.centroids)
        ]
        spark.createDataFrame(
            meta, "cell int, centroid array<double>, assign_metric string"
        ).coalesce(1).write.mode(mode).parquet(f"{path}/centroids")

    @classmethod
    def read(cls, spark, path: str) -> "IvfIndex":
        import numpy as np

        from patito_spark.sources.readers import read_inferred

        table = read_inferred(spark, "parquet", f"{path}/assignments")
        meta = (
            read_inferred(spark, "parquet", f"{path}/centroids")
            .orderBy("cell")
            .collect()
        )
        centroids = np.array([row["centroid"] for row in meta])
        metric = meta[0]["assign_metric"] if meta else "l2"
        return cls(table, centroids, assign_metric=metric)


def _cell_affinity(mat, centroids, cent_norm, assign_metric: str):
    """(n, n_cells) affinity matrix; HIGHER is closer for both metrics."""
    if assign_metric == "cosine":
        return seq_dot_matrix(mat, centroids) / (
            seq_norm(mat)[:, None] * cent_norm[None, :]
        )
    return -((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(-1)


def auto_n_centroids(n_vectors: int, min_cells: int = 16,
                     max_cells: int = 65_536) -> int:
    """IVF cell count scaling as ~sqrt(n) (the FAISS nlist rule of
    thumb): cells AND expected cell size both grow as sqrt(n), so probe
    cost and per-cell scoring stay balanced as the corpus grows — a
    fixed nlist turns cell scans linear in corpus size, the same failure
    mode auto_n_planes fixes for LSH."""
    import math

    return max(min_cells, min(max_cells, int(math.sqrt(max(n_vectors, 1)))))


def build_ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: Optional[int] = 16,
    seed: int = 42,
    max_train_vectors: int = 100_000,
    centroids_df: Optional[DataFrame] = None,
    assign_metric: str = "l2",
    materialize: bool = True,
) -> IvfIndex:
    """Fit the coarse quantizer and build the inverted file ONCE.

    Everything per-corpus lives here — the ``count()``, the hash-sampled
    KMeans fit (or the fixed ``centroids_df``), and the map-only cell
    assignment. :func:`ann_ivf_topk` then only probes + scores, so N query
    batches over one corpus pay these costs once. ``materialize=True``
    persists the inverted file — a session-lived artifact owned by the
    index (release via ``index.unpersist()``), deliberately NOT in the
    ``patito_spark.release_caches()`` registry; ``index.write(path)``
    makes it durable across sessions.
    """
    import numpy as np
    import pandas as pd

    if centroids_df is not None:
        c_pdf = (
            centroids_df.select(
                F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
            )
            .orderBy("__cid")
            .toPandas()
        )
        centroids = _as_matrix(c_pdf["__cvec"])
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        from patito_spark.operators.sampling import deterministic_sample

        train_src = corpus
        n_corpus = corpus.count()
        if n_centroids is None:
            # Auto-sizing keeps expected cell size ≥ 4 on tiny corpora
            # (min_cells=16 would otherwise give singleton cells — and a
            # within-cell operator like semantic_dedup would see no
            # pairs at all).
            n_centroids = min(auto_n_centroids(n_corpus), max(2, n_corpus // 4))
        # KMeans cannot fit more clusters than points — an explicit k
        # larger than a tiny corpus degrades gracefully.
        n_centroids = min(n_centroids, max(1, n_corpus))
        if n_centroids < 2:
            # Spark ML KMeans rejects k=1; a ≤1-cell corpus needs no fit
            # at all — any centroid assigns everything to cell 0 (the
            # first vector keeps centroid-similarity meaningful).
            first = corpus.select(vec_col).first()
            centroids = np.array(
                [list(first[0])] if first is not None else [[0.0]]
            )
            cent_norm = seq_norm(centroids)
            return _finish_ivf_build(
                corpus, id_col, vec_col, centroids, cent_norm,
                assign_metric, materialize, n_rows=n_corpus,
            )
        if n_corpus > max_train_vectors:
            # Hash-sample (reproducible under retries/AQE) — parquet count()
            # is metadata-cheap, and the fit then touches a bounded slice.
            train_src = deterministic_sample(
                corpus,
                fraction=max_train_vectors / n_corpus,
                key_col=id_col,
                seed=seed,
            )
        train = train_src.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias(
                "features"
            )
        )
        # Cache the (bounded) training slice: KMeans is a multi-pass fit,
        # and without this each of its ~10 iterations re-reads the sample
        # from the source scan.
        train = train.persist()
        try:
            model = KMeans(k=n_centroids, seed=seed, maxIter=10).fit(train)
        finally:
            train.unpersist()
        centroids = np.stack([np.asarray(c) for c in model.clusterCenters()])
    cent_norm = seq_norm(centroids)
    return _finish_ivf_build(
        corpus, id_col, vec_col, centroids, cent_norm, assign_metric,
        materialize,
        n_rows=n_corpus if centroids_df is None else None,
    )


def _finish_ivf_build(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids,
    cent_norm,
    assign_metric: str,
    materialize: bool,
    n_rows: Optional[int] = None,
) -> IvfIndex:
    """Shared tail of :func:`build_ivf_index`: the map-only cell
    assignment over fixed centroids."""
    import numpy as np
    import pandas as pd

    assign_schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType(), False),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType, False),
            T.StructField("__cvec", T.ArrayType(T.DoubleType(), False), False),
        ]
    )
    pruned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["vec"].to_numpy())
            scores = _cell_affinity(mat, centroids, cent_norm, assign_metric)
            # argmax returns the FIRST max — ties break to the lowest cell,
            # matching the oracle's (score desc, cell asc) row_number.
            yield pd.DataFrame(
                {
                    "cell": scores.argmax(1).astype("int32"),
                    "neighbor_id": pdf["neighbor_id"],
                    "__cvec": list(mat),
                }
            )

    inverted = pruned.mapInPandas(assign, schema=assign_schema)
    if materialize:
        inverted = inverted.persist()
    return IvfIndex(
        inverted, centroids, assign_metric=assign_metric, n_rows=n_rows
    )


def ann_ivf_topk(
    corpus: Optional[DataFrame],
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 3,
    seed: int = 42,
    max_train_vectors: int = 100_000,
    centroids_df: Optional[DataFrame] = None,
    assign_metric: str = "l2",
    index: Optional[IvfIndex] = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine search.

    1. A coarse quantizer learns/defines ``n_centroids`` cells. Default: a
       KMeans fit (Spark ML, seeded) on a *deterministic hash-sample*
       capped at ``max_train_vectors`` (a multi-pass ML fit over the full
       corpus would dominate at 100 TB; centroid quality saturates long
       before 100k training points for coarse quantizers). Alternatively
       pass ``centroids_df`` — a small DataFrame of (id, vector) rows used
       verbatim as centroids (cell = rank of the centroid id). Sampled
       corpus points are the standard "IVF-flat, random coarse quantizer"
       baseline, and a fixed quantizer makes the whole search replayable
       by a SQL oracle.
    2. Each corpus vector is assigned to its nearest cell — one vectorized
       numpy pass via ``mapInPandas`` (the inverted file).
       ``assign_metric``: ``"l2"`` (squared euclidean, KMeans-consistent)
       or ``"cosine"`` (sequential-fold dots, bit-reproducible by SQL
       engines; ties break to the lowest cell).
    3. Each query probes its ``n_probe`` nearest cells only; exact cosine
       ranking runs inside the probed cells.

    Scanned fraction ≈ n_probe/n_centroids of the corpus per query — the
    standard IVF recall/speed dial. Recall loss comes from true neighbors
    living in unprobed cells.

    Pass ``index`` (from :func:`build_ivf_index`) to skip the quantizer
    fit and corpus assignment entirely — the production shape for repeated
    query batches over one corpus.

    Probed candidates are scored with numpy over ``mapInPandas``
    (:func:`cosine_score_pairs`). An unrolled JVM cosine expression lost
    to it at sf0.1 and sf1 (docs/perf.md): the ~6·dim-node expression
    tree is too large for effective codegen.
    """
    import numpy as np
    import pandas as pd

    if index is None:
        index = build_ivf_index(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            n_centroids=n_centroids,
            seed=seed,
            max_train_vectors=max_train_vectors,
            centroids_df=centroids_df,
            assign_metric=assign_metric,
            materialize=False,
        )
    centroids = index.centroids
    assign_metric = index.assign_metric
    inverted = index.table
    cent_norm = seq_norm(centroids)

    def _cell_scores(mat):
        return _cell_affinity(mat, centroids, cent_norm, assign_metric)

    probe_schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType(), False),
            T.StructField("query_id", queries.schema[id_col].dataType, False),
            T.StructField("__qvec", T.ArrayType(T.DoubleType(), False), False),
        ]
    )
    q_pruned = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )

    def _probe_rows(q_ids, mat):
        # Stable sort on -score: (score desc, cell asc) — deterministic
        # and oracle-consistent under ties.
        probed = np.argsort(-_cell_scores(mat), axis=1, kind="stable")[
            :, :n_probe
        ]
        return {
            "cell": probed.reshape(-1).astype("int32"),
            "query_id": np.repeat(q_ids, n_probe),
            "__qvec": [v for v in mat for _ in range(n_probe)],
        }

    # The probe side always ends up broadcast, so a driver-sized query
    # set (the cosine_topk cap) is probed ON the driver — the same numpy
    # arithmetic, minus one Python-worker stage. Larger query sets keep
    # the distributed mapInPandas probe.
    q_head = q_pruned.limit(MAX_BROADCAST_QUERIES + 1).toPandas()
    if len(q_head) <= MAX_BROADCAST_QUERIES:
        if len(q_head) == 0:
            probes = q_pruned.sparkSession.createDataFrame([], probe_schema)
        else:
            rows = _probe_rows(
                q_head["query_id"].to_numpy(),
                np.stack(q_head["vec"].to_numpy()),
            )
            # plain-python rows: createDataFrame's verifier rejects numpy
            # scalars inside array fields
            data = [
                (int(c), q.item() if hasattr(q, "item") else q, list(map(float, v)))
                for c, q, v in zip(
                    rows["cell"], rows["query_id"], rows["__qvec"]
                )
            ]
            probes = q_pruned.sparkSession.createDataFrame(data, probe_schema)
    else:

        def probe(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                yield pd.DataFrame(
                    _probe_rows(
                        pdf["query_id"].to_numpy(),
                        np.stack(pdf["vec"].to_numpy()),
                    )
                )

        probes = q_pruned.mapInPandas(probe, schema=probe_schema)

    candidates = inverted.join(F.broadcast(probes), on="cell")
    scored = cosine_score_pairs(
        candidates,
        vec_a="__qvec",
        vec_b="__cvec",
        keep_cols=["query_id", "neighbor_id"],
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cluster_embeddings(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: Optional[int] = None,
    seed: int = 42,
    assign_metric: str = "l2",
    index: Optional[IvfIndex] = None,
) -> DataFrame:
    """K-means cluster labels over an embedding column.

    The corpus-analysis / diversity primitive: assign every vector to
    one of ``n_clusters`` k-means cells (``None`` auto-sizes like the
    IVF index — ~sqrt(n), bounded). Returns ``(id_col, cluster)``.
    Composes with the rest of the engine: ``groupBy("cluster")`` for
    topic profiles, join back and :func:`..sampling.cap_per_group` on
    ``cluster`` for a diversity-capped (cluster-balanced) corpus, or
    per-cluster ``mix_corpora`` weights.

    This is the IVF coarse quantizer re-exposed (hash-sampled driver
    KMeans fit, Arrow-batched map-only assignment, one count + one
    sample collect — the corpus itself never shuffles), so an existing
    :func:`build_ivf_index` artifact can be reused via ``index=`` and
    one fit serves ANN search, SemDeDup, and clustering.
    """
    idx = index if index is not None else build_ivf_index(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_clusters,
        seed=seed,
        assign_metric=assign_metric,
        materialize=False,
    )
    return idx.table.select(
        F.col("neighbor_id").alias(id_col),
        F.col("cell").alias("cluster"),
    )
