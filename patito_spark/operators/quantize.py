"""Embedding scalar quantization: float32/64 vectors -> int8 codes.

At 100 TB the embedding table is frequently the single largest asset a
pipeline carries (1B docs x 1024 dims x 4 bytes = 4 TB per copy), and
every ANN/near-dup/SemDeDup pass streams it. Per-dimension scalar
quantization (the int8 "SQ8" scheme every production vector store
ships — public technique, e.g. the FAISS ScalarQuantizer docs and the
original IVFADC line of work, Jégou et al. 2011) cuts that 4x against
a recall loss that is typically <1% at cosine top-k, and the codes
decode with two fused multiply-adds per element.

Spark-first shapes:

* **fit** = ONE codegen aggregate job: per-dimension min/max as
  ``2 x dim`` aggregate expressions over ``element_at`` (no explode —
  a posexplode by dimension would multiply the corpus by ``dim``
  before the shuffle; this never shuffles at all). Dims are bounded
  (embedding tables are 64-4096 wide), so the expression count stays
  compile-friendly.
* **encode/decode** = one map-only Arrow ``mapInPandas`` stage each,
  vectorized numpy with the (tiny) parameter vectors shipped in the
  closure — the measured-fastest lane for elementwise array math in
  this repo (interpreted ``transform`` lambdas lose 4-5x,
  docs/perf.md).
* **search** composes with the existing operators: decode is a plain
  DataFrame transform, so ``cosine_topk`` / ``build_ivf_index`` /
  ``semantic_dedup`` run unchanged over dequantized vectors
  (asymmetric search: full-precision queries against reconstructed
  corpus vectors). Recall vs exact is pinned in
  tests/test_operators_quantize.py.

No reference counterpart (patito has no embedding layer); public
design inputs only.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Optional

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

__all__ = [
    "fit_scalar_quantizer",
    "quantize_embeddings",
    "dequantize_embeddings",
    "fit_pq",
    "pq_encode",
    "pq_decode",
    "pq_adc_topk",
    "IvfAdcIndex",
    "build_ivfadc_index",
    "ann_ivfadc_topk",
]

# int8 code points used: -127..127 -> 254 quantization steps across the
# fitted span ((x-lo)/scale lands in [0, 254] exactly; span/255 would
# round the top of range to 255 and clip it a full step away).
_LEVELS = 254


def fit_scalar_quantizer(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: Optional[int] = None,
    max_exprs_per_job: int = 2048,
) -> dict:
    """Per-dimension (min, max) ranges as aggregate jobs over
    ``element_at`` expressions.

    Returns ``{"lo": [...], "hi": [...], "dim": d}`` — driver-side
    lists sized by the embedding width, not the corpus. ``dim`` is
    read from the first row when not given (one tiny extra job).
    Constant dimensions (hi == lo) get scale 0, so the encode formula
    ``floor((x - lo) * inv + 0.5) - 127`` emits code -127 for them
    (half-away-from-zero rounding — SQL-portable); decode
    (``lo + (code + 127) * scale``) still reproduces the constant
    exactly.

    One job covers up to ``max_exprs_per_job`` min/max expressions
    (1024 dims at the default); wider embeddings split into
    ``ceil(2*dim / max)`` sequential jobs — unbounded expression
    counts stall codegen/analysis long before they hit data limits,
    while a handful of full-scan jobs is the honest cost of fitting a
    4096-dim table.
    """
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            raise ValueError("fit_scalar_quantizer: empty DataFrame")
        dim = first["d"]
    v = F.col(vec_col)
    lo: list = []
    hi: list = []
    dims_per_job = max(1, max_exprs_per_job // 2)
    for start in range(0, dim, dims_per_job):
        stop = min(start + dims_per_job, dim)
        aggs = []
        for i in range(start, stop):
            e = F.element_at(v, i + 1)
            aggs.append(F.min(e).alias(f"lo{i}"))
            aggs.append(F.max(e).alias(f"hi{i}"))
        row = df.agg(*aggs).first()
        lo.extend(float(row[f"lo{i}"]) for i in range(start, stop))
        hi.extend(float(row[f"hi{i}"]) for i in range(start, stop))
    return {"lo": lo, "hi": hi, "dim": dim}


def _scales(params: dict):
    import numpy as np

    lo = np.asarray(params["lo"], dtype="float64")
    hi = np.asarray(params["hi"], dtype="float64")
    span = hi - lo
    # constant dims: span 0 -> scale 0 -> code -127, decode returns lo
    scale = np.where(span > 0, span / _LEVELS, 0.0)
    inv = np.where(scale > 0, 1.0 / np.where(scale > 0, scale, 1.0), 0.0)
    return lo, scale, inv


def quantize_embeddings(
    df: DataFrame,
    params: dict,
    vec_col: str = "embedding",
    code_col: str = "embedding_q",
    keep_vec: bool = False,
) -> DataFrame:
    """Encode ``vec_col`` to an ``array<tinyint>`` code column.

    Codes are ``floor((x - lo) / scale + 0.5) - 127`` clipped to
    [-127, 127]; the float column is DROPPED by default (the whole
    point is not carrying it). Null vectors encode to null. Map-only
    Arrow stage, ~dim bytes per row out.
    """
    import numpy as np
    import pandas as pd

    lo, scale, inv = _scales(params)

    out_fields = [
        f for f in df.schema.fields if keep_vec or f.name != vec_col
    ]
    schema = T.StructType(
        out_fields
        + [T.StructField(code_col, T.ArrayType(T.ByteType()), True)]
    )
    names = [f.name for f in out_fields]

    def encode(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            # Batched-matrix idiom (same as pq_encode): one (rows, dim)
            # ndarray op per Arrow batch, not one per row.
            mask = pdf[vec_col].notna()
            codes = [None] * len(pdf)
            if mask.any():
                mat = np.array(
                    [list(v) for v in pdf[vec_col][mask]], dtype="float64"
                )
                # floor(v + 0.5), not np.rint: the scaled value is
                # always >= 0, so this is round-half-AWAY-from-zero —
                # the rounding every SQL engine's round() implements.
                # rint's banker's rounding differed on exact .5
                # boundaries, which blocked bit-exact cross-engine
                # oracles (the driver hash-compares codes).
                c = np.clip(
                    np.floor((mat - lo) * inv + 0.5) - 127.0, -127, 127
                ).astype("int8")
                it = iter(c)
                codes = [next(it) if ok else None for ok in mask.to_numpy()]
            out = pdf[names].copy() if names else pd.DataFrame(index=pdf.index)
            out[code_col] = codes
            yield out

    return df.mapInPandas(encode, schema=schema)


def dequantize_embeddings(
    df: DataFrame,
    params: dict,
    code_col: str = "embedding_q",
    vec_col: str = "embedding",
    keep_codes: bool = False,
) -> DataFrame:
    """Reconstruct an ``array<double>`` vector column from int8 codes.

    ``x̂ = lo + (code + 127) * scale`` — the centroid of the code's
    bucket edge grid; max per-element error is ``scale/2``. Composes
    with every existing embedding operator (``cosine_topk``,
    ``build_ivf_index``, ``semantic_dedup``) for asymmetric search:
    full-precision queries score against reconstructed corpus vectors.
    """
    import numpy as np
    import pandas as pd

    lo, scale, _ = _scales(params)

    out_fields = [
        f for f in df.schema.fields if keep_codes or f.name != code_col
    ]
    schema = T.StructType(
        out_fields
        + [T.StructField(vec_col, T.ArrayType(T.DoubleType()), True)]
    )
    names = [f.name for f in out_fields]

    def decode(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            mask = pdf[code_col].notna()
            vecs = [None] * len(pdf)
            if mask.any():
                mat = np.array(
                    [list(c) for c in pdf[code_col][mask]], dtype="float64"
                )
                rec = lo + (mat + 127.0) * scale
                it = iter(rec)
                vecs = [next(it) if ok else None for ok in mask.to_numpy()]
            out = pdf[names].copy() if names else pd.DataFrame(index=pdf.index)
            out[vec_col] = vecs
            yield out

    return df.mapInPandas(decode, schema=schema)


# ---------------------------------------------------------------------- #
# Product quantization (PQ) + asymmetric-distance (ADC) search            #
# ---------------------------------------------------------------------- #


def _lloyd_kmeans(x, k: int, seed: int, iters: int = 15):
    """Deterministic driver-side Lloyd's k-means (numpy) for PQ
    codebooks: the training slice is BOUNDED (``max_train_vectors``
    rows), so the fit is a driver-local array job — the same recipe
    the public PQ implementations use (train on a sample, never the
    corpus). Empty clusters reseed to the farthest points."""
    import numpy as np

    rng = np.random.RandomState(seed)
    n = len(x)
    k = min(k, n)
    cents = x[rng.choice(n, size=k, replace=False)].astype("float64")
    for _ in range(iters):
        # (n, k) squared L2 via the expansion trick
        d = (
            (x * x).sum(axis=1)[:, None]
            - 2.0 * (x @ cents.T)
            + (cents * cents).sum(axis=1)[None, :]
        )
        assign = d.argmin(axis=1)
        new = np.empty_like(cents)
        far = d.min(axis=1).argsort()[::-1]
        spare = 0
        for j in range(k):
            members = x[assign == j]
            if len(members) == 0:
                new[j] = x[far[spare]]
                spare += 1
            else:
                new[j] = members.mean(axis=0)
        if np.allclose(new, cents):
            cents = new
            break
        cents = new
    return cents


def fit_pq(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 8,
    max_train_vectors: int = 100_000,
    seed: int = 42,
    id_col: str = "vec_id",
    n_rows: Optional[int] = None,
    dim: Optional[int] = None,
) -> dict:
    """Product-quantization codebooks (Jégou et al. 2011, public IVFADC
    line): the vector splits into ``m`` contiguous subspaces, each with
    its own ``2**nbits``-entry codebook — ``m`` bytes per vector at the
    default ``nbits=8`` (a 1024-dim float32 vector compresses 512x to
    8 bytes, vs SQ8's 4x).

    The fit trains on a deterministic hash-sample of at most
    ``max_train_vectors`` rows collected to the driver (bounded:
    100k x 1024 dims x 8 B = ~0.8 GB worst case; size down for wide
    vectors) and runs seeded Lloyd's per subspace. Returns
    ``{"codebooks": [m][k][dsub] lists, "m", "dsub", "dim", "nbits"}``.
    ``dim`` must be divisible by ``m``. Pass ``n_rows``/``dim`` when
    the caller already knows them (e.g. from an IVF build) to skip the
    count()/first() probe jobs.
    """
    import numpy as np

    from patito_spark.operators.sampling import deterministic_sample

    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            raise ValueError("fit_pq: empty DataFrame")
        dim = first["d"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    n = n_rows if n_rows is not None else df.count()
    src = df
    if n > max_train_vectors:
        src = deterministic_sample(
            df, fraction=max_train_vectors / n, key_col=id_col, seed=seed
        )
    train = np.array(
        [list(r[0]) for r in src.select(vec_col).collect()], dtype="float64"
    )
    k = 2 ** nbits
    books = []
    for s in range(m):
        sub = train[:, s * dsub : (s + 1) * dsub]
        books.append(_lloyd_kmeans(sub, k, seed + s).tolist())
    return {"codebooks": books, "m": m, "dsub": dsub, "dim": dim,
            "nbits": nbits}


def pq_encode(
    df: DataFrame,
    params: dict,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    keep_vec: bool = False,
) -> DataFrame:
    """Encode vectors to ``array<smallint>`` PQ codes (one codebook
    index per subspace; smallint because codebooks can exceed 127
    entries). Map-only Arrow stage; null vectors encode to null; the
    float column is dropped by default."""
    import numpy as np
    import pandas as pd

    books = [np.asarray(b, dtype="float64") for b in params["codebooks"]]
    m, dsub = params["m"], params["dsub"]

    out_fields = [f for f in df.schema.fields if keep_vec or f.name != vec_col]
    schema = T.StructType(
        out_fields + [T.StructField(code_col, T.ArrayType(T.ShortType()), True)]
    )
    names = [f.name for f in out_fields]

    def encode(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            mask = pdf[vec_col].notna()
            codes = [None] * len(pdf)
            if mask.any():
                mat = np.array(
                    [list(v) for v in pdf[vec_col][mask]], dtype="float64"
                )
                got = np.empty((len(mat), m), dtype="int16")
                for s in range(m):
                    sub = mat[:, s * dsub : (s + 1) * dsub]
                    cb = books[s]
                    d = (
                        (sub * sub).sum(axis=1)[:, None]
                        - 2.0 * (sub @ cb.T)
                        + (cb * cb).sum(axis=1)[None, :]
                    )
                    got[:, s] = d.argmin(axis=1)
                it = iter(got)
                codes = [
                    next(it) if ok else None for ok in mask.to_numpy()
                ]
            out = pdf[names].copy() if names else pd.DataFrame(index=pdf.index)
            out[code_col] = codes
            yield out

    return df.mapInPandas(encode, schema=schema)


def pq_decode(
    df: DataFrame,
    params: dict,
    code_col: str = "pq_code",
    vec_col: str = "embedding",
    keep_codes: bool = False,
) -> DataFrame:
    """Reconstruct vectors from PQ codes (concatenated codebook rows)."""
    import numpy as np
    import pandas as pd

    books = [np.asarray(b, dtype="float64") for b in params["codebooks"]]
    m = params["m"]

    out_fields = [f for f in df.schema.fields if keep_codes or f.name != code_col]
    schema = T.StructType(
        out_fields + [T.StructField(vec_col, T.ArrayType(T.DoubleType()), True)]
    )
    names = [f.name for f in out_fields]

    def decode(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            vecs = []
            for code in pdf[code_col]:
                if code is None:
                    vecs.append(None)
                    continue
                c = np.asarray(code, dtype="int64")
                vecs.append(
                    np.concatenate([books[s][c[s]] for s in range(m)])
                )
            out = pdf[names].copy() if names else pd.DataFrame(index=pdf.index)
            out[vec_col] = vecs
            yield out

    return df.mapInPandas(decode, schema=schema)


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    params: dict,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    query_id_col: Optional[str] = None,
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: full-precision queries against PQ
    codes WITHOUT reconstructing the corpus — the reason PQ exists.

    Per query and subspace, a ``2**nbits``-entry lookup table of
    ``<q_sub, codebook_entry>`` inner products is built once (tiny);
    each corpus code's approximate inner product is then ``m`` table
    lookups summed, and ranking uses the inner product of the
    normalized query with the reconstructed corpus direction —
    approximate cosine up to the reconstruction's norm. Returns
    ``query_id, neighbor_id, score, rank`` (score = approximate
    inner product with the UNIT query; ties break on neighbor id).

    Scale shape mirrors ``cosine_topk``: queries broadcast (bounded by
    its cap), one Arrow pass over the codes with per-batch local top-k
    pruning, then a global rank window over ``<= k x |queries| x
    n_batches`` rows. The corpus side reads ``m`` smallints per row —
    never the float vectors.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    from patito_spark.operators.similarity import MAX_BROADCAST_QUERIES

    query_id_col = query_id_col or id_col
    books = [np.asarray(b, dtype="float64") for b in params["codebooks"]]
    m, dsub = params["m"], params["dsub"]

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
            f"pq_adc_topk broadcasts the query set; got more than "
            f"{MAX_BROADCAST_QUERIES} queries."
        )
    q_ids = q_pdf["query_id"].to_numpy()
    q_mat = np.array([list(v) for v in q_pdf["__qvec"]], dtype="float64")
    norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_unit = np.divide(q_mat, norms, out=np.zeros_like(q_mat),
                       where=norms > 0)
    nq = len(q_ids)
    # (nq, m, 2**nbits) inner-product lookup tables
    luts = np.stack(
        [
            q_unit[:, s * dsub : (s + 1) * dsub] @ books[s].T
            for s in range(m)
        ],
        axis=1,
    )
    bc = codes.sparkSession.sparkContext.broadcast((q_ids, luts))

    out_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[query_id_col].dataType, True),
            T.StructField("neighbor_id", codes.schema[id_col].dataType, True),
            T.StructField("score", T.DoubleType(), True),
        ]
    )
    pruned = codes.select(
        F.col(id_col).alias("neighbor_id"), F.col(code_col).alias("__code")
    ).filter(F.col("__code").isNotNull())

    def score(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        b_ids, b_luts = bc.value
        for pdf in batches:
            if len(pdf) == 0 or nq == 0:
                continue
            c_ids = pdf["neighbor_id"].to_numpy()
            cmat = np.array([list(c) for c in pdf["__code"]], dtype="int64")
            # scores[i, j] = sum over subspaces of LUT[j, s, code[i, s]]
            scores = np.zeros((len(cmat), nq), dtype="float64")
            for s in range(m):
                scores += b_luts[:, s, :][:, cmat[:, s]].T
            take = min(k, len(c_ids))
            parts = []
            for j in range(nq):
                order = np.lexsort((c_ids, -scores[:, j]))[:take]
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": np.repeat(b_ids[j], take),
                            "neighbor_id": c_ids[order],
                            "score": scores[order, j],
                        }
                    )
                )
            yield pd.concat(parts, ignore_index=True)

    scored = pruned.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# ---------------------------------------------------------------------- #
# IVFADC: IVF routing over PQ residual codes (the billion-scale recipe)   #
# ---------------------------------------------------------------------- #


class IvfAdcIndex:
    """IVF cells + PQ codes of the residuals (vector - cell centroid):
    the composition the public billion-scale systems run (IVFADC,
    Jégou et al. 2011). The corpus side stores ``(cell, id, pq_code)``
    — m smallints per vector; the floats are gone."""

    def __init__(self, codes: DataFrame, centroids, pq_params: dict):
        self.codes = codes  # (cell, neighbor_id, pq_code)
        self.centroids = centroids  # (n_cells, dim) numpy
        self.pq = pq_params

    def unpersist(self) -> "IvfAdcIndex":
        self.codes.unpersist()
        return self

    def write(self, path: str, mode: str = "error") -> None:
        """Durable index: codes as parquet, centroids + codebooks as a
        tiny metadata table (the :class:`..similarity.IvfIndex`
        convention) — build once, query from any later session."""
        import json as _json

        spark = self.codes.sparkSession
        self.codes.write.mode(mode).parquet(f"{path}/codes")
        meta = [
            (
                i,
                [float(x) for x in c],
                _json.dumps(self.pq) if i == 0 else None,
            )
            for i, c in enumerate(self.centroids)
        ]
        spark.createDataFrame(
            meta, "cell int, centroid array<double>, pq_json string"
        ).coalesce(1).write.mode(mode).parquet(f"{path}/meta")

    @classmethod
    def read(cls, spark, path: str, materialize: bool = True) -> "IvfAdcIndex":
        import json as _json

        import numpy as np

        from patito_spark.sources.readers import read_inferred

        codes = read_inferred(spark, "parquet", f"{path}/codes")
        if materialize:
            codes = codes.persist()
        meta = (
            read_inferred(spark, "parquet", f"{path}/meta")
            .orderBy("cell")
            .collect()
        )
        centroids = np.array([row["centroid"] for row in meta])
        pq = _json.loads(meta[0]["pq_json"])
        return cls(codes, centroids, pq)


def build_ivfadc_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 8,
    n_centroids: Optional[int] = None,
    seed: int = 42,
    max_train_vectors: int = 100_000,
    ivf_index=None,
    materialize: bool = True,
) -> IvfAdcIndex:
    """Build the IVFADC index: coarse IVF cells (reusing
    :func:`..similarity.build_ivf_index` / a prebuilt index), then PQ
    codebooks fit on the RESIDUALS (vector minus its cell centroid —
    residuals concentrate near zero, so the same code budget spends on
    a much smaller support than raw-vector PQ) and one map-only encode
    pass. Storage: ``m`` smallints + a cell int per vector.
    """
    import numpy as np
    import pandas as pd

    from patito_spark.operators.similarity import build_ivf_index

    if ivf_index is None:
        ivf_index = build_ivf_index(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            n_centroids=n_centroids,
            seed=seed,
            max_train_vectors=max_train_vectors,
            materialize=False,
        )
    centroids = np.asarray(ivf_index.centroids, dtype="float64")
    cents_bc = corpus.sparkSession.sparkContext.broadcast(centroids)

    table = ivf_index.table  # (cell, neighbor_id, __cvec)
    res_schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType(), True),
            T.StructField(
                "neighbor_id", table.schema["neighbor_id"].dataType, True
            ),
            T.StructField("__rvec", T.ArrayType(T.DoubleType()), True),
        ]
    )

    def residuals(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cents = cents_bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array([list(v) for v in pdf["__cvec"]], dtype="float64")
            cells = pdf["cell"].to_numpy()
            r = mat - cents[cells]
            yield pd.DataFrame(
                {
                    "cell": cells,
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "__rvec": list(r),
                }
            )

    # The residual stream feeds THREE consumers (the PQ fit's sample
    # collect, optionally its count, and the encode pass). Unpersisted,
    # each one re-runs IVF assignment + residual compute over the whole
    # corpus — two avoidable full scans at index-build time. Persist it
    # for the build's lifetime; n/dim come from the IVF build when
    # available so the fit adds no probe jobs.
    res = table.mapInPandas(residuals, schema=res_schema).persist()
    try:
        pq = fit_pq(
            res,
            vec_col="__rvec",
            m=m,
            nbits=nbits,
            max_train_vectors=max_train_vectors,
            seed=seed,
            id_col="neighbor_id",
            n_rows=getattr(ivf_index, "n_rows", None),
            dim=int(centroids.shape[1]),
        )
        codes = pq_encode(res, pq, vec_col="__rvec", code_col="pq_code")
        if materialize:
            # Force the encode THROUGH the residual cache now, so the
            # build hands back a materialized index and the residual
            # cache can be dropped immediately.
            codes = codes.persist()
            codes.count()
    finally:
        # materialize=False keeps its zero-cache-footprint contract:
        # the lazy codes recompute residuals when first evaluated, but
        # the BUILD itself paid one scan (the fit's sample collect)
        # instead of three.
        res.unpersist()
    return IvfAdcIndex(codes, centroids, pq)


def ann_ivfadc_topk(
    index: IvfAdcIndex,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 3,
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC top-k: route each query to its ``n_probe`` nearest cells,
    ADC-score only those cells' codes.

    Score = ``q_unit · centroid[cell] + sum_s LUT[q, s, code_s]`` —
    the inner product of the UNIT query with the reconstructed vector
    (centroid + decoded residual), computed without reconstructing
    anything: one dot per (query, cell) plus ``m`` lookups per
    candidate. The codes scan carries a codegen ``cell IN (probed)``
    filter, so unprobed cells are never deserialized. Returns
    ``query_id, neighbor_id, score, rank``.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    from patito_spark.operators.similarity import MAX_BROADCAST_QUERIES

    books = [np.asarray(b, dtype="float64") for b in index.pq["codebooks"]]
    m, dsub = index.pq["m"], index.pq["dsub"]
    centroids = index.centroids
    n_cells = len(centroids)
    n_probe = min(n_probe, n_cells)

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
            f"ann_ivfadc_topk broadcasts the query set; got more than "
            f"{MAX_BROADCAST_QUERIES} queries."
        )
    q_ids = q_pdf["query_id"].to_numpy()
    q_mat = np.array([list(v) for v in q_pdf["__qvec"]], dtype="float64")
    norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_unit = np.divide(q_mat, norms, out=np.zeros_like(q_mat),
                       where=norms > 0)
    nq = len(q_ids)

    # Driver-side routing (queries are bounded): per-query probed cells
    # by centroid inner product of the unit query, plus the q·centroid
    # offset each probed cell contributes to the score.
    cell_ip = q_unit @ centroids.T  # (nq, n_cells)
    probed = np.argsort(-cell_ip, axis=1)[:, :n_probe]  # (nq, n_probe)
    luts = np.stack(
        [q_unit[:, s * dsub : (s + 1) * dsub] @ books[s].T for s in range(m)],
        axis=1,
    )  # (nq, m, k)
    # cell -> query indexes probing it (kernel-side candidate masks)
    cell_queries: dict = {}
    for j in range(nq):
        for c in probed[j]:
            cell_queries.setdefault(int(c), []).append(j)
    bc = index.codes.sparkSession.sparkContext.broadcast(
        (q_ids, luts, cell_ip, cell_queries)
    )

    out_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[query_id_col].dataType, True),
            T.StructField(
                "neighbor_id", index.codes.schema["neighbor_id"].dataType, True
            ),
            T.StructField("score", T.DoubleType(), True),
        ]
    )
    probed_cells = sorted({int(c) for row in probed for c in row})
    pruned = index.codes.filter(F.col("cell").isin(probed_cells))

    def score(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        b_ids, b_luts, b_cell_ip, b_cellq = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            parts = []
            for cell, grp in pdf.groupby("cell"):
                qjs = b_cellq.get(int(cell))
                if not qjs:
                    continue
                c_ids = grp["neighbor_id"].to_numpy()
                cmat = np.array(
                    [list(c) for c in grp["pq_code"]], dtype="int64"
                )
                take = min(k, len(c_ids))
                for j in qjs:
                    s = np.full(len(cmat), b_cell_ip[j, int(cell)])
                    for sub in range(m):
                        s = s + b_luts[j, sub, :][cmat[:, sub]]
                    order = np.lexsort((c_ids, -s))[:take]
                    parts.append(
                        pd.DataFrame(
                            {
                                "query_id": np.repeat(b_ids[j], take),
                                "neighbor_id": c_ids[order],
                                "score": s[order],
                            }
                        )
                    )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    scored = pruned.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )
