"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (100 TB / 1000 executors):

* exact: one shuffle on the dedup key (window row_number / hash agg with
  map-side combine).
* MinHash: one-permutation hashing over the portable gram hash — the
  per-document bin mins, band keys and verify arrays in one map-only
  Arrow stage, then a *band-bucket* grouping: candidates only meet
  inside (band, bucket) groups, never the O(n²) cross product.
  Oversized buckets are capped to bound skew.
* SimHash: per-document bit votes over the portable token hash in one
  map-only Arrow stage; candidate pairs by pigeonhole on combination
  keys (:func:`hamming_pairs`), verified with bit_count(xor).
* MinHash and SimHash signatures are defined by the portable hash
  (:mod:`patito_spark.functions.hashing`), so the SQL oracles and the
  streaming dedup replay them exactly; the hash-invariant gram builds
  (:func:`gram_hash_rows`) use the JVM's ``xxhash64``.
* embeddings: exact pair verify as expressions, or LSH buckets + BLAS
  verification via Arrow batches for the full-table path.
* Jaccard / cosine verification only ever runs on candidate pairs, in the
  SAME feature space that generated the candidates.
* No interpreted higher-order-function lambdas on any per-pair hot path
  (Spark evaluates them interpreted, ~1000× slower than codegen).
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from patito_spark.functions.cache import cache_scope, tracked_persist

# ---------------------------------------------------------------------- #
# Exact dedup                                                             #
# ---------------------------------------------------------------------- #


def exact_dedup_keys(
    df: DataFrame,
    subset: Sequence[str],
    id_col: str,
) -> DataFrame:
    """One hash-agg pass: for every distinct key, the minimum id to keep.

    Returns columns ``<subset...>, keep_id``.
    """
    return df.groupBy(*subset).agg(F.min(id_col).alias("keep_id"))


def dedup_exact(
    df: DataFrame,
    subset: Sequence[str],
    id_col: str,
) -> DataFrame:
    """Keep exactly one row (minimum ``id_col``) per distinct ``subset`` key.

    Window ``row_number`` + ``rn == 1``: one shuffle, no join-back, and
    the ``rn <= k`` shape makes Spark plan a PARTIAL WindowGroupLimit
    before the exchange (plan-asserted) — each map partition forwards at
    most one row per key after a slice-bounded local sort, so a hot key
    collapses map-side exactly like a mergeable min aggregate would
    (this is why this window is NOT the keep-first anti-pattern the
    round-10 fixes removed elsewhere: those filtered ``rn > 1`` or
    needed a full count, which WindowGroupLimit cannot serve).
    Deterministic keep-first semantics (unlike ``dropDuplicates`` which
    keeps an arbitrary row).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*subset).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__pt_rn", F.row_number().over(w))
        .filter(F.col("__pt_rn") == 1)
        .drop("__pt_rn")
    )


# ---------------------------------------------------------------------- #
# Shingling + MinHash LSH                                                 #
# ---------------------------------------------------------------------- #


def shingles(text: Union[str, Column], n: int = 3) -> Column:
    """Distinct word n-grams of a text column (pure expressions)."""
    text = F.col(text) if isinstance(text, str) else text
    toks = F.split(text, " ")
    k = F.size(toks) - F.lit(n - 1)
    return F.array_distinct(
        F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def gram_hash_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    positioned: bool = False,
    distinct: bool = False,
) -> DataFrame:
    """The one word-``n``-gram hash build: ``xxhash64`` of the grams of
    ``text_col`` split on single spaces, one row per gram.

    ``arrays_zip`` of ``n`` parallel token slices, exploded and hashed
    row-level: all codegen and zero exchanges (no per-document sort, no
    interpreted lambda). ``positioned`` picks the short-document rule:

    * ``False`` (shingles) — ``(__id, __h)``; a document shorter than
      ``n`` tokens hashes its whole text as one gram, ``k = max(size -
      n + 1, 1)`` (``concat_ws`` skips the padded zip struct's nulls).
    * ``True`` (spans) — ``(__id, __pos, __h)`` with ``__pos`` the
      gram's 0-based start token; a short document emits no rows,
      ``k = max(size - n + 1, 0)``.

    ``distinct`` (shingles only) drops repeated hashes per row with
    ``array_distinct`` over the row's hash array — zero exchanges, at the
    cost of one interpreted hash lambda per gram. Rows are documents:
    per-row distinct equals the ``(__id, __h)`` distinct only when ids
    are unique, which is the caller's contract.

    NULL text contributes no rows in every shape. Every caller's answer
    is the same under any 64-bit gram hash, up to collisions, so the
    hash is the JVM's codegen ``xxhash64``.
    """
    toks = F.split(F.col(text_col), " ")
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0 if positioned else 1))
    zipped = F.arrays_zip(
        *[F.slice(toks, F.lit(j + 1), k) for j in range(n)]
    )

    def gram_hash(g: Column) -> Column:
        return F.xxhash64(
            F.concat_ws(" ", *[g.getField(str(j)) for j in range(n)])
        )

    doc_id = F.col(id_col).alias("__id")
    if distinct:
        hashes = F.array_distinct(F.transform(zipped, gram_hash))
        return df.select(doc_id, F.explode(hashes).alias("__h"))
    if positioned:
        rows = df.select(doc_id, F.posexplode(zipped).alias("__pos", "__g"))
        keys = ["__id", "__pos"]
    else:
        rows = df.select(doc_id, F.explode(zipped).alias("__g"))
        keys = ["__id"]
    return rows.select(*keys, gram_hash(F.col("__g")).alias("__h"))


def shingle_hash_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(``__id``, ``__h``) rows: ``xxhash64`` of each word n-gram.

    The shingle shape of :func:`gram_hash_rows`: documents shorter than
    ``n`` tokens hash their whole text as one gram, NULL text emits no
    rows, and no shape of it exchanges. ``distinct`` (default) keeps each
    hash once per row; ``distinct=False`` keeps repeats and skips the
    per-row hash lambda — use it with a duplicate-insensitive consumer
    (a hash join followed by ``count_distinct``, a Bloom filter).

    The MinHash family does not use these rows: its signatures are
    defined by the portable hash (:func:`_minhash_doc_features_arrow`).
    """
    return gram_hash_rows(df, id_col, text_col, n, distinct=distinct)


def _minhash_doc_features_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    densify: bool,
) -> DataFrame:
    """Per-document MinHash features as ONE map-only Arrow stage — the
    one MinHash signature build.

    Emits one row per non-null-text document: ``__id``, ``__jtokens``
    (the sorted DISTINCT portable gram hashes, the verify arrays) and
    ``__bands`` (one ``{band, __key}`` struct per band, ``__key`` the
    band's ``'bin:min,bin:min'`` string; :func:`_band_buckets` applies
    ``xxhash64`` to it JVM-side). The signatures are defined by the
    portable hash, so the DuckDB oracles and
    :func:`patito_spark.streaming.dedup.streaming_dedup_lsh` replay
    them value for value.

    Every stage is doc-local: gram construction (the
    :func:`gram_hash_rows` shingle shape: ``k = max(len - n + 1, 1)``
    grams, short docs contribute their whole text), the md5 gram hash
    (memoized per distinct gram per batch via ``pd.factorize``),
    one-permutation hashing (Li/Owen/Zhang 2012: each gram is hashed
    once and routed to bin ``h mod num_hashes``, which keeps its min),
    and the band keys. No gram stream is exploded, persisted or
    aggregated; the only exchange left in the LSH pipeline is the
    (band, bucket) stage, which is inherent. Rows are documents:
    duplicate ids are the caller's contract.

    ``densify`` applies rotation densification (Shrivastava & Li 2014:
    an empty bin borrows the next occupied bin's value, circularly —
    ``np.searchsorted`` over the occupied bins). Without it a band
    whose key holds only one or two occupied bins has effective
    signature length below rows-per-band, and its false-positive rate
    degrades from j^r towards j: at sf0.1 -> sf1 (10x docs, a 31-word
    vocabulary) non-densified candidates grew 88x while true
    duplicates stayed flat; densified growth is ~linear
    (docs/scaling.md, "Densification").
    """
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    assert num_hashes % bands == 0
    r = num_hashes // bands
    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("__id", id_type),
            StructField("__jtokens", ArrayType(LongType())),
            StructField(
                "__bands",
                ArrayType(
                    StructType(
                        [
                            StructField("band", IntegerType()),
                            StructField("__key", StringType()),
                        ]
                    )
                ),
            ),
        ]
    )

    def kernel(batches):
        from itertools import chain

        import numpy as np
        import pandas as pd

        from patito_spark.functions.hashing import portable_hash64_np

        k = num_hashes
        for pdf in batches:
            texts = pdf[text_col]
            valid = texts.notna()
            ids = pdf[id_col][valid].to_numpy()
            if not len(ids):
                continue
            tok_lists = texts[valid].str.split(" ")
            lens = tok_lists.str.len().to_numpy(dtype=np.int64)
            flat = np.asarray(
                list(chain.from_iterable(tok_lists)), dtype=object
            )
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            doc_idx = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
            pos = np.arange(len(flat), dtype=np.int64) - starts[doc_idx]
            # shingle grams: docs with >= n tokens emit len-n+1 grams;
            # shorter docs emit their whole text as the single gram
            # (" ".join inverts the single-space split exactly).
            long_start = (lens[doc_idx] >= n) & (pos <= lens[doc_idx] - n)
            gidx = np.nonzero(long_start)[0]
            if len(gidx):
                grams = flat[gidx]
                for j in range(1, n):
                    grams = grams + " "
                    grams = grams + flat[gidx + j]
            else:
                grams = np.empty(0, dtype=object)
            gdoc = doc_idx[gidx]
            short = np.nonzero(lens < n)[0]
            if len(short):
                grams = np.concatenate(
                    [grams, texts[valid].to_numpy()[short]]
                )
                gdoc = np.concatenate([gdoc, short])
            codes, uniques = pd.factorize(grams)
            h = portable_hash64_np(np.asarray(uniques, dtype=object))[codes]
            # distinct (doc, hash) pairs — the verify arrays AND the
            # bin-min input in one sorted pass over (doc, code) keys
            n_u = max(len(uniques), 1)
            keys = gdoc * n_u + codes
            order = np.argsort(keys, kind="stable")
            sk = keys[order]
            first = np.ones(len(sk), dtype=bool)
            first[1:] = sk[1:] != sk[:-1]
            d = (sk[first] // n_u).astype(np.int64)
            dh = h[order][first]
            # per-doc sorted distinct hash lists (__jtokens): dh within
            # a doc is sorted because keys encode (doc, code) and we
            # need value-sorted — sort per doc by (doc, hash)
            o2 = np.lexsort((dh, d))
            d2, dh2 = d[o2], dh[o2]
            doc_bounds = np.nonzero(
                np.concatenate(([True], d2[1:] != d2[:-1]))
            )[0]
            jtok_lists = np.split(dh2, doc_bounds[1:])
            jdocs = d2[doc_bounds]
            # OPH bin mins over distinct hashes: group by (doc, bin),
            # min = first of each group under (doc, bin, hash) sort
            bins = dh2 % k
            o3 = np.lexsort((dh2, bins, d2))
            d3, b3, h3 = d2[o3], bins[o3], dh2[o3]
            gfirst = np.ones(len(d3), dtype=bool)
            gfirst[1:] = (d3[1:] != d3[:-1]) | (b3[1:] != b3[:-1])
            gd, gb, gm = d3[gfirst], b3[gfirst], h3[gfirst]
            gb_bounds = np.nonzero(
                np.concatenate(([True], gd[1:] != gd[:-1]))
            )[0]
            occ_bins = np.split(gb, gb_bounds[1:])
            occ_mins = np.split(gm, gb_bounds[1:])
            occ_docs = gd[gb_bounds]
            # assemble rows doc by doc (numpy per doc is <= k elements)
            rows_id, rows_jt, rows_bands = [], [], []
            jt_by_doc = dict(zip(jdocs.tolist(), jtok_lists))
            for di, ob, om in zip(occ_docs.tolist(), occ_bins, occ_mins):
                if densify:
                    idx = np.searchsorted(ob, np.arange(k), side="left")
                    idx[idx == len(ob)] = 0
                    # searchsorted gives first occupied bin >= i; when
                    # none remains above, wrap to the first occupied
                    # (the scan seed in the SQL spelling)
                    dense = om[idx % len(ob)]
                    pairs = [
                        f"{i}:{dense[i]}" for i in range(k)
                    ]
                    bands_list = [
                        {
                            "band": b,
                            "__key": ",".join(pairs[b * r: (b + 1) * r]),
                        }
                        for b in range(bands)
                    ]
                else:
                    bands_list = []
                    bb = (ob // r).astype(np.int64)
                    for b in np.unique(bb):
                        sel = bb == b
                        bands_list.append(
                            {
                                "band": int(b),
                                "__key": ",".join(
                                    f"{bi}:{mi}"
                                    for bi, mi in zip(ob[sel], om[sel])
                                ),
                            }
                        )
                rows_id.append(di)
                rows_jt.append(jt_by_doc[di])
                rows_bands.append(bands_list)
            yield pd.DataFrame(
                {
                    "__id": ids[np.asarray(rows_id, dtype=np.int64)],
                    "__jtokens": rows_jt,
                    "__bands": rows_bands,
                }
            )

    return df.select(id_col, text_col).mapInPandas(kernel, out_schema)


def _band_buckets(feats: DataFrame) -> DataFrame:
    """``(__id, band, bucket)`` rows of :func:`_minhash_doc_features_arrow`
    output: ``bucket`` is ``xxhash64`` of the band key."""
    return feats.select("__id", F.explode("__bands").alias("__b")).select(
        "__id",
        F.col("__b.band").alias("band"),
        F.xxhash64(F.col("__b.__key")).alias("bucket"),
    )


def _bucket_pairs(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    """``id_a < id_b`` pairs sharing a ``(band, bucket)`` of ``banded``.

    The skew guard runs BEFORE any member list materializes, fused into
    the bucket stage's ONE exchange: a window count over
    ``partitionBy(band, bucket)`` (WindowExec buffers spillably) keeps
    ``1 < n <= max_bucket_size``, and the ``collect_list`` aggregate
    rides the window's own partitioning and sort as a streaming
    sort-aggregate. A degenerate hot bucket (thousands of empty or
    identical docs sharing a band key) is dropped by a counter, never
    buffered whole in one aggregation buffer (``collect_list`` buffers
    cannot spill), and every collected array is bounded at
    ``max_bucket_size``. Pairs expand by a codegen double explode over
    the sorted arrays (``a < b`` keeps each in-bucket pair once); the
    cross-band distinct stays (a pair shares up to ``bands`` buckets).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket")
    guarded = (
        banded.withColumn("__n", F.count(F.lit(1)).over(w))
        .filter((F.col("__n") > 1) & (F.col("__n") <= max_bucket_size))
        .drop("__n")
    )
    buckets = guarded.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list("__id")).alias("__ids")
    )
    pairs = (
        buckets.select(F.explode("__ids").alias("id_a"), "__ids")
        .select("id_a", F.explode("__ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return pairs.distinct()


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_bucket_size: int = 1000,
    densify: bool = True,
) -> DataFrame:
    """Candidate duplicate pairs via banded MinHash LSH.

    Returns ``id_a < id_b`` pairs that share at least one band bucket of
    the portable-hash signatures (:func:`_minhash_doc_features_arrow`,
    which documents ``densify``). ``max_bucket_size`` drops degenerate
    buckets (e.g. empty documents) to bound the quadratic blow-up inside
    a single bucket at scale.
    """
    feats = _minhash_doc_features_arrow(
        df, id_col, text_col, n=shingle_size, num_hashes=num_hashes,
        bands=bands, densify=densify,
    )
    return _bucket_pairs(_band_buckets(feats), max_bucket_size)


def jaccard(tokens_a: Column, tokens_b: Column) -> Column:
    """Jaccard similarity of two (deduplicated) token-array columns."""
    intersection = F.size(F.array_intersect(tokens_a, tokens_b)).cast("double")
    union = (
        F.size(tokens_a) + F.size(tokens_b)
    ).cast("double") - intersection
    return F.when(union == 0, F.lit(1.0)).otherwise(intersection / union)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_size: int = 3,
    materialize_shingles: bool = True,
    broadcast_verify_max_docs: Optional[int] = 100_000,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int = 1000,
    densify: bool = True,
) -> DataFrame:
    """Verified duplicate pairs: LSH candidates filtered by true Jaccard.

    The per-document feature build — shingles, portable gram hashes,
    OPH bin mins, densification, band keys AND the verify gram-sets —
    is ONE map-only Arrow stage (:func:`_minhash_doc_features_arrow`),
    so the frame both branches read is one row per document, not the
    exploded gram stream. At sf1 it beat the codegen ``xxhash64`` build
    of the same pipeline, which it replaced (docs/perf.md).

    Verification uses the SAME shingle space as the signatures (so the
    threshold means what the MinHash collision probability estimates),
    and only touches candidate pairs — cost proportional to the number
    of near-duplicates, not n². It intersects the per-doc sorted
    bigint gram-hash arrays (cheap JVM set ops) instead of re-shingling
    text per pair.

    The feature rows feed BOTH branches, and Catalyst does not share
    common subplans — without materialization the Arrow stage runs
    once per branch. ``materialize_shingles`` (default) caches them
    (memory-and-disk); disable it to trade recomputation for zero cache
    footprint.

    The verify join attaches each doc's gram-hash array to its candidate
    pairs. While the per-doc array table has ≤
    ``broadcast_verify_max_docs`` rows (default 100k ≈ 50 MB of sorted
    bigint arrays) it is BROADCAST, so candidate pairs never shuffle —
    the whole verify is map-side against the (Spark-reused) broadcast.
    Above the bound it falls back to two shuffle joins, the only shape
    that scales to web-corpus doc counts; the probe count runs on the
    persisted array table. Pass ``broadcast_verify_max_docs=None`` to
    force the shuffle shape. ``num_hashes``, ``bands``,
    ``max_bucket_size`` and ``densify`` are
    :func:`minhash_lsh_candidates`'.
    """
    feats = _minhash_doc_features_arrow(
        df, id_col, text_col, n=shingle_size, num_hashes=num_hashes,
        bands=bands, densify=densify,
    )
    if materialize_shingles:
        feats = tracked_persist(feats)
    candidates = _bucket_pairs(_band_buckets(feats), max_bucket_size)
    toks = feats.select(F.col("__id").alias("__jid"), "__jtokens")
    if broadcast_verify_max_docs is not None:
        toks = tracked_persist(toks)
        if toks.count() <= broadcast_verify_max_docs:
            toks = F.broadcast(toks)
    verified = (
        candidates.join(
            toks.withColumnsRenamed({"__jid": "id_a", "__jtokens": "tokens_a"}),
            on="id_a",
        )
        .join(
            toks.withColumnsRenamed({"__jid": "id_b", "__jtokens": "tokens_b"}),
            on="id_b",
        )
        .withColumn("jaccard", jaccard(F.col("tokens_a"), F.col("tokens_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    ngram: int = 1,
    scope: Optional[Column] = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all in-scope pairs.

    This is the brute-force verifier (O(n²) in scope size): restrict with
    ``scope`` or use :func:`minhash_dedup_pairs` at scale.
    """
    base = df.filter(scope) if scope is not None else df
    feats = base.select(
        F.col(id_col),
        (
            F.array_distinct(F.split(F.col(text_col), " "))
            if ngram == 1
            else shingles(text_col, n=ngram)
        ).alias("__grams"),
    )
    feats = tracked_persist(feats)  # feeds both sides of the pair join
    a = feats.select(
        F.col(id_col).alias("id_a"), F.col("__grams").alias("grams_a")
    )
    b = feats.select(
        F.col(id_col).alias("id_b"), F.col("__grams").alias("grams_b")
    )
    return (
        a.join(b, on=[a.id_a < b.id_b])
        .withColumn("jaccard", jaccard(F.col("grams_a"), F.col("grams_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------- #
# SimHash                                                                 #
# ---------------------------------------------------------------------- #


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """SimHash signatures (``__id``, ``__sig`` bigint) over the portable
    token hash, as ONE map-only Arrow stage with ZERO exchanges.

    Each batch tokenizes in pandas, ``pd.factorize``s the tokens and
    runs md5 ONCE PER DISTINCT token in the batch, then computes the
    per-doc bit votes with C-speed numpy ``reduceat`` over the
    doc-contiguous token stream and packs the signature in-kernel.
    Per-batch memoization degrades gracefully with vocabulary size (a
    web-scale batch still amortizes natural-text token repetition); the
    stage stays map-only at any scale. At sf1 it beat the codegen
    ``xxhash64`` vote aggregate it replaced (docs/perf.md).

    Tokens are ``split(text, ' ')`` with empty strings kept (pandas
    ``str.split(' ')`` matches Java ``split(re, -1)`` for the
    single-space pattern); null text yields no row. Bit i votes
    positive iff ``2*ones_i > n`` (ties excluded). The portable hash is
    60 bits (:mod:`patito_spark.functions.hashing`), so only bits 0-59
    can ever set and the loop stops at ``min(bits, 60)``; a SQL oracle
    replays every signature.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [StructField("__id", id_type), StructField("__sig", LongType())]
    )
    n_bits = min(bits, 60)

    def kernel(batches):
        from itertools import chain

        import numpy as np
        import pandas as pd

        from patito_spark.functions.hashing import portable_hash64_np

        for pdf in batches:
            texts = pdf[text_col]
            valid = texts.notna()
            ids_v = pdf[id_col][valid]
            if not len(ids_v):
                continue
            tok_lists = texts[valid].str.split(" ")
            lens = tok_lists.str.len().to_numpy(dtype=np.int64)
            flat = np.asarray(
                list(chain.from_iterable(tok_lists)), dtype=object
            )
            codes, uniques = pd.factorize(flat)
            h = portable_hash64_np(
                np.asarray(uniques, dtype=object)
            ).view(np.uint64)[codes]
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sig = np.zeros(len(lens), dtype=np.uint64)
            for b in range(n_bits):
                ones = np.add.reduceat(
                    ((h >> np.uint64(b)) & np.uint64(1)).astype(np.int64),
                    starts,
                )
                sig |= (ones * 2 > lens).astype(np.uint64) << np.uint64(b)
            yield pd.DataFrame(
                {"__id": ids_v.to_numpy(), "__sig": sig.astype(np.int64)}
            )

    return df.select(id_col, text_col).mapInPandas(kernel, out_schema)


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: Union[int, str] = "auto",
    max_bucket_size: Optional[int] = 100_000,
    expand: str = "full",
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance.

    Candidates meet in :func:`hamming_pairs`' combination-keyed
    pigeonhole buckets (never a cross join) and verify with
    ``bit_count(a XOR b)``. ``chunks="auto"`` (default) sizes the block
    count from the corpus's distinct-signature count — Manku et al.'s
    (WWW 2007) fixed ``chunks=8`` is the multi-billion-document
    configuration; pass it explicitly at that scale. NOTE auto mode is
    EAGER: it runs one count job on the (persisted) signature table at
    plan-build time; callers composing plans speculatively should pass
    an int ``chunks`` to stay fully lazy (the quantile_bins
    convention).

    ``max_bucket_size`` semantics (since the canonical-combination
    dedup): a pair survives only if its CANONICAL combination's bucket
    passes the guard — a pair whose canonical bucket is pruned is
    dropped even when the pair co-occurs in another surviving bucket.
    Recall is sacrificed only inside pathological (guard-dropped)
    buckets, e.g. massively templated corpora; raise or disable the
    guard (``None``) if those pairs matter.
    """
    sigs = simhash_signatures(df, id_col=id_col, text_col=text_col)
    # The signature table feeds the distinct-signature collapse AND the
    # pair expansion; Catalyst would otherwise run the Arrow stage
    # twice.
    sigs = tracked_persist(sigs)
    return hamming_pairs(
        sigs, max_hamming=max_hamming, chunks=chunks,
        max_bucket_size=max_bucket_size, expand=expand,
    )


def auto_chunk_count(n_sigs: int, max_hamming: int) -> int:
    """Pick the pigeonhole block count for ``n_sigs`` distinct
    signatures: the smallest ``b > max_hamming`` whose combination keys
    are wide enough that the expected bucket population stays sparse
    (``key_bits >= log2(n) + 4``, i.e. <= 1/16 signatures per bucket),
    capped at 256 combination tables.

    Manku's fixed ``chunks=8`` (WWW 2007) is sized for multi-billion-row
    crawls; at smaller corpora its C(8, 8-h) tables pay 4-14x more
    exploded rows than the recall theorem needs (any pair within ``h``
    differing bits agrees on EXACTLY some ``b - h`` of ``b`` blocks, for
    ANY ``b > h``). Auto-sizing keeps the exchange linear in what the
    corpus actually requires; past ~2^32 distinct signatures the combo
    cap binds and callers should tune ``chunks`` explicitly."""
    import math

    need = max(1, (max(n_sigs, 2) - 1).bit_length()) + 4
    best = max_hamming + 1
    for b in range(max_hamming + 1, 17):
        agree = b - max_hamming
        if math.comb(b, agree) > 256:
            break
        best = b
        if agree * (64 // b) >= need:
            return b
    return best


def hamming_combination_masks(chunks: int, max_hamming: int) -> list:
    """The Manku-2007 combination masks: one signed-64 mask per way of
    choosing ``chunks - max_hamming`` of the ``chunks`` equal bit
    slices (all chunks when ``max_hamming >= chunks``, which degrades
    recall to single-chunk agreement — callers should keep
    ``max_hamming < chunks``)."""
    from itertools import combinations

    bits_per_chunk = 64 // chunks
    agree = max(1, chunks - max_hamming)
    masks = []
    for combo in combinations(range(chunks), agree):
        m = 0
        for c in combo:
            m |= ((1 << bits_per_chunk) - 1) << (c * bits_per_chunk)
        masks.append(m - (1 << 64) if m >= (1 << 63) else m)
    if len(masks) > 1024:
        raise ValueError(
            f"hamming pigeonhole would need C({chunks}, {agree}) = "
            f"{len(masks)} combination tables; lower `chunks` or "
            "`max_hamming` (e.g. chunks=8 keeps the table count <= 70)"
        )
    return masks


def hamming_pairs(
    sigs: DataFrame,
    id_col: str = "__id",
    sig_col: str = "__sig",
    max_hamming: int = 3,
    chunks: Union[int, str] = "auto",
    max_bucket_size: Optional[int] = 100_000,
    expand: str = "full",
    broadcast_members_max: Optional[int] = 1_000_000,
) -> DataFrame:
    """Pairs of 64-bit signatures within ``max_hamming`` differing bits.

    The pigeonhole self-join shared by SimHash text dedup and pHash
    image dedup (any 64-bit fingerprint family), built to survive
    web-scale corpora (Manku et al., WWW 2007 — the construction behind
    Google's simhash crawl dedup):

    1. **Distinct-signature collapse.** The join runs over DISTINCT
       signatures only; identical signatures (the degenerate hot case —
       empty docs, blank images) collapse to ONE row before any join
       and pair up in a separate linear exact-duplicate pass.
    2. **Combination keys.** A pair within ``h`` differing bits differs
       in at most ``h`` of the ``c = chunks`` equal slices, so it
       agrees EXACTLY on some combination of ``c - h`` slices. Each of
       the ``C(c, c-h)`` combinations becomes one bucket key — the
       signature ANDed with that combination's bit mask — of width
       ``(c-h) * 64/c`` bits (the old single-chunk scheme keyed on
       64/c bits, quadratic at 1B rows). Pairs expand WITHIN each
       bucket (one aggregate + double explode — no self-join). Recall
       is exact for ``max_hamming < chunks`` at ANY block count.
       ``chunks="auto"`` (default) sizes the block count from the
       DISTINCT-signature count (:func:`auto_chunk_count`) — Manku's
       fixed 8 is the multi-billion-row setting and pays 4-14x more
       exploded rows than smaller corpora need (sf1 measured: 70
       combos -> 15, pair machinery 3.4 s -> 1.4 s, identical output).
       Auto mode runs ONE eager count job on ``sigs`` at plan-build
       time (member count upper-bounds the distinct-signature count —
       oversizing only widens keys, never loses recall); pass an int
       to keep plan construction fully lazy.
    3. **Bucket pre-prune.** A cheap map-side-combined count per
       (combination, key) keeps only ``1 < n <= max_bucket_size``
       buckets (same backstop as the MinHash LSH path): a pathological
       key collision among distinct signatures is dropped by a counter
       instead of detonating the join. ``None`` disables the guard.
    4. **Canonical-combination dedup.** Each qualifying pair is kept
       only in the combination holding its smallest agreeing chunk
       indices — a codegen bit predicate on ``sig_a ^ sig_b`` — so the
       ~C(|agreeing|, agree)-fold redundant candidate stream never
       shuffles into a distinct. Under the guard this means a pair
       needs its canonical bucket (not any bucket) to survive.
    5. **Broadcast expansion joins (auto mode only).** The near-pair
       edges rejoin the member table twice to recover doc ids; when the
       member count (known from the same eager step) is at most
       ``broadcast_members_max`` (default 1M rows ~ 16 MB), the member
       side is broadcast so the edge stream never shuffles. Above the
       bound — web-corpus doc counts — the joins shuffle on the
       signature, the only shape that scales. With explicit ``chunks``
       no count runs and AQE decides.

    ``expand`` controls the output contract:

    - ``"full"`` (default): every qualifying pair — ``id_a, id_b,
      hamming`` with ``id_a < id_b``. Within an exact-duplicate group
      of g members this is g*(g-1)/2 rows: inherent to the contract,
      not to the join (candidates stay sub-quadratic).
    - ``"star"``: a linear-size edge set with the SAME connected
      components — each member links to its signature group's min-id
      representative (hamming 0), and near signatures link
      representative-to-representative. Use this at corpus scale when
      the pairs feed :func:`..graph.connected_components`.

    Callers persist ``sigs`` if computing it is expensive (the collapse
    and the expansion both read it).
    """
    if expand not in ("full", "star"):
        raise ValueError(f"expand must be 'full' or 'star', got {expand!r}")
    if isinstance(chunks, str) and chunks != "auto":
        raise ValueError(f"chunks must be an int or 'auto', got {chunks!r}")

    members = sigs.select(
        F.col(id_col).alias("__mid"), F.col(sig_col).alias("__msig")
    )
    usigs = tracked_persist(members.select(F.col("__msig").alias("__usig")).distinct())
    broadcast_members = False
    if chunks == "auto":
        # The eager step of auto mode: ONE count job on `sigs` (cheap
        # when the caller persisted it — the documented contract;
        # simhash_dedup_pairs/image_dedup_pairs do). The member count
        # upper-bounds the distinct-signature count, so sizing from it
        # only ever widens keys (never loses recall); counting the
        # distinct table itself would cost an extra eager
        # exchange+persist pass (~0.7 s at sf1 vs 0.15 s for this
        # count). Corpora where members vastly outnumber distinct
        # signatures should pass `chunks` explicitly.
        n_members = sigs.count()
        chunks = auto_chunk_count(n_members, max_hamming)
        if broadcast_members_max is not None:
            broadcast_members = n_members <= broadcast_members_max
    masks = hamming_combination_masks(chunks, max_hamming)

    def keyed(sig_alias: str):
        # Map-only over the persisted distinct signatures: one AND per
        # combination, exploded to (combo_id, key) rows.
        return usigs.select(
            F.col("__usig").alias(sig_alias),
            F.posexplode(
                F.array(
                    *[
                        F.col("__usig").bitwiseAND(F.lit(m).cast("long"))
                        for m in masks
                    ]
                )
            ).alias("__combo", "__key"),
        )

    left = keyed("sig_a")
    if max_bucket_size is not None:
        # Skew guard fused into the pair stage's ONE exchange: the
        # bucket count is a window over partitionBy(__combo, __key) —
        # the exact partitioning the bucket aggregate below needs — so
        # the guard adds ZERO exchanges (the earlier count+semi-join
        # shape cost two more). Only 1 < n <= max_bucket_size buckets
        # survive; a pathological key collision among distinct
        # signatures is dropped by a counter, never materialized (the
        # giant group sorts SPILLABLY in one partition — WindowExec's
        # external row buffer — and dies at the filter). Crucially the
        # guard also BOUNDS the bucket arrays collected below at
        # max_bucket_size entries each, keeping the pair expansion
        # memory-safe under adversarial keys.
        from pyspark.sql import Window

        w = Window.partitionBy("__combo", "__key")
        left = (
            left.withColumn("__n", F.count(F.lit(1)).over(w))
            .filter((F.col("__n") > 1) & (F.col("__n") <= max_bucket_size))
            .drop("__n")
        )
    # Canonical-combination dedup (Manku §4's duplicate-suppression
    # idea): a pair within max_hamming agrees on >= (chunks - h)
    # chunks, so the pigeonhole join finds it once per agreeing
    # combination — ~C(|S|, agree) times (13x average on templated
    # corpora). Instead of shuffling that redundant stream into a
    # .distinct(), keep the pair ONLY in its canonical combination:
    # the one holding its `agree` SMALLEST agreeing chunk indices.
    # Combination C (sorted, max element cm) is canonical iff every
    # agreeing chunk below cm is in C — i.e. every chunk j < cm with
    # j not in C DISAGREES. That is a per-combo bit predicate on
    # sig_a ^ sig_b (codegen CASE over __combo), and each qualifying
    # pair survives in exactly one combo — the distinct exchange is
    # gone. Under the bucket guard, a pair now needs its CANONICAL
    # combination's bucket to survive (before: any combination's);
    # both variants sacrifice recall only inside pathological buckets,
    # which is the guard's documented contract.
    from itertools import combinations as _combinations

    bpc = 64 // chunks
    chunk_mask = (1 << bpc) - 1
    agree = max(1, chunks - max_hamming)
    branches = []
    for ci, combo in enumerate(_combinations(range(chunks), agree)):
        must_disagree = [j for j in range(combo[-1]) if j not in combo]
        if must_disagree:
            cond = " AND ".join(
                f"(((sig_a ^ sig_b) >> {j * bpc}) & {chunk_mask}L) != 0L"
                for j in must_disagree
            )
        else:
            cond = "true"
        branches.append(f"WHEN {ci} THEN ({cond})")
    canonical = F.expr(
        "CASE __combo " + " ".join(branches) + " ELSE false END"
    )
    # Pair expansion WITHOUT a self-join: aggregate each guarded bucket
    # to one array (a streaming sort-aggregate over the window's own
    # partitioning+sort — zero extra exchanges) and double-explode the
    # within-bucket pairs. Measured ~35% faster at sf1 than both the
    # sort-merge self-join (exchange reuse) and AQE's broadcast
    # variant, which each re-pay an exchange/sort or a full-stream
    # broadcast for the probe side. With the guard on, every collected
    # array is bounded at max_bucket_size entries; with the guard OFF
    # (max_bucket_size=None) a pathological bucket materializes as ONE
    # in-memory array — keep the guard on at corpus scale.
    buckets = left.groupBy("__combo", "__key").agg(
        F.collect_list("sig_a").alias("__bucket")
    )
    if max_bucket_size is None:
        buckets = buckets.filter(F.size("__bucket") > 1)
    near_sigs = (
        buckets.select(
            "__combo", F.explode("__bucket").alias("sig_a"), "__bucket"
        )
        .select("__combo", "sig_a", F.explode("__bucket").alias("sig_b"))
        .filter(F.col("sig_a") < F.col("sig_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .filter(canonical)
        .select("sig_a", "sig_b", "hamming")
    )

    if expand == "full":
        # Exact-duplicate pairs (hamming 0) ride the SAME two expansion
        # joins as the near pairs, as diagonal (sig, sig) edges — one
        # fused pipeline instead of a separate members self-join (the
        # extra join was pure stage tax: exact groups are output-sized
        # either way). A diagonal edge expands to BOTH orders of every
        # member pair plus the self-pairs, so those rows keep only the
        # strictly-ordered half; off-diagonal pairs keep the
        # least/greatest ordering (each appears exactly once).
        edges = near_sigs.unionByName(
            usigs.select(
                F.col("__usig").alias("sig_a"),
                F.col("__usig").alias("sig_b"),
                F.lit(0).alias("hamming"),
            )
        )
        if broadcast_members:
            members = F.broadcast(members)
        out = (
            edges.join(
                members.select(
                    F.col("__mid").alias("__ida"),
                    F.col("__msig").alias("sig_a"),
                ),
                on="sig_a",
            )
            .join(
                members.select(
                    F.col("__mid").alias("__idb"),
                    F.col("__msig").alias("sig_b"),
                ),
                on="sig_b",
            )
            .filter(
                (F.col("sig_a") != F.col("sig_b"))
                | (F.col("__ida") < F.col("__idb"))
            )
            .select(
                F.least("__ida", "__idb").alias("id_a"),
                F.greatest("__ida", "__idb").alias("id_b"),
                "hamming",
            )
        )
    else:
        # Star edges: same connected components, linear output. reps =
        # min id per signature; members link to their rep, near
        # signatures link rep-to-rep.
        groups = tracked_persist(
            members.groupBy("__msig").agg(F.min("__mid").alias("__rep"))
        )
        if broadcast_members:
            # groups has one row per distinct signature <= member count,
            # so the same gate bounds it
            groups = F.broadcast(groups)
        exact = (
            members.join(groups, on="__msig")
            .filter(F.col("__mid") != F.col("__rep"))
            .select(
                F.col("__rep").alias("id_a"),
                F.col("__mid").alias("id_b"),
                F.lit(0).alias("hamming"),
            )
        )
        near = (
            near_sigs.join(
                groups.select(
                    F.col("__msig").alias("sig_a"),
                    F.col("__rep").alias("__ida"),
                ),
                on="sig_a",
            )
            .join(
                groups.select(
                    F.col("__msig").alias("sig_b"),
                    F.col("__rep").alias("__idb"),
                ),
                on="sig_b",
            )
            .select(
                F.least("__ida", "__idb").alias("id_a"),
                F.greatest("__ida", "__idb").alias("id_b"),
                "hamming",
            )
        )
        out = exact.unionByName(near)
    return out.withColumn("hamming", F.col("hamming").cast("int"))


# ---------------------------------------------------------------------- #
# Embedding near-dup                                                      #
# ---------------------------------------------------------------------- #


def embedding_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    scope: Optional[Column] = None,
    n_blocks: int = 8,
) -> DataFrame:
    """Pairs of near-identical embeddings by cosine ≥ threshold.

    Exact all-pairs within ``scope``, executed as a *blocked* cross
    product: rows are hashed into ``n_blocks`` blocks, each row is routed
    to the ``n_blocks`` block-pairs it participates in (one explode — no
    pair join), and each (block_a, block_b) task scores its pair of blocks
    as one numpy matrix op. Data movement is ``O(n × n_blocks)`` vector
    rows instead of ``O(n²)`` materialized vector pairs; compute is still
    exact O(n²) flops — at 100 TB bucket first with
    :func:`patito_spark.operators.similarity.hyperplane_lsh_buckets` and
    run this verifier per bucket.

    Accumulation is sequential-fold over dimensions (bit-exact vs the
    DuckDB ``list_dot_product`` oracle); products and norm multiplies are
    commutative so symmetric pairs score identically.
    """
    import numpy as np
    import pandas as pd

    from patito_spark.functions.vector_numpy import (
        _as_matrix,
        seq_dot_matrix,
        seq_norm,
    )

    base = df.filter(scope) if scope is not None else df
    feats = base.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("__blk"),
    )
    # Route each row to every block-pair it belongs to: row in block b
    # participates in pairs (min(b,i), max(b,i)) for all i — n_blocks
    # groups per row, built with one explode (no join).
    routed = feats.withColumn(
        "__bp",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_blocks - 1)),
                lambda i: F.struct(
                    F.least(F.col("__blk"), i).alias("pa"),
                    F.greatest(F.col("__blk"), i).alias("pb"),
                ),
            )
        ),
    ).select("id", "vec", "__blk", F.col("__bp.pa").alias("pa"), F.col("__bp.pb").alias("pb"))

    out_schema = T.StructType(
        [
            T.StructField("id_a", base.schema[id_col].dataType, True),
            T.StructField("id_b", base.schema[id_col].dataType, True),
            T.StructField("cosine", T.DoubleType(), True),
        ]
    )

    def score_blocks(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        blk_a, blk_b = key
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        rows_a = pdf[pdf["__blk"] == blk_a]
        mat_a = _as_matrix(rows_a["vec"]) if len(rows_a) else None
        if mat_a is None:
            return empty
        ids_a = rows_a["id"].to_numpy()
        if blk_a == blk_b:
            # Triangular within one block.
            if len(rows_a) < 2:
                return empty
            cos = seq_dot_matrix(mat_a, mat_a) / (
                seq_norm(mat_a)[:, None] * seq_norm(mat_a)[None, :]
            )
            ia, ib = np.triu_indices(len(ids_a), k=1)
            mask = cos[ia, ib] >= threshold
            ia, ib = ia[mask], ib[mask]
            # Triangular indices order by *row position*, not id value —
            # normalize so id_a < id_b holds regardless of pandas row order.
            xa, xb = ids_a[ia], ids_a[ib]
            lo, hi = np.minimum(xa, xb), np.maximum(xa, xb)
        else:
            rows_b = pdf[pdf["__blk"] == blk_b]
            if len(rows_b) == 0:
                return empty
            mat_b = _as_matrix(rows_b["vec"])
            ids_b = rows_b["id"].to_numpy()
            cos = seq_dot_matrix(mat_a, mat_b) / (
                seq_norm(mat_a)[:, None] * seq_norm(mat_b)[None, :]
            )
            ia, ib = np.nonzero(cos >= threshold)
            xa, xb = ids_a[ia], ids_b[ib]
            lo, hi = np.minimum(xa, xb), np.maximum(xa, xb)
        out = pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos[ia, ib]})
        return out.sort_values(["id_a", "id_b"])

    return routed.groupBy("pa", "pb").applyInPandas(score_blocks, out_schema)


def embedding_dedup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: Optional[int] = None,
    dim: int = 64,
    seed: int = 42,
    n_tables: Union[int, str] = 1,
    index=None,
    target_bucket_size: int = 200,
    n_vectors: Optional[int] = None,
) -> DataFrame:
    """Scalable embedding near-dup: LSH buckets + vectorized verification.

    The 100 TB path for :func:`embedding_dedup_pairs`:

    1. ``mapInPandas`` assigns each vector a sign-random-projection bucket —
       one numpy pass per Arrow batch (per-row expression evaluation of
       64-dim dots is Spark-interpreted and ~1000× slower).
    2. ``applyInPandas`` per bucket computes the exact pairwise cosine
       matrix and emits only pairs ≥ threshold.

    Candidates never leave their bucket, so total work is Σ bucket² instead
    of n²; recall follows the hyperplane collision bound.

    ``n_planes=None`` (default) auto-sizes the plane count from the
    corpus count via :func:`~patito_spark.operators.similarity.auto_n_planes`
    so the EXPECTED bucket size — and with it the quadratic in-bucket
    verification cost per vector — stays constant as the corpus grows.
    A FIXED plane count makes total verify work grow as n²/2^planes
    (the round-6 scaling audit measured 3.7×-per-10×-data on exactly
    this); auto-sizing restores the ~linear marginal at the price of
    one count() job — an UNCACHED full scan paid on EVERY call that
    reaches auto-sizing. Callers who already know the corpus size pass
    ``n_vectors`` to skip it; callers who dedup the same corpus
    repeatedly should build an :class:`~patito_spark.operators.similarity.LshIndex`
    once and pass ``index=`` (the entry points do), which amortizes
    both the count and the bucketing. Pass an explicit ``n_planes`` for
    reproducible bucketing (the oracle-replayed bench entries do,
    deriving the same auto-sized count on both engines).

    Recall levers:
    fewer planes (bigger buckets) or ``n_tables > 1`` — L independent
    hash tables OR-ed together (a dup pair is missed only if split in
    EVERY table, miss^L), with cross-table duplicate pairs collapsed by
    a distinct on (id_a, id_b). For DEDUP recall is the one that
    matters — a missed duplicate is contamination. Measured against
    planted ground truth at cosine U[0.92, 0.99], threshold 0.9
    (tools/recall_embedding_lsh.py, docs/scaling.md §LSH-dedup recall):

    ======================  =====  =====  =====  =====
    corpus (auto planes)     L=1    L=2    L=4    L=8
    ======================  =====  =====  =====  =====
    4k vectors (5 planes)   0.626  0.854  0.977  1.000
    40k vectors (8 planes)  0.470  0.707  0.904  0.987
    ======================  =====  =====  =====  =====

    Pairing policy: ``n_tables ≈ planes/2`` holds recall ≈ 0.85–0.90 at
    any corpus size (``n_tables="auto"`` applies exactly this);
    ``n_tables ≈ planes`` holds ≈ 0.98+. Cost is linear in L, so the
    auto pairing keeps total work ~linear in n while recall stays flat
    as :func:`~patito_spark.operators.similarity.auto_n_planes` grows
    the plane count with log(n). The default stays ``n_tables=1``
    (bit-reproducible single-table behavior, replayed by the SQL
    oracle); dedup pipelines where a miss is contamination should pass
    ``"auto"`` or an explicit count from the table.

    Both stages use sequential-fold accumulation, so a SQL oracle can
    replay the pipeline exactly from the same plane constants (bucket =
    sign bits of ``list_dot_product``; cosine = dot/(norm·norm)).
    """
    import numpy as np
    import pandas as pd

    from patito_spark.functions.vector_numpy import (
        _as_matrix,
        seq_dot_matrix,
        seq_norm,
        sign_projection_buckets,
    )
    from patito_spark.operators.similarity import _deterministic_hyperplanes

    if index is not None:
        if n_tables == "auto" or n_tables > 1:
            # The index branch would silently win and deliver single-table
            # recall; refuse, matching ann_lsh_topk's contract.
            raise ValueError(
                "n_tables > 1 cannot be combined with a prebuilt index; "
                "build the index with the desired n_tables instead"
            )
        # Prebuilt LshIndex (see similarity.build_lsh_index): reuse its
        # bucket assignments — one corpus scan serves dedup AND ann search.
        bucketed = index.table.select(
            F.col("neighbor_id").alias("id"),
            F.col("__cvec").alias("vec"),
            "bucket",
        )
    else:
        if n_planes is None:
            from patito_spark.operators.similarity import auto_n_planes

            n_planes = auto_n_planes(
                n_vectors if n_vectors is not None else df.count(),
                target_bucket_size=target_bucket_size,
            )
        if n_tables == "auto":
            # The measured pairing (docstring table): L = p/2 holds
            # planted-pair recall ≈ 0.85–0.90 at any auto-sized corpus.
            n_tables = max(1, n_planes // 2)
        pruned = df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        )
        if n_tables > 1:
            from patito_spark.operators.similarity import (
                _multi_table_buckets,
            )

            planes = _deterministic_hyperplanes(
                dim, n_planes * n_tables, seed
            )
            # (tbl, bucket) fan-out; groups below key on both so each
            # table contributes its own buckets.
            bucketed = _multi_table_buckets(
                pruned, planes, n_planes, n_tables, "vec"
            ).withColumn(
                "bucket", F.concat_ws(":", "tbl", "bucket")
            ).drop("tbl")
        else:
            planes = _deterministic_hyperplanes(dim, n_planes, seed)
            bucketed = sign_projection_buckets(pruned, planes, vec_col="vec")

    pair_schema = T.StructType(
        [
            T.StructField("id_a", df.schema[id_col].dataType, False),
            T.StructField("id_b", df.schema[id_col].dataType, False),
            T.StructField("cosine", T.DoubleType(), False),
        ]
    )

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        mat = _as_matrix(pdf["vec"])
        cos = seq_dot_matrix(mat, mat) / (
            seq_norm(mat)[:, None] * seq_norm(mat)[None, :]
        )
        ia, ib = np.triu_indices(n, k=1)
        keep = cos[ia, ib] >= threshold
        ids = pdf["id"].to_numpy()
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cosine": cos[ia, ib][keep],
            }
        )

    pairs = bucketed.groupBy("bucket").applyInPandas(bucket_pairs, pair_schema)
    if n_tables > 1 and index is None:
        # the same dup pair can surface from several tables
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs


# ---------------------------------------------------------------------- #
# End-to-end corpus dedup                                                 #
# ---------------------------------------------------------------------- #


def dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    **minhash_kwargs,
) -> DataFrame:
    """The user-facing operation: near-duplicate-free corpus, one call.

    Composes the scale pipeline end-to-end: MinHash+LSH candidate pairs →
    true-Jaccard verification → connected components over the verified
    pairs → keep each cluster's minimum-id representative, drop the rest.
    Returns ``df``'s rows minus non-representative near-duplicates (all
    original columns).

    Scale shape: everything upstream is the banded/bucketed pipeline
    (never O(n²)); the final step is a LEFT ANTI join against the drop
    set, whose size is the number of duplicates — broadcastable in the
    common case where duplicates are a small fraction of the corpus.
    """
    from patito_spark.operators.graph import connected_components

    # connected_components materializes eagerly (checkpointed label loop),
    # so every intermediate the minhash pipeline persists is consumed by
    # the time it returns — release them here; the caller sees no cache
    # residue from this call.
    with cache_scope():
        pairs = minhash_dedup_pairs(
            df,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            **minhash_kwargs,
        )
        components = connected_components(pairs, id_a="id_a", id_b="id_b")
    drop = (
        components.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(drop, on=id_col, how="left_anti")


def minhash_dedup_against(
    df: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_id_col: Optional[str] = None,
    ref_text_col: Optional[str] = None,
    threshold: float = 0.7,
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    broadcast_reference: bool = True,
    densify: bool = True,
) -> DataFrame:
    """Corpus documents that near-duplicate a REFERENCE corpus.

    Cross-corpus MinHash+LSH: decontamination by near-dup — drop training
    documents that are near-copies of benchmark/eval documents even when
    no exact n-gram survives verbatim (paraphrased leaks, whitespace
    mangling), the case :func:`..contamination.ngram_contamination`'s
    exact-gram overlap misses. Returns verified pairs
    ``(<id_col>, ref_id, jaccard)``; drop with a LEFT ANTI join on
    ``id_col``.

    Scale shape: the corpus side is never self-joined — each side's
    per-document features (:func:`_minhash_doc_features_arrow`, the
    :func:`minhash_dedup_pairs` build: band keys and verify arrays in
    one map-only Arrow stage, persisted because both the bucket join
    and the verify read it) are computed independently, and candidates
    come from the corpus⋈reference bucket equi-join. With
    ``broadcast_reference`` (the common case: benchmarks are tiny next
    to a 100 TB corpus) the reference's buckets AND its verification
    token arrays broadcast, so the bucket join never shuffles the
    corpus.
    """
    ref_id_col = ref_id_col or id_col
    ref_text_col = ref_text_col or text_col

    def features(frame: DataFrame, id_c: str, text_c: str) -> DataFrame:
        return tracked_persist(
            _minhash_doc_features_arrow(
                frame, id_c, text_c, n=shingle_size, num_hashes=num_hashes,
                bands=bands, densify=densify,
            )
        )

    corpus_f = features(df, id_col, text_col)
    ref_f = features(reference, ref_id_col, ref_text_col)
    left = _band_buckets(corpus_f).withColumnRenamed("__id", "__cid")
    right = _band_buckets(ref_f).withColumnRenamed("__id", "__rid")
    ref_toks = ref_f.select(
        F.col("__id").alias("__rtid"), F.col("__jtokens").alias("__rtokens")
    )
    if broadcast_reference:
        right = F.broadcast(right)
        ref_toks = F.broadcast(ref_toks)

    candidates = (
        left.join(right, on=["band", "bucket"])
        .select("__cid", "__rid")
        .distinct()
    )
    corpus_toks = corpus_f.select(
        F.col("__id").alias("__ctid"), F.col("__jtokens").alias("__ctokens")
    )
    return (
        candidates.join(
            corpus_toks, candidates["__cid"] == corpus_toks["__ctid"]
        )
        .join(ref_toks, candidates["__rid"] == ref_toks["__rtid"])
        .withColumn(
            "jaccard", jaccard(F.col("__ctokens"), F.col("__rtokens"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("__cid").alias(id_col),
            F.col("__rid").alias("ref_id"),
            "jaccard",
        )
    )


def embedding_dedup_against(
    df: DataFrame,
    reference: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ref_id_col: Optional[str] = None,
    ref_vec_col: Optional[str] = None,
    threshold: float = 0.95,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 1,
) -> DataFrame:
    """Corpus vectors that near-duplicate a REFERENCE set (semantic
    decontamination — the embedding-space counterpart of
    :func:`minhash_dedup_against`).

    Returns ``(<id_col>, ref_id, cosine)`` pairs with cosine ≥
    ``threshold``. Both sides are LSH-bucketed (``n_tables`` independent
    tables OR-ed for recall — see docs/ann_quality.md); candidates come
    from the corpus⋈reference bucket equi-join with the reference side
    broadcast (benchmarks/eval sets are tiny next to the corpus, so the
    corpus is never shuffled), and exact cosine verification runs only
    on candidates — cost proportional to near-dupes, never |corpus|×|ref|.
    """
    from patito_spark.functions.vector_numpy import sign_projection_buckets
    from patito_spark.operators.similarity import (
        _deterministic_hyperplanes,
        _multi_table_buckets,
        cosine_score_pairs,
    )

    ref_id_col = ref_id_col or id_col
    ref_vec_col = ref_vec_col or vec_col
    planes = _deterministic_hyperplanes(dim, n_planes * n_tables, seed)

    corpus_side = df.select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    )
    ref_side = reference.select(
        F.col(ref_id_col).alias("ref_id"), F.col(ref_vec_col).alias("__rvec")
    )
    if n_tables > 1:
        c = _multi_table_buckets(corpus_side, planes, n_planes, n_tables, "__cvec")
        r = _multi_table_buckets(ref_side, planes, n_planes, n_tables, "__rvec")
        on = ["tbl", "bucket"]
    else:
        c = sign_projection_buckets(corpus_side, planes, vec_col="__cvec")
        r = sign_projection_buckets(ref_side, planes, vec_col="__rvec")
        on = ["bucket"]

    candidates = c.join(F.broadcast(r), on=on)
    if n_tables > 1:
        candidates = candidates.dropDuplicates(["__cid", "ref_id"])
    scored = cosine_score_pairs(
        candidates,
        vec_a="__cvec",
        vec_b="__rvec",
        keep_cols=["__cid", "ref_id"],
    )
    return scored.filter(F.col("cosine") >= threshold).select(
        F.col("__cid").alias(id_col), "ref_id", "cosine"
    )
