"""Deterministic sampling and shuffling for training-data pipelines.

Everything here is hash-based, never ``rand()``: a retried task, a
re-planned AQE stage, or a second run over the same data produces the same
sample. At 100 TB, non-reproducible samples poison train/eval separation.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, functions as F

from patito_spark.functions.cache import tracked_persist

_BUCKETS = 1_000_000


def _seeded_hash(key: Column, seed: int, hash_mode: str) -> Column:
    """Deterministic 64-bit hash of a key column under ``seed``.

    ``hash_mode="portable"`` is the md5-based hash of ``"<key>:<seed>"``
    that other engines reproduce exactly (see
    :mod:`patito_spark.functions.hashing`) — used by correctness oracles;
    ``xxhash64`` (seeded) is the fast default.
    """
    if hash_mode == "portable":
        from patito_spark.functions.hashing import portable_hash64

        return portable_hash64(
            F.concat(key.cast("string"), F.lit(":"), F.lit(str(seed)))
        )
    return F.xxhash64(key, F.lit(seed))


def _hash_fraction(key: Column, seed: int, hash_mode: str = "xxhash64") -> Column:
    """Uniform [0, 1) value derived from a key column (deterministic)."""
    h = _seeded_hash(key, seed, hash_mode)
    return F.pmod(h, F.lit(_BUCKETS)) / F.lit(_BUCKETS)


def sample_fraction_sql(key_expr: str, seed: int) -> str:
    """DuckDB SQL fragment mirroring ``_hash_fraction`` in portable mode."""
    from patito_spark.functions.hashing import portable_hash64_sql

    h = portable_hash64_sql(f"({key_expr})::VARCHAR || ':{seed}'")
    return f"({h} % {_BUCKETS}) / {_BUCKETS}"


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    key_col: str,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by hash of ``key_col``.

    Unlike ``df.sample()``, membership depends only on the key and seed —
    stable across runs, partitionings, and Spark versions, and co-sampled
    tables stay aligned (same key ⇒ same decision everywhere).
    """
    return df.filter(
        _hash_fraction(F.col(key_col), seed, hash_mode=hash_mode) < fraction
    )


def sample_exact_n(
    df: DataFrame,
    n: int,
    key_col: str,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Exactly ``n`` rows, deterministically: the n smallest key hashes.

    The "give me exactly 10k eval docs" primitive —
    :func:`deterministic_sample` keeps a FRACTION (count varies with
    the corpus), this keeps a fixed count, stable under reruns,
    retries, and AQE replans, and the kept set only GROWS consistently
    as the corpus grows (a doc leaves the sample only when a
    smaller-hashed doc arrives).

    Scale shape: ``ORDER BY hash LIMIT n`` plans as
    ``TakeOrderedAndProject`` — each partition keeps its own top-n,
    ONE task merges them, nothing fully sorts. The merge task holds
    n × input-partition candidates, so this is for human-scale n
    (eval sets, demos, audits — up to ~1M); for a huge fixed-size
    subset use :func:`deterministic_sample` with fraction ≈ n/count
    and accept ±binomial noise.

    ``key_col`` should uniquely identify rows: equal keys hash
    identically, and the ordering breaks hash ties by the key itself,
    so with duplicate keys the kept KEY multiset is still deterministic
    but which of several identical-key rows crosses the cut line is
    plan-dependent. Use a unique id (the usual case) for a fully
    stable kept set.
    """
    if n < 0:
        raise ValueError(f"n must be >= 0, got {n}")
    h = _seeded_hash(F.col(key_col), seed, hash_mode)
    return (
        df.withColumn("__sx_h", h)
        .orderBy(F.col("__sx_h").asc(), F.col(key_col).asc())
        .limit(n)
        .drop("__sx_h")
    )


def train_test_split(
    df: DataFrame,
    key_col: str,
    test_fraction: float = 0.1,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """(train, test) split on a key hash — one pass each, no shuffle.

    Keyed splitting guarantees a key never straddles the boundary (the
    leakage guarantee random row splits cannot give when keys repeat).
    """
    h = _hash_fraction(F.col(key_col), seed, hash_mode=hash_mode)
    return df.filter(h >= test_fraction), df.filter(h < test_fraction)


def leakage_safe_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    test_fraction: float = 0.1,
    threshold: float = 0.7,
    seed: int = 42,
    hash_mode: str = "xxhash64",
    pairs: Optional[DataFrame] = None,
    **minhash_kwargs,
) -> tuple:
    """(train, test) split where near-duplicates never straddle the cut.

    :func:`train_test_split` keys on the document id, so a near-copy
    with a DIFFERENT id can land in test while its twin trains — the
    classic eval-contamination leak. This variant splits by
    near-duplicate CLUSTER: MinHash pairs → connected components, and
    every document hashes on its component label (singletons on their
    own id), so a whole duplicate family moves together. Pass
    ``pairs`` (``id_a``/``id_b``, e.g. from
    ``embedding_dedup_pairs_lsh``) to split on a precomputed/semantic
    duplicate graph instead of re-running MinHash.

    Scale shape: the pair pipeline is the banded/bucketed MinHash
    path (never O(n²)); components label only CLUSTERED docs — the
    join back to the corpus is on that (typically small) label table,
    and the split itself is the usual map-only hash filter. Expected
    test mass is ``test_fraction`` of CLUSTERS, which converges to
    ``test_fraction`` of documents when duplicate families are small
    relative to the corpus. ``hash_mode`` picks the split hash only; the
    MinHash pairs always use the portable hash.
    """
    from patito_spark.operators.dedup import minhash_dedup_pairs
    from patito_spark.operators.graph import connected_components

    if pairs is None:
        pairs = minhash_dedup_pairs(
            df,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            **minhash_kwargs,
        )
    labels = connected_components(pairs, id_a="id_a", id_b="id_b").select(
        F.col("node").alias(id_col), F.col("component").alias("__split_key")
    )
    keyed = df.join(labels, on=id_col, how="left").withColumn(
        "__split_key", F.coalesce(F.col("__split_key"), F.col(id_col))
    )
    h = _hash_fraction(F.col("__split_key"), seed, hash_mode=hash_mode)
    train = keyed.filter(h >= test_fraction).drop("__split_key")
    test = keyed.filter(h < test_fraction).drop("__split_key")
    return train, test


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    key_col: str,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Per-stratum hash sampling (deterministic ``sampleBy``)."""
    frac_expr = None
    for value, fraction in fractions.items():
        cond = F.col(strata_col) == F.lit(value)
        frac_expr = (
            F.when(cond, F.lit(float(fraction)))
            if frac_expr is None
            else frac_expr.when(cond, F.lit(float(fraction)))
        )
    frac_expr = frac_expr.otherwise(F.lit(0.0))
    return df.filter(
        _hash_fraction(F.col(key_col), seed, hash_mode=hash_mode) < frac_expr
    )


def balance_classes(
    df: DataFrame,
    label_col: str,
    key_col: str,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Downsample every class to ~the size of the rarest class.

    One count pass computes class sizes (tiny result, collected), then one
    filtered pass applies per-class hash fractions — two scans total, no
    shuffle of the data itself.
    """
    counts = {r[0]: r[1] for r in df.groupBy(label_col).count().collect()}
    if not counts:
        return df
    smallest = min(counts.values())
    fractions = {label: smallest / n for label, n in counts.items()}
    return stratified_sample(
        df, label_col, fractions, key_col=key_col, seed=seed,
        hash_mode=hash_mode,
    )


def cap_per_group(
    df: DataFrame,
    group_cols: Union[str, Sequence[str]],
    max_rows: int,
    key_col: Optional[str] = None,
    order_by: Optional[Union[str, Column]] = None,
    descending: bool = False,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Keep at most ``max_rows`` rows per group — the per-domain cap.

    A crawl pipeline staple: no single domain/source may contribute more
    than K documents. Selection within an over-cap group is
    deterministic: by ``order_by`` when given (``descending=True`` for
    "keep the K highest", e.g. a quality score — ties broken by the
    ``key_col`` hash when provided, by a full-row hash otherwise, so
    reruns agree even on tied scores), else uniformly by a seeded hash
    of ``key_col`` (a stable random K-subset, never ``rand()``). ``hash_mode="portable"`` hashes
    ``"<key>:<seed>"`` via the md5-based engine-independent hash (same
    contract as the other sampling operators) so an ANSI-SQL oracle can
    replay the exact kept set.

    Scale shape: ``row_number`` over ``(group, order)`` compiles to a
    **partial WindowGroupLimit before the exchange** (Spark 3.5+) —
    every input partition map-side keeps only its own top ``max_rows``
    per group, so a hot domain holding half the crawl ships at most
    ``max_rows × input_partitions`` rows into the shuffle instead of
    its full mass, and the final per-group sort touches the survivors
    only. One shuffle on the group key; plan-asserted in tests.
    """
    if max_rows < 1:
        raise ValueError(f"max_rows must be >= 1, got {max_rows}")
    if order_by is None and key_col is None:
        raise ValueError("pass key_col (hash selection) or order_by")
    from pyspark.sql import Window

    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    order: list[Column] = []
    if order_by is not None:
        oc = F.col(order_by) if isinstance(order_by, str) else order_by
        order.append(oc.desc() if descending else oc.asc())
    if key_col is None:
        # order_by-only mode: row_number over a non-unique ordering
        # would keep an ARBITRARY tie subset (retry/AQE-replan
        # dependent) — against this module's reproducibility contract.
        # Tie-break on a hash of the full row instead: identical rows
        # are interchangeable, distinct tied rows resolve stably.
        order.append(F.xxhash64(*df.columns, F.lit(seed)).asc())
    else:
        order.append(_seeded_hash(F.col(key_col), seed, hash_mode).asc())
    w = Window.partitionBy(*groups).orderBy(*order)
    return (
        df.withColumn("__cap_rn", F.row_number().over(w))
        .filter(F.col("__cap_rn") <= max_rows)
        .drop("__cap_rn")
    )


def shuffle_rows(
    df: DataFrame,
    key_col: str,
    seed: int = 42,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Deterministic global shuffle for training-order randomization.

    Orders by a key hash: `repartitionByRange` on the hash gives evenly
    sized output partitions, sorted within each — a reproducible
    permutation of the dataset at the cost of one range shuffle.
    """
    hashed = df.withColumn("__shuffle_key", F.xxhash64(F.col(key_col), F.lit(seed)))
    parts = num_partitions or df.rdd.getNumPartitions()
    return (
        hashed.repartitionByRange(parts, "__shuffle_key")
        .sortWithinPartitions("__shuffle_key")
        .drop("__shuffle_key")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    target_fraction: Optional[float] = None,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Keep each row with probability proportional to its weight.

    Importance sampling for training data: rows with twice the weight
    (quality score, source trust, dedup cluster mass) are kept twice as
    often. Membership is the same deterministic key hash as
    :func:`deterministic_sample` — reproducible across runs and
    partitionings, and map-only (no shuffle, no rand()).

    With ``target_fraction`` the per-row probabilities are rescaled so
    the EXPECTED kept fraction (weight-mean) matches it — one tiny
    aggregate computes the corpus mean weight, then one filtered pass.
    Rows whose scaled probability reaches 1 are always kept (the
    standard truncation; the realized fraction then undershoots
    ``target_fraction`` slightly on heavy-tailed weights). Without it,
    weights are used as raw probabilities: values are CLAMPED to
    [0, 1] (a weight above 1 keeps the row always — pass
    ``target_fraction`` if you want out-of-range weights rescaled
    instead of saturated).

    Nulls and negative weights never pass (probability 0).
    """
    w = F.col(weight_col).cast("double")
    if target_fraction is not None:
        if not 0 < target_fraction <= 1:
            raise ValueError(
                f"target_fraction must be in (0, 1], got {target_fraction}"
            )
        # Mean over ALL rows with ineligible (null/negative) weights
        # counted as 0 — plain avg() would let negatives cancel positive
        # mass (empty sample despite eligible rows) and would ignore
        # nulls entirely (deflating the kept fraction below target).
        row = df.agg(
            F.sum(F.when(w > 0, w).otherwise(0.0)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        mean_w = (row["s"] or 0.0) / row["n"] if row["n"] else 0.0
        if mean_w <= 0:
            return df.filter(F.lit(False))
        p = F.least(w * (float(target_fraction) / float(mean_w)), F.lit(1.0))
    else:
        # Raw-probability mode: clamp so a weight > 1 behaves as the
        # documented "always keep" instead of silently relying on the
        # hash fraction being < 1 anyway (and to make the intent
        # explicit for readers of the plan).
        p = F.least(w, F.lit(1.0))
    frac = _hash_fraction(F.col(key_col), seed, hash_mode=hash_mode)
    return df.filter(w.isNotNull() & (w > 0) & (frac < p))


def quantile_bins(
    df: DataFrame,
    score_col: str,
    n_bins: int = 10,
    output_col: str = "bin",
    relative_error: float = 0.001,
    breakpoints: Optional[Sequence[float]] = None,
    group_cols: Optional[Sequence[str]] = None,
    max_broadcast_groups: int = 1_000_000,
) -> DataFrame:
    """Assign each row its quantile bin of ``score_col`` (0 .. n_bins-1).

    The curriculum/stratification primitive: bin a corpus by quality
    score (or perplexity, length, ...) into approximately-equal-mass
    bins, then feed the bin column to :func:`stratified_sample`,
    :func:`balance_classes`, or ``mix_corpora``'s per-domain weighting
    — "train on the top quartile", "sample hard examples 2x", etc.

    Scale shape: ONE ``approxQuantile`` pass (Greenwald-Khanna sketch,
    mergeable, driver receives ``n_bins - 1`` doubles) computes the
    breakpoints; assignment is then a map-only codegen projection — the
    bin index is a sum of ``score >= breakpoint`` comparisons, no
    shuffle, no window. This is the distributed replacement for
    ``ntile()`` over a global ORDER BY, which plans as a single-
    partition window — the canonical does-not-scale shape.

    Pass precomputed ``breakpoints`` (ascending, length ``n_bins - 1``)
    to skip the sketch pass — e.g. to bin a new snapshot against the
    HISTORY's distribution, or to reuse one sketch across many calls.
    Null scores get a null bin. Duplicate breakpoints (massively
    repeated score values) collapse those bins to empty — mass goes to
    the highest bin whose breakpoint equals the value.

    ``group_cols`` bins WITHIN each group against that group's own
    quantiles (round 13 — the CCNet shape: perplexity terciles are per
    LANGUAGE, or a corpus-wide tercile would just rank languages).
    One grouped ``percentile_approx`` aggregate (mergeable sketch,
    group-count rows), breakpoint arrays joined back (broadcast while
    the group count is within ``max_broadcast_groups``, shuffle join
    above it), and the bin index unrolls to ``n_bins − 1`` static
    element comparisons — still a codegen projection, no window, no
    shuffle of the data stream below the gate. The join is NULL-SAFE
    on the group keys, so rows with a null group key bin against the
    null group's own ladder (the group ``groupBy`` already
    aggregates). Groups whose scores are all null bin to null.

    NOTE: both forms run an EAGER Spark job at call time — the global
    form's ``approxQuantile`` collects breakpoints to the driver, and
    the grouped form materializes + counts the per-group sketch table
    to gate the broadcast. Callers composing plans speculatively should
    pass precomputed ``breakpoints`` (fully lazy) or defer the call
    until the plan will actually execute.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be at least 2")
    if group_cols:
        if breakpoints is not None:
            raise ValueError(
                "breakpoints and group_cols are mutually exclusive — "
                "precomputed breakpoints are a single global ladder"
            )
        probs = [i / n_bins for i in range(1, n_bins)]
        acc = max(int(1.0 / relative_error), 100)
        bps = (
            df.groupBy(*group_cols)
            .agg(
                F.percentile_approx(
                    score_col, probs, F.lit(acc)
                ).alias("__bps")
            )
            # the join renames the breakpoint side's keys and matches
            # null-safely, so a NULL group key bins against ITS OWN
            # group's ladder (groupBy already aggregates null keys as
            # one group) instead of silently falling out of an
            # equi-join with a null bucket
            .select(
                *[F.col(c).alias(f"__g_{c}") for c in group_cols],
                "__bps",
            )
        )
        # broadcast gated on the group count (the repo's
        # max_broadcast_* convention): a key set wider than the gate
        # falls back to a shuffle join rather than shipping an
        # oversized table to every executor
        bps = tracked_persist(bps)
        if bps.count() <= max_broadcast_groups:
            bps = F.broadcast(bps)
        cond = None
        for c in group_cols:
            eq = F.col(c).eqNullSafe(F.col(f"__g_{c}"))
            cond = eq if cond is None else cond & eq
        joined = df.join(bps, cond, how="left").drop(
            *[f"__g_{c}" for c in group_cols]
        )
        score = F.col(score_col)
        bin_idx = sum(
            (
                score >= F.element_at(F.col("__bps"), k + 1)
            ).cast("int")
            for k in range(n_bins - 1)
        )
        return joined.withColumn(
            output_col,
            F.when(
                score.isNotNull() & F.col("__bps").isNotNull(), bin_idx
            ).cast("int"),
        ).drop("__bps")
    if breakpoints is None:
        probs = [i / n_bins for i in range(1, n_bins)]
        breakpoints = df.stat.approxQuantile(
            score_col, probs, relative_error
        )
    else:
        breakpoints = [float(b) for b in breakpoints]
        if len(breakpoints) != n_bins - 1:
            raise ValueError(
                f"need {n_bins - 1} breakpoints for {n_bins} bins, "
                f"got {len(breakpoints)}"
            )
        if sorted(breakpoints) != breakpoints:
            raise ValueError("breakpoints must be ascending")
    score = F.col(score_col)
    bin_idx = sum(
        (score >= F.lit(b)).cast("int") for b in breakpoints
    )
    return df.withColumn(
        output_col,
        F.when(score.isNotNull(), bin_idx).cast("int"),
    )


def ccnet_buckets(
    df: DataFrame,
    ppl_col: str = "perplexity",
    group_cols: Sequence[str] = ("lang",),
    output_col: str = "ccnet_bucket",
    labels: Sequence[str] = ("head", "middle", "tail"),
    relative_error: float = 0.001,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): per-GROUP
    perplexity terciles — ``head`` is each language's lowest-perplexity
    third (what CCNet keeps for high-quality corpora), ``tail`` its
    highest. A thin labeling layer over :func:`quantile_bins` with
    ``group_cols``, so the cost is one grouped sketch aggregate plus a
    map-only assignment; rows with null perplexity (or an all-null
    group) get a null bucket. More or fewer ``labels`` give finer or
    coarser splits (len(labels) bins)."""
    if len(labels) < 2:
        raise ValueError("need at least two labels")
    binned = quantile_bins(
        df,
        ppl_col,
        n_bins=len(labels),
        output_col="__ccnet_bin",
        relative_error=relative_error,
        group_cols=list(group_cols),
    )
    label_expr = None
    for i, name in enumerate(labels):
        cond = F.col("__ccnet_bin") == i
        label_expr = (
            F.when(cond, F.lit(name))
            if label_expr is None
            else label_expr.when(cond, F.lit(name))
        )
    return binned.withColumn(output_col, label_expr).drop("__ccnet_bin")
