"""Pretrained n-gram LM scoring from .arpa artifacts (the KenLM/SRILM
interchange format) — the CCNet filter: score web documents against a
5-gram model trained on a trusted corpus and gate on perplexity.

The self-trained LM ladder in ``.text`` (unigram → bigram → trigram →
Kneser-Ney) builds its statistics from the corpus being scored; CCNet's
actual production filter instead loads a *pretrained* artifact. This
module consumes the public .arpa text format (Doug Paul, DARPA SLS;
the format KenLM's ``lmplz`` emits): a ``\\data\\`` header with per-order
counts, then ``\\n-grams:`` sections of ``log10(p)<TAB>w1 .. wn[<TAB>
log10(backoff)]`` lines, then ``\\end\\``.

Scoring is the standard Katz backoff chain: the longest matching
n-gram's probability, plus the backoff penalties of every longer
context that was skipped —

``score(w | h_{N-1}..h_1) = logp_k(h_{k-1}..h_1 w)
+ Σ_{j=k..N-1} bo(h_j..h_1)`` for the largest ``k`` whose k-gram is in
the table (``bo`` of an absent context is 0, exactly the SRILM/KenLM
convention). Unknown words fall to the ``<unk>`` unigram when the
model has one, else to ``oov_log10``.

Scale shape: the ARPA parse is DISTRIBUTED (``spark.read.text`` — every
n-gram line is self-describing: its order is the token count of its
middle field, so no section state is needed); the model lives as one
DataFrame per order keyed by the space-joined gram string. Scoring
follows the fused-LM discipline: one corpus explode into (h4..h1, w)
slots, ONE distinct-tuple aggregate, all 2N−1 model lookups joined onto
the tuple table (broadcast under ``max_broadcast_ngrams``, shuffle
joins above it — correct either way), one null-safe join back to the
corpus stream, one per-doc aggregate. Natural-log outputs match the
``.text`` LM stack (``ce = −ln p`` per token, ``ppl = exp(ce)``).

Binary KenLM artifacts (.bin/.mmap) need the ``kenlm`` package; when
it is importable, :func:`kenlm_logloss` scores through it in Arrow
batches (import-gated — the public wheel is not baked into every
container, same policy as the PIL/av/soundfile kernels).
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator, Optional

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

LN10 = math.log(10.0)

#: Sentinel tokens of the format (KenLM always emits all three).
BOS, EOS, UNK = "<s>", "</s>", "<unk>"


class ArpaLm:
    """A parsed .arpa model: ``tables[k]`` is a DataFrame
    ``gram string, logp double, bo double`` for each order ``k`` (gram =
    space-joined tokens, ``bo`` null when the line had none), plus
    ``order`` (highest k), ``counts`` (rows per order from the actual
    parse) and ``unk_log10`` (the ``<unk>`` unigram log10 prob, None if
    the model lacks one)."""

    def __init__(
        self,
        tables: dict,
        counts: dict,
        unk_log10: Optional[float],
    ):
        self.tables = tables
        self.counts = counts
        self.order = max(tables) if tables else 0
        self.unk_log10 = unk_log10

    def unpersist(self) -> "ArpaLm":
        for t in self.tables.values():
            t.unpersist()
        return self

    def write(self, path: str, mode: str = "error") -> None:
        """Persist as parquet (one directory per order + meta) — the
        Bm25Index artifact convention: parse once, score many runs."""
        spark = next(iter(self.tables.values())).sparkSession
        for k, t in self.tables.items():
            t.write.mode(mode).parquet(f"{path}/order={k}")
        spark.createDataFrame(
            [(self.order, self.unk_log10)],
            "order int, unk_log10 double",
        ).coalesce(1).write.mode(mode).parquet(f"{path}/meta")

    @classmethod
    def read(cls, spark, path: str, materialize: bool = True) -> "ArpaLm":
        from patito_spark.sources.readers import read_inferred

        meta = read_inferred(spark, "parquet", f"{path}/meta").first()
        tables, counts = {}, {}
        for k in range(1, meta["order"] + 1):
            t = read_inferred(spark, "parquet", f"{path}/order={k}")
            if materialize:
                t = t.persist()
            tables[k] = t
            counts[k] = t.count()
        return cls(tables, counts, meta["unk_log10"])


def load_arpa(spark, path: str, materialize: bool = True) -> ArpaLm:
    """Parse a .arpa file (local path, directory of shards, or any
    Hadoop-readable URI) into an :class:`ArpaLm`.

    Distributed: every n-gram line is parsed independently —
    ``log10p<TAB>tokens[<TAB>log10bo]`` with the order read off the
    token count — so a multi-GB artifact never funnels through the
    driver. Header/section/marker lines don't match the shape and drop
    out in the same pass.
    """
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), "\t")
    parsed = (
        lines.select(
            # try_cast + F.get, not cast/getItem: header/marker lines
            # are non-numeric or short by design and must drop out as
            # nulls under ANSI mode, not raise
            parts.getItem(0).try_cast("double").alias("logp"),
            F.get(parts, 1).alias("gram"),
            F.get(parts, 2).try_cast("double").alias("bo"),
            F.size(parts).alias("__nf"),
        )
        # an n-gram line has 2 or 3 tab fields, a float first field and
        # a non-empty gram; \data\ count lines ("ngram 1=5") have no tab
        .filter(
            F.col("logp").isNotNull()
            & (F.col("__nf") >= 2)
            & (F.col("__nf") <= 3)
            & (F.length(F.col("gram")) > 0)
        )
        .withColumn("k", F.size(F.split(F.col("gram"), " ")))
        .drop("__nf")
    )
    parsed = parsed.persist() if materialize else parsed
    by_order = {
        r["k"]: r["n"]
        for r in parsed.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    tables, counts = {}, {}
    for k in sorted(by_order):
        tables[k] = parsed.filter(F.col("k") == k).select(
            "gram", "logp", "bo"
        )
        counts[k] = by_order[k]
    unk = None
    if 1 in tables:
        row = tables[1].filter(F.col("gram") == UNK).select("logp").first()
        if row is not None:
            unk = row["logp"]
    return ArpaLm(tables, counts, unk)


def _hist_slots(toks: Column, n: Column, order: int) -> list:
    """Shifted-slice history arrays (the trigram_logloss construction,
    widened): slot j is the token j positions back, null-padded at the
    document start, each exactly ``n`` long so arrays_zip never pads."""
    slots = []
    for j in range(order - 1, 0, -1):
        pad = F.array(*[F.lit(None).cast("string")] * j)
        slots.append(F.slice(F.concat(pad, toks), F.lit(1), n))
    slots.append(toks)
    return slots


def arpa_logloss(
    df: DataFrame,
    lm: ArpaLm,
    text_col: str = "text",
    id_col: str = "doc_id",
    order: Optional[int] = None,
    bos: bool = True,
    oov_log10: float = -7.0,
    max_broadcast_ngrams: int = 2_000_000,
) -> DataFrame:
    """Per-document cross-entropy/perplexity under a pretrained .arpa
    model — the CCNet-style quality gate. Returns ``<id_col>,
    n_tokens, arpa_ce, arpa_ppl`` (natural log, like every LM score
    here; ~1e-12 summation noise — compare with tolerance).

    ``bos=True`` conditions the first tokens on ``<s>`` (the KenLM
    convention; the marker itself is never scored). OOV tokens score
    the model's ``<unk>`` unigram, or ``oov_log10`` when the artifact
    has none. ``order`` caps the chain below the artifact's (e.g.
    score 5-gram files as trigrams for an A/B).

    Scale shape: when the WHOLE model fits the broadcast gate (the
    normal case — a filter artifact is fixed-size), the scoring pass
    is SHUFFLE-FREE: one corpus explode, 2·order−1 map-side broadcast
    hash joins straight on the positioned stream, one map-side-combined
    per-doc aggregate (its exchange is the only shuffle in the plan —
    plan-asserted). Above the gate (a corpus-scale model) the operator
    falls back to the fused-tuple shape: one distinct (h.., w) tuple
    aggregate, the lookups joined on the TUPLE table (O(distinct
    tuples) join work), one null-safe corpus-stream join — two extra
    exchanges, but the model-side shuffle joins touch each distinct
    tuple once instead of every position.
    """
    n_order = min(order or lm.order, lm.order)
    if n_order < 1:
        raise ValueError("arpa_logloss: empty model")
    from patito_spark.functions.cache import tracked_persist

    from patito_spark.operators.text import tokens

    toks = tokens(text_col)
    if bos:
        toks = F.concat(F.array(F.lit(BOS)), toks)
    n = F.size(toks)
    h_names = [f"__h{j}" for j in range(n_order - 1, 0, -1)] + ["__w"]
    positioned = df.select(
        F.col(id_col),
        F.posexplode(
            F.arrays_zip(*_hist_slots(toks, n, n_order))
        ).alias("__i", "pos"),
    ).select(
        id_col,
        "__i",
        *[
            F.col("pos").getField(str(j)).alias(h_names[j])
            for j in range(n_order)
        ],
    )
    if bos:
        positioned = positioned.filter(F.col("__i") > 0)
    positioned = positioned.drop("__i")

    # Broadcast-able model (the filter-artifact case): skip the tuple
    # aggregate entirely — every lookup is a map-side hash join on the
    # positioned stream, so nothing shuffles before the per-doc
    # aggregate. A corpus-scale model would turn those into repeated
    # corpus-wide shuffle joins; there the distinct-tuple collapse
    # pays for its one exchange.
    direct = sum(lm.counts.values()) <= max_broadcast_ngrams
    if direct:
        tuples = positioned
        n_tuples = None
    else:
        tuples = tracked_persist(
            positioned.groupBy(*h_names).agg(
                F.count("*").alias("__cnt")
            )
        )
        # one action: the exact broadcast-gate count for the fused
        # score table below, doubling as the tuple cache
        # materialization
        n_tuples = tuples.count()

    def _side(frame: DataFrame, rows: int) -> DataFrame:
        return F.broadcast(frame) if rows <= max_broadcast_ngrams else frame

    # gram key of order k = the last k slots joined; context key of
    # order k = the k history slots nearest the word. concat_ws skips
    # the null padding, so a too-short history yields a lower-arity
    # string that can never collide with a real k-gram (tokens cannot
    # contain spaces by the split convention).
    tbl = tuples
    for k in range(1, n_order + 1):
        if k not in lm.tables:
            continue
        gram_k = F.concat_ws(" ", *[F.col(c) for c in h_names[-k:]])
        arity_ok = (
            F.col(h_names[-k]).isNotNull()
            if k > 1
            else F.lit(True)
        )
        side = lm.tables[k].select(
            F.col("gram").alias(f"__g{k}"),
            F.col("logp").alias(f"__lp{k}"),
        )
        tbl = tbl.withColumn(
            f"__gk{k}", F.when(arity_ok, gram_k)
        ).join(
            _side(side, lm.counts[k]),
            F.col(f"__gk{k}") == F.col(f"__g{k}"),
            how="left",
        ).drop(f"__g{k}", f"__gk{k}")
        if k < n_order:
            # context backoff of order k (the k history tokens)
            ctx_k = F.concat_ws(
                " ", *[F.col(c) for c in h_names[-(k + 1) : -1]]
            )
            ctx_ok = F.col(h_names[-(k + 1)]).isNotNull()
            bo_side = lm.tables[k].select(
                F.col("gram").alias(f"__c{k}"),
                F.col("bo").alias(f"__bo{k}"),
            )
            tbl = tbl.withColumn(
                f"__ck{k}", F.when(ctx_ok, ctx_k)
            ).join(
                _side(bo_side, lm.counts[k]),
                F.col(f"__ck{k}") == F.col(f"__c{k}"),
                how="left",
            ).drop(f"__c{k}", f"__ck{k}")

    unk_lp = F.lit(
        lm.unk_log10 if lm.unk_log10 is not None else float(oov_log10)
    )
    # longest-match cascade: logp_k plus the backoff of every longer
    # context skipped on the way down (absent context -> bo 0)
    score10 = None
    bo_sum = F.lit(0.0)
    cases = []
    for k in range(n_order, 0, -1):
        lp = (
            F.col(f"__lp{k}")
            if k in lm.tables
            else F.lit(None).cast("double")
        )
        cases.append((lp, bo_sum))
        if k > 1 and (k - 1) in lm.tables:
            bo_sum = bo_sum + F.coalesce(
                F.col(f"__bo{k - 1}"), F.lit(0.0)
            )
    expr = unk_lp + bo_sum  # full fall-through: every context skipped
    for lp, acc in reversed(cases):
        expr = F.when(lp.isNotNull(), lp + acc).otherwise(expr)
    nll = -expr * F.lit(LN10)

    if direct:
        # the lookups already rode the positioned stream — score in
        # place, one aggregate, done
        scored = tbl.select(F.col(id_col), nll.alias("__nll"))
    else:
        score_tbl = _side(
            tbl.select(
                *[F.col(c).alias(f"__s_{c}") for c in h_names],
                nll.alias("__nll"),
            ),
            n_tuples,
        )
        cond = None
        for c in h_names:
            eq = F.col(c).eqNullSafe(F.col(f"__s_{c}"))
            cond = eq if cond is None else cond & eq
        scored = positioned.join(score_tbl, cond, how="left")
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.avg("__nll").alias("arpa_ce"),
        F.exp(F.avg("__nll")).alias("arpa_ppl"),
    )


def score_arpa_py(
    docs: dict,
    ngrams: dict,
    order: int,
    bos: bool = True,
    unk_log10: Optional[float] = None,
    oov_log10: float = -7.0,
) -> dict:
    """Reference scorer over plain dicts (``ngrams[(w1..wk)] = (logp,
    bo_or_None)``) — the bit-exact oracle the tests pin
    :func:`arpa_logloss` against, and a readable spec of the backoff
    chain."""
    if unk_log10 is None:
        unk_log10 = ngrams.get((UNK,), (oov_log10, None))[0]

    def bo(ctx):
        ent = ngrams.get(ctx)
        return ent[1] if ent is not None and ent[1] is not None else 0.0

    out = {}
    for doc_id, toks in docs.items():
        seq = ([BOS] if bos else []) + list(toks)
        start = 1 if bos else 0
        nlls = []
        for i in range(start, len(seq)):
            lo = max(0, i - order + 1)
            score = None
            acc = 0.0
            for k in range(i - lo + 1, 0, -1):
                gram = tuple(seq[i - k + 1 : i + 1])
                ent = ngrams.get(gram)
                if ent is not None:
                    score = ent[0] + acc
                    break
                acc += bo(gram[:-1]) if len(gram) > 1 else 0.0
            if score is None:
                score = unk_log10 + acc
            nlls.append(-score * LN10)
        ce = sum(nlls) / len(nlls) if nlls else 0.0
        out[doc_id] = (len(nlls), ce, math.exp(ce))
    return out


def kenlm_logloss(
    df: DataFrame,
    model_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score through the binary KenLM runtime (.arpa/.bin/.mmap) in
    Arrow batches — import-gated: raises ImportError with install
    guidance when the ``kenlm`` package is absent (the PIL/av/soundfile
    policy). Each executor memory-maps the model once per worker; the
    scores are KenLM's own (log10 full-sentence score including EOS),
    converted to natural-log per-token cross-entropy."""
    try:
        import kenlm  # noqa: F401
    except ImportError as exc:
        raise ImportError(
            "kenlm_logloss needs the 'kenlm' package (pip install "
            "kenlm); for pure-Spark scoring parse the .arpa text "
            "artifact with load_arpa + arpa_logloss instead"
        ) from exc

    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType, True),
            T.StructField("n_tokens", T.LongType(), True),
            T.StructField("arpa_ce", T.DoubleType(), True),
            T.StructField("arpa_ppl", T.DoubleType(), True),
        ]
    )
    pruned = df.select(id_col, text_col)

    def score(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import kenlm
        import pandas as pd

        model = kenlm.Model(model_path)
        for pdf in batches:
            ids, nt, ce, ppl = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                words = text.split(" ")
                # bos=True, eos=False — the arpa_logloss convention
                s10 = model.score(text, bos=True, eos=False)
                n = len(words)
                h = -s10 * LN10 / n if n else 0.0
                ids.append(doc_id)
                nt.append(n)
                ce.append(h)
                ppl.append(math.exp(h))
            yield pd.DataFrame(
                {id_col: ids, "n_tokens": nt, "arpa_ce": ce,
                 "arpa_ppl": ppl}
            )

    return pruned.mapInPandas(score, schema=schema)


def arpa_admission(
    df: DataFrame,
    lm: ArpaLm,
    max_ppl: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    order: Optional[int] = None,
    bos: bool = True,
    oov_log10: float = -7.0,
    max_broadcast_ngrams: int = 5_000_000,
) -> DataFrame:
    """Ingestion-time CCNet gate: annotate each document (batch OR
    stream — the check is stateless) with ``arpa_ppl`` against a
    pretrained artifact and ``admitted`` (ppl ≤ ``max_ppl``). All
    input columns pass through.

    The model tables are collected once (bounded by
    ``max_broadcast_ngrams`` total rows — a pruned filter model;
    corpus-scale models belong in :func:`arpa_logloss`'s join form)
    and broadcast as plain dicts; each arriving document scores inside
    the same Arrow batch through :func:`score_arpa_py` — the
    bit-exact reference the join form is pinned against — so the
    operator is a pure map: it composes with ``readStream`` with no
    state store, no watermark, and no output-mode constraints (the
    ``winnow_admission`` contract).
    """
    n_order = min(order or lm.order, lm.order)
    total_rows = sum(lm.counts.values())
    if total_rows > max_broadcast_ngrams:
        raise ValueError(
            f"arpa_admission collects the model ({total_rows} n-gram "
            f"rows > {max_broadcast_ngrams}); use arpa_logloss (join "
            "form) for corpus-scale models, or prune the artifact"
        )
    ngrams = {}
    for k, tbl in lm.tables.items():
        if k > n_order:
            continue
        for r in tbl.collect():
            ngrams[tuple(r["gram"].split(" "))] = (r["logp"], r["bo"])
    bc = df.sparkSession.sparkContext.broadcast(
        (ngrams, lm.unk_log10)
    )

    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("arpa_ppl", T.DoubleType(), True),
            T.StructField("admitted", T.BooleanType(), False),
        ]
    )
    names = [f.name for f in df.schema.fields]

    def gate(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        model, unk = bc.value
        for pdf in batches:
            ppls, adm = [], []
            for text in pdf[text_col]:
                if text is None:
                    ppls.append(None)
                    adm.append(True)  # no evidence either way
                    continue
                _, _, ppl = score_arpa_py(
                    {0: text.split(" ")},
                    model,
                    order=n_order,
                    bos=bos,
                    unk_log10=unk,
                    oov_log10=oov_log10,
                )[0]
                ppls.append(ppl)
                adm.append(ppl <= max_ppl)
            out = pdf[names].copy()
            out["arpa_ppl"] = ppls
            out["admitted"] = adm
            yield out

    return df.mapInPandas(gate, schema=schema)
