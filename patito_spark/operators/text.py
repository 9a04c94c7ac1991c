"""Text-analysis operators for document pipelines.

Almost all operators are single-projection expressions (no shuffle, no
UDF): at 100 TB each runs as a map-only stage fused into the parquet
scan by whole-stage codegen. Per-document gram statistics such as
:func:`repetition_stats` run as one map-only Arrow stage; corpus-wide
ones such as :func:`cross_doc_repetition` shuffle the gram stream.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

# Deterministic marker vocabularies for the language-ID heuristic. At real
# scale these would be the top stopwords per language; the scoring mechanics
# (token-overlap voting, fixed tie order) are what the operator provides.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "value", "fast"),
    "de": ("der", "und", "table", "merge"),
    "fr": ("le", "et", "query", "window"),
    "es": ("el", "y", "data", "row"),
    "zh": ("de5", "shi4", "join", "batch"),
}


def _text(col: Union[str, Column]) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Union[str, Column]) -> Column:
    """Whitespace tokens of a text column."""
    return F.split(_text(text), " ")


def token_count(text: Union[str, Column]) -> Column:
    """Number of whitespace-delimited tokens."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Union[str, Column]) -> Column:
    """Token count under a BPE-ish regex (words, digits, punctuation runs).

    A cheap stand-in for a real tokenizer's length estimate; splits on word
    boundaries so punctuation and numbers count separately.
    """
    return F.size(
        F.filter(
            F.split(_text(text), r"(?<=\W)|(?=\W)"),
            lambda t: (t != "") & (t != " "),
        )
    )


def avg_token_length(text: Union[str, Column]) -> Column:
    """Mean token character length (double).

    Codegen formulation: the summed token length equals the text's
    non-space character count (tokens are the ' '-split segments), so no
    interpreted ``aggregate`` lambda is needed.
    """
    t = _text(text)
    n = F.size(tokens(text))
    # a single-space split of n tokens has exactly n − 1 delimiters, so
    # the summed token length is length − (n − 1): pure arithmetic, no
    # rebuilt string.
    total = (F.length(t) - (n - F.lit(1))).cast("double")
    return total / n


def punctuation_ratio(text: Union[str, Column]) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    import string as _string

    t = _text(text)
    # translate deletes every listed char in ONE char-table pass — same
    # stripped length as the regexp_replace('[A-Za-z0-9 ]') spelling
    # without the regex engine.
    keep = _string.ascii_uppercase + _string.ascii_lowercase + _string.digits + " "
    stripped = F.translate(t, keep, "")
    return F.length(stripped).cast("double") / F.length(t).cast("double")


def quality_score(text: Union[str, Column]) -> Column:
    """Heuristic document quality in [0, 1].

    Rewards reasonable length (saturating at 100 tokens) and word shape
    (average token length near natural language), penalizes punctuation
    soup. Pure IEEE-double arithmetic with power-of-two constants — the
    identical formula in another engine produces bit-identical doubles, so
    the result is deliberately NOT rounded (decimal rounding of values on
    a .5 boundary is engine-dependent and breaks exact cross-checks).
    """
    n = token_count(text).cast("double")
    length_component = F.least(n / F.lit(100.0), F.lit(1.0))
    shape_component = F.lit(1.0) - F.least(
        F.abs(avg_token_length(text) - F.lit(5.0)) / F.lit(5.0), F.lit(1.0)
    )
    punct_penalty = F.least(punctuation_ratio(text) * F.lit(4.0), F.lit(1.0))
    return (
        length_component * F.lit(0.5)
        + shape_component * F.lit(0.5)
        - punct_penalty * F.lit(0.25)
    )


def lang_scores(text: Union[str, Column]) -> dict[str, Column]:
    """Marker-token occurrence count per language.

    One ``regexp_count`` pass per language instead of an interpreted
    ``filter`` lambda over the split array (HOF lambdas evaluate per
    element outside codegen; the regex stays in the fused scan
    projection — measured 1.7× faster than even the explode+aggregate
    formulation at sf1, with zero shuffle). The pattern anchors each
    marker to whole single-space-split tokens: ``(?:^| )`` on the
    left, lookahead ``(?= |\\z)`` on the right (``\\z``, not ``$`` —
    Java's ``$`` also matches before a trailing newline, which would
    count a ``"the\\n"`` token the array formulation does not).
    Lookahead keeps adjacent markers countable ("the the" → 2).
    """
    import re as _re

    t = _text(text)
    return {
        lang: F.regexp_count(
            t,
            F.lit(
                "(?:^| )(?:"
                + "|".join(_re.escape(m) for m in markers)
                + r")(?= |\z)"
            ),
        )
        for lang, markers in LANG_MARKERS.items()
    }


def detect_language(text: Union[str, Column]) -> Column:
    """Argmax language by marker-token votes, fixed tie order (en first).

    Array-argmax over :func:`lang_scores`' regexp-count votes — pure
    codegen, zero shuffle, fuses into whatever projection reads the
    corpus (each vote expression appears exactly once; a when-chain
    argmax nests each score into every later comparison and
    re-evaluates O(langs) times per row — measured 4× slower at sf1).
    ``array_position`` returns the FIRST index holding the max, which is
    the same tie order as the strict ``>`` chain it replaces.

    NULL text returns the default language (``langs[0]``, 'en') — the same
    behavior as the original when-chain, whose literal default survived
    NULL comparisons. Without the guard, all-NULL votes hit an
    ``array_position`` edge case and return the LAST language instead.
    """
    scores = lang_scores(text)
    langs = list(LANG_MARKERS)
    votes = F.array(*[scores[lang] for lang in langs])
    idx = F.array_position(votes, F.array_max(votes)).cast("int")
    argmax = F.element_at(F.array(*[F.lit(lang) for lang in langs]), idx)
    return F.when(_text(text).isNull(), F.lit(langs[0])).otherwise(argmax)


#: Unicode block ranges per writing system (BMP; the blocks that cover
#: the overwhelming mass of web text). CJK groups Han + kana + hangul.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-zÀ-ɏ",
    "cyrillic": "Ѐ-ӿ",
    "greek": "Ͱ-Ͽ",
    "arabic": "؀-ۿݐ-ݿ",
    "hebrew": "֐-׿",
    "devanagari": "ऀ-ॿ",
    "cjk": "一-鿿぀-ヿㇰ-ㇿ가-힯",
    "thai": "฀-๿",
}


def script_counts(text: Union[str, Column]) -> dict[str, Column]:
    """Character count per writing system (codegen regexp arithmetic)."""
    t = _text(text)
    return {
        name: F.length(t) - F.length(
            F.regexp_replace(t, f"[{rng}]", "")
        )
        for name, rng in SCRIPT_RANGES.items()
    }


def detect_script(text: Union[str, Column]) -> Column:
    """Dominant writing system of a text column; ``'unknown'`` when no
    script characters at all (numbers/punctuation-only, empty, null).

    The robust first-stage multilingual router: language-ID models
    (including :func:`detect_language`'s marker vocabulary) only make
    sense WITHIN a script, so real pipelines group by script before
    any LM-based scoring (the CCNet shape). One codegen projection —
    a regexp count per block and an array argmax, no tokenization, no
    Python; ties resolve to the first block in :data:`SCRIPT_RANGES`
    order (array_position returns the first maximum).
    """
    counts = script_counts(text)
    names = list(SCRIPT_RANGES)
    votes = F.array(*[counts[n] for n in names])
    mx = F.array_max(votes)
    idx = F.array_position(votes, mx).cast("int")
    winner = F.element_at(F.array(*[F.lit(n) for n in names]), idx)
    return F.when(
        _text(text).isNull() | (mx <= F.lit(0)), F.lit("unknown")
    ).otherwise(winner)


def fingerprint(text: Union[str, Column]) -> Column:
    """Deterministic document fingerprint: md5 of case-folded text.

    md5 (not xxhash64/murmur3) so fingerprints are portable across engines
    and stable across Spark versions.
    """
    return F.md5(F.lower(_text(text)))


def profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All text metrics in one projection over a documents table."""
    return df.select(
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
        F.round(avg_token_length(text_col), 4).alias("avg_token_len"),
        F.round(punctuation_ratio(text_col), 4).alias("punct_ratio"),
        quality_score(text_col).alias("quality"),
        detect_language(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fingerprint"),
    )


#: Default PII patterns (RE2-compatible — no lookarounds — so SQL engines
#: can replay redaction for oracles; Java regex reads them identically).
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "PHONE": r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{3,4})?",
    "IPV4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def redact(
    text: Union[str, Column],
    patterns: Union[dict, None] = None,
) -> Column:
    """Replace PII matches with ``<LABEL>`` placeholders (map-only).

    ``patterns`` maps label -> regex; applied in insertion order (labels
    matched earlier are not re-scanned by later patterns since the
    placeholder contains no pattern characters). Pure ``regexp_replace``
    chain: whole-stage codegen, no UDF, fused into the scan.
    """
    col = _text(text)
    for label, pattern in (patterns or PII_PATTERNS).items():
        col = F.regexp_replace(col, pattern, f"<{label}>")
    return col


def pii_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: Union[dict, None] = None,
) -> DataFrame:
    """Per-document PII match counts, one per pattern (map-only).

    The observability companion to :func:`redact`: a dataset card
    reports how much PII the redaction pass FOUND, and a spike in one
    label's rate flags an upstream source change. Returns
    ``<id_col>, pii_<label>... , pii_total``. Counts use
    ``regexp_count`` per pattern — one codegen projection fused into
    the scan, no shuffle, no Python.
    """
    pats = patterns or PII_PATTERNS
    cols = [
        F.regexp_count(_text(text_col), F.lit(p)).alias(
            f"pii_{label.lower()}"
        )
        for label, p in pats.items()
    ]
    out = df.select(F.col(id_col), *cols)
    total = None
    for label in pats:
        c = F.col(f"pii_{label.lower()}")
        total = c if total is None else total + c
    return out.withColumn("pii_total", total)


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 2,
) -> DataFrame:
    """Gopher-style repetition metrics per document.

    Returns ``<id_col>, n_grams, dup_gram_frac, top_gram_frac`` where
    ``dup_gram_frac`` is the fraction of n-gram occurrences that are
    repeats (1 - distinct/total) and ``top_gram_frac`` the share of the
    single most frequent n-gram — the repetition filters from the Gopher
    data pipeline (Rae et al. 2021, table A1). Documents shorter than
    ``ngram`` tokens, and documents with NULL text, emit no row.

    ONE Arrow-batched ``mapInPandas`` stage computes each document's
    gram ``Counter`` in-batch: zero shuffles, bounded per-document
    memory, and no per-gram rows ever materialize — the right shape for
    a strictly per-document statistic. Round-11 interleaved race: 0.34 s
    against 0.77 s for the all-JVM ``arrays_zip`` gram build plus two
    hash aggregates at sf1, 0.28 s against 0.55 s at sf0.1
    (docs/perf.md).
    """
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("n_grams", T.LongType()),
            T.StructField("dup_gram_frac", T.DoubleType()),
            T.StructField("top_gram_frac", T.DoubleType()),
        ]
    )

    def stats(batches):
        from collections import Counter

        for pdf in batches:
            ids, n_grams, dup_frac, top_frac = [], [], [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:
                    continue
                toks = txt.split(" ")
                if len(toks) < ngram:
                    continue
                counts = Counter(
                    tuple(toks[j : j + ngram])
                    for j in range(len(toks) - ngram + 1)
                )
                total = sum(counts.values())
                ids.append(i)
                n_grams.append(total)
                dup_frac.append(1.0 - len(counts) / total)
                top_frac.append(max(counts.values()) / total)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_grams": n_grams,
                    "dup_gram_frac": dup_frac,
                    "top_gram_frac": top_frac,
                }
            )

    return df.select(id_col, text_col).mapInPandas(stats, out_schema)


def strip_html(text: Union[str, Column]) -> Column:
    """Remove HTML/XML tags and decode the common entities.

    Tag regex is non-greedy and newline-safe; entities beyond the common
    five decode to a space (lossy but boilerplate-safe). Pure
    ``regexp_replace`` chain — whole-stage codegen.
    """
    col = _text(text)
    col = F.regexp_replace(col, r"<[^>]*>", " ")
    for ent, rep in (
        ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "),
    ):
        col = F.regexp_replace(col, ent, rep)
    return F.regexp_replace(col, r"&[a-zA-Z#0-9]+;", " ")


def normalize_whitespace(text: Union[str, Column]) -> Column:
    """Collapse all whitespace runs to single spaces and trim."""
    return F.trim(F.regexp_replace(_text(text), r"\s+", " "))


def remove_control_chars(text: Union[str, Column]) -> Column:
    """Drop C0/C1 control characters except tab/newline/carriage-return."""
    return F.regexp_replace(
        _text(text), r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]", ""
    )


def _mojibake_form(ch: str) -> str:
    """What ``ch`` becomes when its UTF-8 bytes are read as cp1252.

    Bytes cp1252 leaves undefined (0x81/0x8d/0x8f/0x90/0x9d) pass
    through at their Latin-1 codepoint — the "sloppy cp1252" every
    real-world decoder (and ftfy) applies, and what actually appears
    in crawls.
    """
    out = []
    for b in ch.encode("utf-8"):
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


#: Characters whose UTF-8-read-as-cp1252 double-encode artifacts are
#: repaired: the ENTIRE Latin-1 letter block U+00C0-U+00FF (every
#: accented Latin letter has a 2-byte UTF-8 form, so the list is
#: closed and generated, not curated) plus smart punctuation,
#: guillemets, degree and euro. The nbsp artifact maps to a plain
#: space - corpus text wants none.
_MOJIBAKE_CHARS = tuple(chr(c) for c in range(0x00C0, 0x0100)) + (
    "\u2019", "\u2018", "\u201c", "\u201d", "\u2013", "\u2014",
    "\u2026", "\u2022", "\u20ac", "\u00ab", "\u00bb", "\u00b0",
)

#: (broken, fixed) pairs - generated from the intended characters,
#: never hand-typed, so the artifact byte sequences are exact.
_MOJIBAKE_TABLE = tuple(
    (_mojibake_form(c), c) for c in _MOJIBAKE_CHARS
) + ((_mojibake_form("\u00a0"), " "),)


def fix_mojibake(text: Union[str, Column]) -> Column:
    """Repair the common UTF-8-as-cp1252 double-encode artifacts.

    Web crawls are full of ``Ã©`` (é), ``â€™`` (right quote), ``Â``
    glued to no-break spaces — bytes that were UTF-8, got read as
    cp1252/Latin-1, and re-encoded. This fixes the high-frequency
    table (accented Latin letters, smart punctuation, nbsp/guillemets)
    as a chain of literal ``replace`` expressions — whole-stage
    codegen, map-only, safe to run on clean text (the artifact
    sequences are vanishingly rare in intentional text). It is NOT a
    general ftfy: triple-encodes and exotic pages need a real
    encoding-repair pass behind a Pandas UDF.
    """
    col = _text(text)
    for broken, fixed in _MOJIBAKE_TABLE:
        col = F.replace(col, F.lit(broken), F.lit(fixed))
    return col


def extract_html_text(text: Union[str, Column]) -> Column:
    """HTML page → readable text, preserving paragraph structure.

    The step between :func:`..sources.warc.read_warc` payloads and the
    corpus pipeline. Beyond :func:`strip_html` it removes the CONTENT
    of non-text elements (``script``/``style``/``noscript``/
    ``template``, HTML comments — tag-stripping alone would leak
    JavaScript and CSS bodies into training text), and converts
    block-level tags to ``\\n\\n`` so paragraph boundaries survive for
    the paragraph-dedup/boilerplate stages (which key on blank lines
    and must run BEFORE ``clean_text`` flattens them). Horizontal
    whitespace collapses; 3+ newlines collapse to one blank line.
    Pure ``regexp_replace`` chain — whole-stage codegen, map-only.
    For layout-aware extraction (tables, boilerplate scoring à la
    trafilatura) plug a Pandas-UDF extractor instead; this is the
    dependency-free 90% case.
    """
    col = _text(text)
    col = F.regexp_replace(
        col, r"(?is)<(script|style|noscript|template)\b[^>]*>.*?</\1\s*>", " "
    )
    col = F.regexp_replace(col, r"(?s)<!--.*?-->", " ")
    col = F.regexp_replace(
        col,
        r"(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|thead|tbody|section"
        r"|article|aside|header|footer|blockquote|pre|figure|form)\b[^>]*/?>",
        "\n\n",
    )
    col = strip_html(col)
    col = F.regexp_replace(col, r"[ \t\x0b\f\r]+", " ")
    col = F.regexp_replace(col, r" ?\n ?", "\n")
    col = F.regexp_replace(col, r"\n{3,}", "\n\n")
    # trim() strips spaces only; edge tags leave leading/trailing \n\n
    return F.regexp_replace(col, r"^\s+|\s+$", "")


def clean_text(text: Union[str, Column]) -> Column:
    """Standard pre-training text cleanup: strip HTML, drop control
    characters, normalize whitespace — one codegen projection."""
    return normalize_whitespace(remove_control_chars(strip_html(text)))


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    out_col: Optional[str] = None,
) -> DataFrame:
    """Unicode-normalize a text column (NFC/NFKC/NFD/NFKD).

    Crawled corpora mix composed and decomposed encodings of the same
    glyph ("é" as U+00E9 vs e + U+0301) and NFKC-foldable compatibility
    forms (ligatures, full-width Latin) — byte-level dedup keys,
    shingle hashes and vocabulary counts all silently treat those as
    different text. Run this BEFORE any hashing stage when the corpus
    mixes sources; NFC is the safe default (canonical only), NFKC
    additionally folds compatibility characters (more collisions, some
    lossy — the usual choice for dedup keys, not for the stored text).

    Spark has no built-in normalizer expression, so this is one
    map-only Arrow stage over ``unicodedata`` (stdlib, vectorized per
    batch); rows already normalized pass through byte-identical. Null
    text stays null. ``out_col=None`` replaces ``text_col``.
    """
    import unicodedata

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(
            f"form must be one of NFC/NFKC/NFD/NFKD, got {form!r}"
        )
    import pandas as pd  # noqa: F401 (schema of the closure)

    target = out_col or text_col
    fields = list(df.schema.fields)
    if target not in df.columns:
        fields = fields + [T.StructField(target, T.StringType(), True)]
    schema = T.StructType(fields)

    def norm(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf[target] = [
                unicodedata.normalize(form, t) if t is not None else None
                for t in pdf[text_col]
            ]
            yield pdf

    return df.mapInPandas(norm, schema=schema)


def filter_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: Optional[float] = None,
    languages: Optional[Sequence[str]] = None,
    max_dup_gram_frac: Optional[float] = None,
    max_shared_gram_frac: Optional[float] = None,
    min_tokens: Optional[int] = None,
    max_tokens: Optional[int] = None,
    repetition_ngram: int = 2,
    shared_ngram: int = 3,
) -> DataFrame:
    """One-call quality gate: keep documents passing every enabled check.

    Composes the individual scorers (quality_score, detect_language,
    repetition_stats, cross_doc_repetition, token_count) into a single
    filtered projection of the input — the Gopher-style rule stack. Only
    the repetition checks cost shuffles (their per-gram aggregates, and
    ``max_shared_gram_frac`` is corpus-wide: its gram doc-frequencies
    see every surviving document); everything else stays in the scan's
    projection, so with both repetition gates None the whole gate is
    map-only. Returns the input rows (all columns) that pass.
    """
    out = df
    if min_tokens is not None or max_tokens is not None:
        n = token_count(text_col)
        if min_tokens is not None:
            out = out.filter(n >= min_tokens)
        if max_tokens is not None:
            out = out.filter(n <= max_tokens)
    if min_quality is not None:
        out = out.filter(quality_score(text_col) >= min_quality)
    if languages is not None:
        out = out.filter(detect_language(text_col).isin(*languages))
    if max_dup_gram_frac is not None:
        reps = repetition_stats(
            out.select(id_col, text_col),
            id_col=id_col,
            text_col=text_col,
            ngram=repetition_ngram,
        )
        keep = reps.filter(
            F.col("dup_gram_frac") <= max_dup_gram_frac
        ).select(id_col)
        out = out.join(keep, on=id_col, how="left_semi")
    if max_shared_gram_frac is not None:
        shared = cross_doc_repetition(
            out.select(id_col, text_col),
            id_col=id_col,
            text_col=text_col,
            ngram=shared_ngram,
        )
        keep = shared.filter(
            F.col("shared_gram_frac") <= max_shared_gram_frac
        ).select(id_col)
        out = out.join(keep, on=id_col, how="left_semi")
    return out


def corpus_stats(
    df: DataFrame,
    text_col: str = "text",
    group_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Per-group corpus report: doc/token counts and quality quantiles.

    One hash aggregate over a map-only projection (token counts and
    quality are scan-side expressions; quantiles via approx_percentile —
    the mergeable sketch, never a sort). The standard dataset-card
    table, per source/language at any scale.
    """
    group_cols = list(group_cols or [])
    scored = df.select(
        *group_cols,
        token_count(text_col).alias("__n_tok"),
        quality_score(text_col).alias("__q"),
    )
    agg = [
        F.count("*").alias("n_docs"),
        F.sum("__n_tok").alias("n_tokens"),
        F.round(F.avg("__n_tok"), 2).alias("avg_tokens"),
        F.expr(
            "percentile_approx(__n_tok, array(0.5, 0.95), 10000)"
        ).alias("tokens_p50_p95"),
        F.round(F.avg("__q"), 4).alias("avg_quality"),
        F.expr(
            "percentile_approx(__q, array(0.1, 0.5, 0.9), 10000)"
        ).alias("quality_p10_p50_p90"),
    ]
    if group_cols:
        return scored.groupBy(*group_cols).agg(*agg)
    return scored.agg(*agg)


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: Optional[int] = None,
    min_count: int = 1,
) -> DataFrame:
    """Corpus token vocabulary: term counts, document frequencies, ranks.

    Returns ``token, count, doc_freq`` (plus ``rank`` when ``top_n`` is
    given) — the input to tokenizer-vocab construction and IDF weighting
    in a training-data pipeline.

    Scale shape: a document's tokens live entirely in its own input
    row, so the (token, doc) aggregate is doc-local — the round-15
    tf_idf/BM25 kernel ``_doc_token_counts_arrow`` computes the per-doc
    counts as ONE map-only Arrow stage with no exchange, then a single
    map-side-combined aggregate reduces to one row per token (the
    explode + two-stage hash-aggregate cascade lost to it at sf1,
    docs/perf.md). ``rank`` (dense by ``count`` desc,
    ``token`` asc — deterministic across engines) is only computed
    under ``top_n``, where the surviving vocabulary is small enough for
    the single-partition window it requires; an unbounded ranked vocab
    would serialize the sort.

    ``id_col`` must be unique per row (it identifies documents — the
    ``_doc_token_counts_arrow`` contract): counts are per INPUT ROW, so
    duplicate ids would each contribute to ``doc_freq``.
    """
    from pyspark.sql import Window

    per_doc = _doc_token_counts_arrow(df, text_col, id_col, "__dl")
    vocab = per_doc.groupBy("token").agg(
        F.sum("__n").alias("count"),
        F.count("*").alias("doc_freq"),
    )
    if min_count > 1:
        vocab = vocab.filter(F.col("count") >= min_count)
    if top_n is not None:
        vocab = vocab.orderBy(
            F.col("count").desc(), F.col("token").asc()
        ).limit(top_n)
        w = Window.orderBy(F.col("count").desc(), F.col("token").asc())
        vocab = vocab.withColumn(
            "rank", F.row_number().over(w).cast("long")
        )
    return vocab


# tf_idf's cached (doc, token) aggregate, bounded to the most recent
# call — see the comment inside tf_idf. Module-level so successive calls
# (possibly over different corpora) can release each other's caches.
_TFIDF_VOCAB_CACHE: list = []


def _doc_token_counts_arrow(
    df: DataFrame, text_col: str, id_col: str, len_col: str
) -> DataFrame:
    """Per-document token counts as ONE map-only Arrow stage.

    Emits exactly the rows of ``explode(tokens) + groupBy(id, token,
    size)`` — one row per (doc, token) with the within-doc count and
    the doc's token total — WITHOUT the explode or the aggregate's
    exchange: a document's tokens live entirely in its own input row,
    so the "aggregate" is doc-local and needs no shuffle (round 15;
    the corpus-sized (doc, token) exchange was the tf_idf/BM25
    pipelines' one non-output-sized shuffle). Tokenization parity with
    ``tokens()``: split on a single space with empty strings kept,
    null text yields no rows. Per batch: pd.factorize the flat token
    stream, combine (doc, code) into one int64 key, np.unique with
    counts — all C-speed.
    """
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("token", StringType()),
            StructField(len_col, IntegerType()),
            StructField("__n", LongType()),
        ]
    )

    def kernel(batches):
        from itertools import chain

        import numpy as np
        import pandas as pd

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
            codes, uniques = pd.factorize(flat)
            uniq_arr = np.asarray(uniques, dtype=object)
            n_u = len(uniq_arr)
            doc_idx = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
            keys = doc_idx * n_u + codes
            uk, cnt = np.unique(keys, return_counts=True)
            d = uk // n_u
            yield pd.DataFrame(
                {
                    id_col: ids[d],
                    "token": uniq_arr[uk % n_u],
                    len_col: lens[d].astype(np.int32),
                    "__n": cnt.astype(np.int64),
                }
            )

    return df.select(id_col, text_col).mapInPandas(kernel, out_schema)


def tf_idf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
    n_docs: Optional[int] = None,
    max_broadcast_vocab: Optional[int] = 2_000_000,
) -> DataFrame:
    """Sparse TF-IDF document vectors.

    Returns ``<id_col>, token, tf, idf, tf_idf`` rows — the sparse
    representation (dense vectors only materialize at the consumer, if
    ever; a 100 TB corpus's vocabulary makes dense rows absurd).
    ``tf`` is the within-document frequency (count / doc tokens, the
    denominator computed map-side from the text itself — no second
    aggregate), ``idf = ln((N + 1) / (doc_freq + 1)) + 1`` (smoothed,
    scikit-learn convention, natural log on every engine).

    Scale shape: ONE map-only (doc, token) count stage over the corpus
    (``_doc_token_counts_arrow``; the explode + hash-aggregate spelling
    lost to it at sf1, docs/perf.md) — the vocabulary's document
    frequencies are derived from those same counts (docs per token), not
    from a second :func:`build_vocab` scan (round 9: the second scan was
    ~half the operator's wall at sf1). The per-doc counts are persisted so the
    derivation, the broadcast-gate probe, and the final join all read
    one materialization; the cache is bounded to the most recent tf_idf
    call (a new call releases the previous one) and released early by
    ``patito_spark.release_caches()``.

    The vocab side is broadcast ONLY while it fits under
    ``max_broadcast_vocab`` rows (default 2M ≈ low hundreds of MB per
    executor). On web-scale text the distinct-token count is
    data-dependent and unbounded (typos, URLs, code identifiers), so an
    unconditional broadcast is a driver/executor OOM waiting to happen;
    above the bound this falls back to a shuffle join, which AQE will
    still convert back to broadcast if the runtime size allows. Callers
    who KNOW the vocabulary is small (e.g. ``min_count``/``top_n``
    bounded upstream) pass ``max_broadcast_vocab=None`` to skip the
    probe and force broadcast (no persist happens on that path — the
    aggregate runs once per consuming branch instead). ``n_docs`` skips
    the corpus count when the caller already knows it.

    Cache-scope caveat: the persisted (doc, token) aggregate is bounded
    to the MOST RECENT tf_idf call per process — a new call releases
    the previous call's cache, so a still-unconsumed earlier result
    silently recomputes its tokenize+explode+aggregate on next use
    (correct, slower), and concurrent tf_idf pipelines in one session
    race on the same slot. Consume (or persist) each result before the
    next call, or pass ``max_broadcast_vocab=None`` to opt out of the
    shared cache entirely.
    """
    n = n_docs
    # Map-only Arrow counts (round 15): the (doc, token) aggregate is
    # doc-local, so an exchange for it would be pure overhead.
    counts = _doc_token_counts_arrow(df, text_col, id_col, "__total")
    if max_broadcast_vocab is not None:
        # Persist BEFORE anything consumes counts: the vocab derivation
        # below, its probe count, and the final join are three branches
        # over this one aggregate — uncached, each would re-run the
        # whole tokenize + explode + agg. The return is lazy, so the
        # cache cannot be dropped here; accumulation is bounded to ONE
        # cached aggregate per session (each new tf_idf call releases
        # the previous call's — by then its result has normally been
        # consumed; if not, the older result just recomputes on next
        # use — correct, slower).
        from patito_spark.functions.cache import tracked_persist

        while _TFIDF_VOCAB_CACHE:
            _TFIDF_VOCAB_CACHE.pop().unpersist()
        counts = tracked_persist(counts)
        _TFIDF_VOCAB_CACHE.append(counts)
    # Document frequency from the SAME aggregate: counts has exactly one
    # row per (doc, token), so docs-per-token is a row count; the corpus
    # term count for min_count is the sum of within-doc counts.
    vocab = counts.groupBy("token").agg(
        F.count("*").alias("doc_freq"), F.sum("__n").alias("__cnt")
    )
    if min_count > 1:
        vocab = vocab.filter(F.col("__cnt") >= min_count)
    vocab = vocab.drop("__cnt")
    # ONE driver action serves both scalars (round 15): the corpus doc
    # count and the broadcast-gate probe ride a single 1-row x 1-row
    # crossJoin job — the doc-count stage runs in parallel with the
    # (cache-materializing) vocab aggregate instead of as a separate
    # serial round trip. Callers passing n_docs skip the doc count;
    # max_broadcast_vocab=None skips the probe.
    vocab_rows: Optional[int] = None
    if max_broadcast_vocab is not None and n is None:
        probe = (
            vocab.agg(F.count("*").alias("__nv"))
            .crossJoin(df.agg(F.count("*").alias("__nd")))
            .first()
        )
        vocab_rows, n = probe["__nv"], probe["__nd"]
    elif max_broadcast_vocab is not None:
        vocab_rows = vocab.count()
    elif n is None:
        n = df.count()
    if max_broadcast_vocab is None or vocab_rows <= max_broadcast_vocab:
        vocab = F.broadcast(vocab)
    idf = F.log((F.lit(float(n)) + 1.0) / (F.col("doc_freq") + 1.0)) + 1.0
    return (
        counts.join(vocab, on="token")
        .select(
            F.col(id_col),
            "token",
            (F.col("__n") / F.col("__total")).alias("tf"),
            idf.alias("idf"),
            ((F.col("__n") / F.col("__total")) * idf).alias("tf_idf"),
        )
    )


def bm25_scores(
    df: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_text_col: str = "query",
    query_id_col: str = "query_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: Optional[int] = None,
    n_docs: Optional[int] = None,
    avgdl: Optional[float] = None,
    max_broadcast_query_terms: Optional[int] = None,
) -> DataFrame:
    """Okapi BM25 retrieval (Robertson et al.; the Lucene non-negative
    IDF variant): score every document against a small query set.

    ``score(q, d) = Σ_{t ∈ q} ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
    · tf_td·(k1+1) / (tf_td + k1·(1 − b + b·dl_d/avgdl))`` with set
    semantics over query terms (duplicate query tokens score once, the
    standard short-query form). Returns ``query_id, <id_col>, score``
    sparse rows — only (query, doc) pairs sharing a term appear; add
    ``top_k`` for ranked retrieval (appends ``rank``, ties break on
    doc id). The text-side retrieval twin of ``cosine_topk`` — the
    standard first stage for decontamination-by-retrieval and
    description-based corpus selection.

    Scale shape: ONE tokenize + explode + (doc, token) aggregate over
    the corpus (the :func:`tf_idf` shape; document length rides the
    aggregate key, so scoring needs no join-back). When the caller
    omits ``n_docs``/``avgdl`` they are derived from that SAME
    aggregate (persisted; the stats action doubles as the cache
    materialization), so the default call is single-scan — and uses
    the same corpus-statistics convention as :func:`build_bm25_index`:
    N counts posting-bearing documents and avgdl averages over them,
    so ``bm25_scores(corpus, q)`` and
    ``bm25_topk(build_bm25_index(corpus), q)`` score identically even
    when null-text documents exist (null-text docs carry no postings,
    can never match a query, and are excluded from the statistics on
    both paths). The query side is exploded
    to distinct (query, term) rows and BROADCAST (optionally gated, see
    below), so corpus postings are pruned to query terms by a map-side hash
    join before anything shuffles; document frequencies come from the
    pruned postings (df_t counts ALL docs containing t because the
    posting list for t survives pruning whole). One corpus shuffle
    (the aggregate), one tiny reduce per (query, doc); the optional
    ``top_k`` window plans a Partial WindowGroupLimit above the
    exchange. Summation order varies with partitioning — compare
    scores with a tolerance or round, like every LM score here.

    ``max_broadcast_query_terms`` guards the broadcast with an exact
    count when set (pass ``similarity.MAX_BROADCAST_QUERIES`` for the
    standard cap); the default ``None`` skips the probe job — the
    query side of a retrieval call is normally known-small, and an
    oversized one fails at broadcast build with Spark's own limit
    rather than silently degrading.
    """
    counts = _bm25_postings(df, text_col, id_col)
    prune_persist = True
    if n_docs is None or avgdl is None:
        # Derive the statistics from the postings aggregate itself —
        # distinct-doc rows carry __dl and within-doc counts sum to the
        # token total — instead of a second tokenize+size corpus scan.
        # Persisting BEFORE the stats action makes that action the
        # cache materialization; the rank branches below then re-read
        # the cache, keeping the default call single-scan.
        from patito_spark.functions.cache import tracked_persist

        counts = tracked_persist(counts)
        prune_persist = False
        stats = counts.agg(
            F.count_distinct(F.col(id_col)).alias("nd"),
            F.sum("__n").alias("tt"),
        ).first()
        nd = stats["nd"] or 0
        if n_docs is None:
            n_docs = nd
        if avgdl is None:
            avgdl = (float(stats["tt"]) / nd) if nd else 1.0
    n = n_docs

    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(tokens(query_text_col)).alias("token"),
        )
        .distinct()
    )
    if max_broadcast_query_terms is not None:
        n_terms = qterms.count()
        if n_terms > max_broadcast_query_terms:
            raise ValueError(
                f"bm25_scores broadcasts the (query, term) set; got "
                f"{n_terms} distinct pairs > {max_broadcast_query_terms}. "
                "Split the query batch."
            )

    # Prune postings to query terms FIRST (map-side broadcast hash
    # join): df_t and avgdl must not depend on the pruning, so avgdl
    # comes from the corpus aggregate above and df_t from the pruned
    # postings — the full posting list of every surviving term is
    # intact, making its distinct-doc count exact. When the corpus
    # aggregate is already persisted (stats path) the pruned subset is
    # not re-persisted: both rank branches re-read the cache.
    return _bm25_rank(
        counts, qterms, n, avgdl, k1, b, top_k, id_col,
        persist=prune_persist,
    )


def _bm25_postings(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The BM25 corpus aggregate: one (doc, token, doc-length) count.

    Map-only Arrow stage since round 15 (`_doc_token_counts_arrow`) —
    the counts are doc-local, so the old explode + groupBy exchange
    was pure overhead. Reorders columns to the historical
    (id, __dl, token riding groupBy) contract consumers index by name.
    """
    return _doc_token_counts_arrow(df, text_col, id_col, "__dl")


def _bm25_rank(
    counts: DataFrame,
    qterms: DataFrame,
    n: float,
    avgdl: float,
    k1: float,
    b: float,
    top_k: Optional[int],
    id_col: str,
    persist: bool,
) -> DataFrame:
    """Score pruned postings against a broadcast (query, term) set."""
    term_list = F.broadcast(qterms.select("token").distinct())
    postings = counts.join(term_list, on="token")

    if persist:
        from patito_spark.functions.cache import tracked_persist

        postings = tracked_persist(postings)
    doc_freq = postings.groupBy("token").agg(
        F.count("*").alias("__df")
    )
    idf = F.log(
        1.0
        + (F.lit(float(n)) - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    term_score = idf * (
        F.col("__n")
        * (k1 + 1.0)
        / (
            F.col("__n")
            + k1 * (1.0 - b + b * F.col("__dl") / F.lit(avgdl))
        )
    )
    scored = (
        postings.join(F.broadcast(doc_freq), on="token")
        .join(F.broadcast(qterms), on="token")
        .select("query_id", id_col, term_score.alias("__s"))
        .groupBy("query_id", id_col)
        .agg(F.sum("__s").alias("score"))
    )
    if top_k is None:
        return scored
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


class Bm25Index:
    """Reusable BM25 index: the persisted (doc, token, dl) postings
    aggregate plus its corpus statistics — build once, serve many query
    batches without re-scanning the corpus (the ``LshIndex``/
    ``IvfIndex`` contract for the text side)."""

    def __init__(
        self, postings: DataFrame, n_docs: int, avgdl: float, id_col: str
    ):
        self.postings = postings
        self.n_docs = n_docs
        self.avgdl = avgdl
        self.id_col = id_col

    def unpersist(self) -> "Bm25Index":
        self.postings.unpersist()
        return self

    def write(self, path: str, mode: str = "error") -> None:
        spark = self.postings.sparkSession
        self.postings.write.mode(mode).parquet(f"{path}/postings")
        spark.createDataFrame(
            [(int(self.n_docs), float(self.avgdl), self.id_col)],
            "n_docs long, avgdl double, id_col string",
        ).coalesce(1).write.mode(mode).parquet(f"{path}/meta")

    @classmethod
    def read(cls, spark, path: str, materialize: bool = True) -> "Bm25Index":
        from patito_spark.sources.readers import read_inferred

        postings = read_inferred(spark, "parquet", f"{path}/postings")
        if materialize:
            postings = postings.persist()
        meta = read_inferred(spark, "parquet", f"{path}/meta").first()
        return cls(postings, meta["n_docs"], meta["avgdl"], meta["id_col"])


def build_bm25_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> Bm25Index:
    """Build the :class:`Bm25Index`: ONE corpus aggregate, persisted,
    with (n_docs, avgdl) derived from the SAME materialization (sum of
    within-doc counts over distinct docs — no second text scan; the
    stats action doubles as the cache materialization). Documents with
    null text carry no postings and are absent from the statistics —
    the retrieval semantics (they can never match a query anyway).
    """
    # Plain persist, NOT tracked_persist: the postings are a
    # session-lived artifact OWNED BY THE INDEX (release via
    # index.unpersist()), the LshIndex/IvfIndex convention —
    # build-once/query-many is the steady state, and a tracked persist
    # would be swept by release_caches() between query batches.
    postings = _bm25_postings(df, text_col, id_col).persist()
    stats = postings.agg(
        F.count_distinct(F.col(id_col)).alias("nd"),
        F.sum("__n").alias("tt"),
    ).first()
    n_docs = stats["nd"] or 0
    avgdl = (float(stats["tt"]) / n_docs) if n_docs else 1.0
    return Bm25Index(postings, n_docs, avgdl, id_col)


def bm25_topk(
    index: Bm25Index,
    queries: DataFrame,
    k: int = 10,
    query_text_col: str = "query",
    query_id_col: str = "query_id",
    k1: float = 1.2,
    b: float = 0.75,
    max_broadcast_query_terms: Optional[int] = None,
) -> DataFrame:
    """Ranked BM25 retrieval against a prebuilt :class:`Bm25Index` —
    each query batch costs one broadcast prune + one tiny aggregate +
    the partial-limited rank window; the corpus is never re-scanned.
    Returns ``query_id, <id_col>, score, rank``.
    """
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(tokens(query_text_col)).alias("token"),
        )
        .distinct()
    )
    if max_broadcast_query_terms is not None:
        n_terms = qterms.count()
        if n_terms > max_broadcast_query_terms:
            raise ValueError(
                f"bm25_topk broadcasts the (query, term) set; got "
                f"{n_terms} distinct pairs > {max_broadcast_query_terms}. "
                "Split the query batch."
            )
    return _bm25_rank(
        index.postings, qterms, index.n_docs, index.avgdl,
        k1, b, k, index.id_col, persist=False,
    )


def unigram_logloss(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lm: Optional[DataFrame] = None,
    smoothing_k: float = 1.0,
    max_broadcast_vocab: int = 2_000_000,
) -> DataFrame:
    """Per-document unigram cross-entropy and perplexity (CCNet-style
    quality signal: documents unlike the reference corpus score high).

    ``lm`` is a language model as ``(token, count)`` rows — typically
    :func:`build_vocab` over a trusted reference corpus; default is the
    input corpus itself (self-perplexity: surfaces outlier documents).
    Token probability is add-k smoothed over the LM vocabulary,
    ``p(t) = (count(t) + k) / (total + k·(V + 1))``, with unseen tokens
    falling to the ``count = 0`` floor — every document gets a finite
    score. Returns ``<id_col>, n_tokens, cross_entropy, perplexity``
    (natural log; perplexity = exp(H)).

    Scale shape: the LM reduces to one (token, count) table — broadcast
    while it fits under ``max_broadcast_vocab`` rows (a curated LM is
    normally a top-N vocab, but the default ``lm=None`` self-vocab path
    is unbounded on web-scale text, so the gate matters there); above
    the bound the probability lookup falls back to a shuffle join. The
    gate is FREE here: the totals job below already materializes the
    exact vocabulary size ``v``. The corpus explodes to token rows once
    and aggregates per document with map-side combine. One shuffle, no
    Python. Double summation order varies with partitioning, so scores
    are reproducible to ~1e-12 relative, not bit-exact — compare with a
    tolerance, not a hash.
    """
    internal_lm = lm is None
    lm = lm if lm is not None else build_vocab(df, text_col=text_col, id_col=id_col)
    lm = lm.select("token", "count")
    if internal_lm:
        # The self-LM is read twice (totals action + the probability
        # join side); persist so the vocabulary aggregate runs once —
        # the totals .first() below materializes the cache. Registered
        # for release_caches().
        from patito_spark.functions.cache import tracked_persist

        lm = tracked_persist(lm)
    totals = lm.agg(
        F.sum("count").alias("__total"), F.count("*").alias("__v")
    ).first()
    total, v = totals["__total"] or 0, totals["__v"]
    denom = float(total) + smoothing_k * (v + 1)

    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    lm_side = F.broadcast(lm) if v <= max_broadcast_vocab else lm
    with_p = toks.join(lm_side, on="token", how="left").select(
        id_col,
        (
            -F.log(
                (F.coalesce(F.col("count"), F.lit(0)) + F.lit(smoothing_k))
                / F.lit(denom)
            )
        ).alias("__nll"),
    )
    return with_p.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.avg("__nll").alias("cross_entropy"),
        F.exp(F.avg("__nll")).alias("perplexity"),
    )


def build_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bigrams: Optional[int] = 4_000_000,
) -> DataFrame:
    """Bigram counts for :func:`bigram_logloss`: ``w1, w2, count``.

    One explode of adjacent token pairs + one hash aggregate with
    map-side combine. ``max_bigrams`` keeps the top-N by count (ties
    broken bytewise for determinism) — web-scale bigram tables are
    unbounded, and a pruned tail simply falls to the backoff path in
    scoring, degrading the score smoothly rather than the plan. The
    top-N is a ``TakeOrdered`` (partial per-partition top-N, no global
    sort materialization).
    """
    # arrays_zip (codegen) over zip_with (interpreted lambda): ~2.5x on
    # the pair explode that dominates the build.
    toks = tokens(text_col)
    n = F.size(toks)
    pairs = df.select(
        F.explode(
            F.arrays_zip(
                F.slice(toks, F.lit(1), n - F.lit(1)),
                F.slice(toks, F.lit(2), n - F.lit(1)),
            )
        ).alias("bg")
    ).select(
        F.col("bg").getField("0").alias("w1"),
        F.col("bg").getField("1").alias("w2"),
    )
    lm = pairs.groupBy("w1", "w2").agg(F.count("*").alias("count"))
    if max_bigrams is not None:
        lm = lm.orderBy(
            F.col("count").desc(), F.col("w1").asc(), F.col("w2").asc()
        ).limit(max_bigrams)
    return lm


def bigram_logloss(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unigram_lm: Optional[DataFrame] = None,
    bigram_lm: Optional[DataFrame] = None,
    backoff: float = 0.4,
    smoothing_k: float = 1.0,
    max_broadcast_vocab: int = 2_000_000,
) -> DataFrame:
    """Per-document bigram cross-entropy under stupid backoff.

    The order-2 upgrade of :func:`unigram_logloss` (CCNet filters with
    a 5-gram KenLM; bigrams already capture what unigrams cannot —
    word ORDER, so a bag-of-words spam page no longer scores like
    prose). Score per position: ``count(w1,w2)/count(w1)`` when the
    bigram is in the LM, else ``backoff × p_uni(w2)`` (add-k smoothed
    unigram, unseen tokens at the count-0 floor); the document's first
    token scores ``p_uni`` alone. Stupid backoff (Brants et al. 2007)
    is deliberately unnormalized — a ranking/filtering score, not a
    true probability, which is exactly the corpus-gate use.

    Default LMs are the corpus's own (self-scoring surfaces outliers);
    pass ``unigram_lm`` (``build_vocab`` output) and ``bigram_lm``
    (:func:`build_bigram_lm` output) for a curated reference corpus.

    Scale shape: one positioned-pair explode over the corpus, one
    broadcast join against the bigram table and two against the
    unigram table (denominator + backoff), one per-doc aggregate with
    map-side combine. LM sides fall back to shuffle joins past
    ``max_broadcast_vocab`` rows. Returns ``<id_col>, n_tokens,
    cross_entropy, perplexity`` (natural log, mean over n_tokens
    positions; ~1e-12 summation noise — compare with tolerance).
    """
    if not 0 < backoff <= 1:
        raise ValueError(f"backoff must be in (0, 1], got {backoff}")
    uni = (
        unigram_lm
        if unigram_lm is not None
        else build_vocab(df, text_col=text_col, id_col=id_col)
    ).select("token", "count")
    if unigram_lm is None:
        # The self-LM default reads `uni` three times (totals action +
        # two broadcast sides); persist so the vocab aggregate runs
        # once — the totals .first() below materializes the cache.
        # Registered for patito_spark.release_caches(); callers scoring
        # many corpora should pass precomputed LMs instead.
        from patito_spark.functions.cache import tracked_persist

        uni = tracked_persist(uni)
    bi = (
        bigram_lm
        if bigram_lm is not None
        else build_bigram_lm(df, text_col=text_col, id_col=id_col)
    ).select("w1", "w2", F.col("count").alias("__bi_n"))

    totals = uni.agg(
        F.sum("count").alias("t"), F.count("*").alias("v")
    ).first()
    total, v = totals["t"] or 0, totals["v"]
    denom = float(total) + smoothing_k * (v + 1)

    def _side(frame: DataFrame, rows: int) -> DataFrame:
        return F.broadcast(frame) if rows <= max_broadcast_vocab else frame

    uni_w = _side(uni.select(F.col("token").alias("__w"),
                             F.col("count").alias("__uni_n")), v)
    uni_prev = _side(uni.select(F.col("token").alias("__w_prev"),
                                F.col("count").alias("__prev_n")), v)
    # The bigram table row count is not yet known (and counting it
    # would force the aggregate twice); gate on the unigram vocab as
    # the proxy — a corpus whose unigram vocab overflows broadcast has
    # long overflowed it for bigrams.
    bi_w = _side(
        bi.select(F.col("w1").alias("__w_prev"), F.col("w2").alias("__w"),
                  "__bi_n"),
        v,
    )

    toks = tokens(text_col)
    n = F.size(toks)
    # arrays_zip (codegen) over zip_with (interpreted lambda) — see
    # lm_quality_scores.
    positions = df.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.concat(F.array(F.lit(None).cast("string")),
                         F.slice(toks, F.lit(1), n - F.lit(1))),
                toks,
            )
        ).alias("pos"),
    ).select(
        id_col,
        F.col("pos").getField("0").alias("__w_prev"),
        F.col("pos").getField("1").alias("__w"),
    )
    scored = (
        positions.join(bi_w, on=["__w_prev", "__w"], how="left")
        .join(uni_w, on="__w", how="left")
        .join(uni_prev, on="__w_prev", how="left")
    )
    p_uni = (
        (F.coalesce(F.col("__uni_n"), F.lit(0)) + F.lit(smoothing_k))
        / F.lit(denom)
    )
    p = (
        F.when(
            F.col("__bi_n").isNotNull() & F.col("__prev_n").isNotNull(),
            F.col("__bi_n") / F.col("__prev_n"),
        )
        .when(F.col("__w_prev").isNotNull(), F.lit(backoff) * p_uni)
        .otherwise(p_uni)  # document-initial token
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.avg(-F.log(p)).alias("cross_entropy"),
        F.exp(F.avg(-F.log(p))).alias("perplexity"),
    )


def kneser_ney_logloss(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    smoothing_k: float = 1.0,
    max_broadcast_vocab: int = 2_000_000,
) -> DataFrame:
    """Per-document bigram cross-entropy under interpolated Kneser-Ney
    (Kneser & Ney 1995; Chen & Goodman 1998's interpolated form, the
    smoothing KenLM made standard for LM-based corpus filtering).

    ``p(w|prev) = max(c(prev,w) − D, 0)/c(prev)
    + D·N1+(prev,·)/c(prev) · p_cont(w)`` with the continuation
    distribution ``p_cont(w) = (N1+(·,w) + k)/(B + k·(V+1))`` —
    ``N1+`` are DISTINCT-bigram-type counts, ``B`` the total bigram
    type count, and the add-``k`` floor (a web-scale robustness
    addition to the textbook form, same idiom as the unigram path)
    keeps unseen continuations finite. Document-initial tokens and
    unseen histories score ``p_cont`` alone. Where stupid backoff
    (:func:`bigram_logloss`) scores what FOLLOWS frequent histories,
    KN's continuation distribution punishes tokens that only ever
    appear in one context — the burstiness signal (boilerplate, SEO
    keyword stuffing) that raw frequency smoothing misses.

    Self-LM by construction (score a corpus against its own pair
    statistics — the outlier-surfacing corpus-gate use); scoring
    against a curated reference belongs to :func:`lm_quality_scores`'
    target path. Returns ``<id_col>, n_tokens, kn_ce, kn_ppl``
    (natural log; ~1e-12 summation noise — compare with tolerance).

    Scale shape (the :func:`lm_quality_scores` recipe): ONE positioned
    (prev, w) pair aggregate over the corpus; every count the formula
    needs — ``c(prev)``, ``N1+(prev,·)``, ``N1+(·,w)``, ``B``, ``V`` —
    is a grouped aggregate OVER THE PAIR TABLE (cost ∝ distinct pairs,
    not tokens); the per-pair NLL table joins back to the corpus
    stream exactly once (null-safe on prev for document-initial
    tokens); one per-doc aggregate with map-side combine. All side
    tables are vocabulary-sized and broadcast under
    ``max_broadcast_vocab``.
    """
    if not 0 < discount < 1:
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    from patito_spark.functions.cache import tracked_persist

    toks = tokens(text_col)
    n = F.size(toks)
    positioned = df.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.concat(
                    F.array(F.lit(None).cast("string")),
                    F.slice(toks, F.lit(1), n - F.lit(1)),
                ),
                toks,
            )
        ).alias("pos"),
    ).select(
        id_col,
        F.col("pos").getField("0").alias("__w_prev"),
        F.col("pos").getField("1").alias("__w"),
    )

    pair_counts = tracked_persist(
        positioned.groupBy("__w_prev", "__w").agg(
            F.count("*").alias("__pair_n")
        )
    )
    bigrams = pair_counts.filter(F.col("__w_prev").isNotNull())

    # One action: vocab size (continuation floor), bigram type count B,
    # pair-table row count (score-table broadcast gate) — and the
    # pair_counts cache materialization.
    stats = pair_counts.agg(
        F.count_distinct("__w").alias("v"),
        F.count("__w_prev").alias("b"),
        F.count("*").alias("np"),
    ).first()
    v, b_types, n_pairs = stats["v"], stats["b"], stats["np"]
    cont_denom = float(b_types) + smoothing_k * (v + 1)

    def _side(frame: DataFrame, rows: int) -> DataFrame:
        return F.broadcast(frame) if rows <= max_broadcast_vocab else frame

    hist = bigrams.groupBy("__w_prev").agg(
        F.sum("__pair_n").alias("__c_prev"),
        F.count("*").alias("__n1p_prev"),
    )
    cont = bigrams.groupBy("__w").agg(F.count("*").alias("__n1p_cont"))

    tbl = (
        pair_counts.join(_side(hist, v), on="__w_prev", how="left")
        .join(_side(cont, v), on="__w", how="left")
    )
    p_cont = (
        F.coalesce(F.col("__n1p_cont"), F.lit(0)) + F.lit(smoothing_k)
    ) / F.lit(cont_denom)
    d = F.lit(float(discount))
    p = (
        F.when(
            F.col("__w_prev").isNotNull() & F.col("__c_prev").isNotNull(),
            F.greatest(F.col("__pair_n") - d, F.lit(0.0))
            / F.col("__c_prev")
            + d * F.col("__n1p_prev") / F.col("__c_prev") * p_cont,
        ).otherwise(p_cont)
    )
    score_tbl = _side(
        tbl.select(
            F.col("__w_prev").alias("__sp"),
            F.col("__w").alias("__sw"),
            (-F.log(p)).alias("__kn_nll"),
        ),
        n_pairs,
    )
    scored = positioned.join(
        score_tbl,
        F.col("__w_prev").eqNullSafe(F.col("__sp"))
        & (F.col("__w") == F.col("__sw")),
        how="left",
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.avg("__kn_nll").alias("kn_ce"),
        F.exp(F.avg("__kn_nll")).alias("kn_ppl"),
    )


def trigram_logloss(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff: float = 0.4,
    smoothing_k: float = 1.0,
    max_trigrams: Optional[int] = 4_000_000,
    max_broadcast_vocab: int = 2_000_000,
) -> DataFrame:
    """Per-document order-3 cross-entropy under stupid backoff (Brants
    et al. 2007) — the next rung of the unigram→bigram ladder toward
    the 5-gram-KenLM filters CCNet uses.

    Score per position: ``c(w1,w2,w3)/c(w1,w2)`` when the trigram is
    in the LM; else ``backoff`` times the BIGRAM score
    (``c(w2,w3)/c(w2)`` else ``backoff × p_uni``); document-initial
    and second tokens fall to the unigram / bigram cases naturally
    (null history slots). Self-LM (score the corpus against its own
    statistics). Returns ``<id_col>, n_tokens, trigram_ce,
    trigram_ppl``.

    Scale shape (the fused-LM recipe, one order up): ONE positioned
    (prev2, prev1, w) TRIPLE aggregate over the corpus; the bigram and
    unigram tables are DERIVED from the triple table (every adjacent
    pair occurs exactly once as the (prev1, w) slots of some triple,
    every token once as ``w``), so no second corpus scan; the per-triple
    NLL table joins back to the corpus stream exactly once (null-safe
    history keys); one per-doc aggregate. ``max_trigrams`` prunes the
    trigram LM top-N (TakeOrdered), the pruned tail backing off
    smoothly. All side tables broadcast-gate on exact counts from one
    stats action. Summation noise ~1e-12 — compare with tolerance.
    """
    if not 0 < backoff <= 1:
        raise ValueError(f"backoff must be in (0, 1], got {backoff}")
    from patito_spark.functions.cache import tracked_persist

    toks = tokens(text_col)
    n = F.size(toks)
    nulls1 = F.array(F.lit(None).cast("string"))
    nulls2 = F.array(
        F.lit(None).cast("string"), F.lit(None).cast("string")
    )
    # history arrays built as slice(concat(nulls, toks), 1, n): always
    # exactly n long, so arrays_zip never pads (a concat(nulls2, slice)
    # spelling overshoots to n+1 for single-token docs)
    positioned = df.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.slice(F.concat(nulls2, toks), F.lit(1), n),
                F.slice(F.concat(nulls1, toks), F.lit(1), n),
                toks,
            )
        ).alias("pos"),
    ).select(
        id_col,
        F.col("pos").getField("0").alias("__p2"),
        F.col("pos").getField("1").alias("__p1"),
        F.col("pos").getField("2").alias("__w"),
    )

    triples = tracked_persist(
        positioned.groupBy("__p2", "__p1", "__w").agg(
            F.count("*").alias("__tri_n")
        )
    )
    # derived lower orders: the (p1, w) slots of the triples carry every
    # adjacent pair exactly once; `w` carries every token exactly once
    pairs = triples.filter(F.col("__p1").isNotNull()).groupBy(
        "__p1", "__w"
    ).agg(F.sum("__tri_n").alias("__pair_n"))
    pairs = tracked_persist(pairs)
    uni = triples.groupBy("__w").agg(F.sum("__tri_n").alias("__uni_n"))
    uni = tracked_persist(uni)

    stats = triples.agg(
        F.sum("__tri_n").alias("t"),
        F.count_distinct("__w").alias("v"),
        F.count("*").alias("ntr"),
        F.sum(
            F.when(F.col("__p2").isNotNull(), F.lit(1)).otherwise(F.lit(0))
        ).alias("ntri_full"),
    ).first()
    total, v = stats["t"] or 0, stats["v"]
    n_triples = stats["ntr"]
    denom = float(total) + smoothing_k * (v + 1)

    tri_lm = triples.filter(F.col("__p2").isNotNull()).select(
        "__p2", "__p1", "__w", F.col("__tri_n").alias("__lm_tri_n")
    )
    n_tri_lm = stats["ntri_full"]
    if max_trigrams is not None and n_tri_lm > max_trigrams:
        tri_lm = tri_lm.orderBy(
            F.col("__lm_tri_n").desc(),
            F.col("__p2").asc(),
            F.col("__p1").asc(),
            F.col("__w").asc(),
        ).limit(max_trigrams)
        n_tri_lm = max_trigrams

    def _side(frame: DataFrame, rows: int) -> DataFrame:
        return F.broadcast(frame) if rows <= max_broadcast_vocab else frame

    # pair-table row count bounds derived sides; v bounds the uni sides
    n_pairs_bound = n_triples  # pairs <= triples rows
    tbl = (
        triples.select("__p2", "__p1", "__w")
        .join(
            _side(tri_lm, n_tri_lm), on=["__p2", "__p1", "__w"], how="left"
        )
        .join(
            _side(
                pairs.select(
                    F.col("__p1").alias("__p2"),
                    F.col("__w").alias("__p1"),
                    F.col("__pair_n").alias("__ctx_n"),
                ),
                n_pairs_bound,
            ),
            on=["__p2", "__p1"],
            how="left",
        )
        .join(_side(pairs, n_pairs_bound), on=["__p1", "__w"], how="left")
        .join(
            _side(
                uni.select(
                    F.col("__w").alias("__p1"),
                    F.col("__uni_n").alias("__prev_n"),
                ),
                v,
            ),
            on="__p1",
            how="left",
        )
        .join(_side(uni, v), on="__w", how="left")
    )
    p_uni = (
        F.coalesce(F.col("__uni_n"), F.lit(0)) + F.lit(smoothing_k)
    ) / F.lit(denom)
    p_bi = (
        F.when(
            F.col("__pair_n").isNotNull() & F.col("__prev_n").isNotNull(),
            F.col("__pair_n") / F.col("__prev_n"),
        )
        .when(F.col("__p1").isNotNull(), F.lit(backoff) * p_uni)
        .otherwise(p_uni)
    )
    p_tri = F.when(
        F.col("__lm_tri_n").isNotNull() & F.col("__ctx_n").isNotNull(),
        F.col("__lm_tri_n") / F.col("__ctx_n"),
    ).when(F.col("__p2").isNotNull(), F.lit(backoff) * p_bi).otherwise(p_bi)

    score_tbl = _side(
        tbl.select(
            F.col("__p2").alias("__s2"),
            F.col("__p1").alias("__s1"),
            F.col("__w").alias("__sw"),
            (-F.log(p_tri)).alias("__nll"),
        ),
        n_triples,
    )
    scored = positioned.join(
        score_tbl,
        F.col("__p2").eqNullSafe(F.col("__s2"))
        & F.col("__p1").eqNullSafe(F.col("__s1"))
        & (F.col("__w") == F.col("__sw")),
        how="left",
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.avg("__nll").alias("trigram_ce"),
        F.exp(F.avg("__nll")).alias("trigram_ppl"),
    )


def lm_quality_scores(
    raw: DataFrame,
    target: Optional[DataFrame] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff: float = 0.4,
    smoothing_k: float = 1.0,
    temperature: float = 1.0,
    length_normalize: bool = True,
    max_bigrams: Optional[int] = 4_000_000,
    max_broadcast_vocab: int = 2_000_000,
    kneser_ney: bool = False,
    kn_discount: float = 0.75,
    trigram: bool = False,
    max_trigrams: Optional[int] = 4_000_000,
) -> DataFrame:
    """Fused self-LM quality stack: unigram perplexity, bigram
    stupid-backoff perplexity, and (when ``target`` is given) DSIR
    importance weights — all in TWO corpus passes total.
    ``kneser_ney=True`` additionally emits ``kn_ce, kn_ppl``
    (:func:`kneser_ney_logloss` numbers, to summation order) for the
    cost of two pair-table joins — the KN NLL is a pure function of
    the (prev, w) pair, so it rides the SAME fused score table and the
    same single corpus-stream join. KN statistics always come from the
    UNCAPPED pair table (``max_bigrams`` prunes only the
    stupid-backoff LM; KN's discounting is its own tail treatment).

    ``trigram=True`` additionally emits ``trigram_ce, trigram_ppl``
    (:func:`trigram_logloss` numbers, to summation order) and STILL
    costs two corpus passes: the positioned stream widens to
    (prev2, prev1, w) triples, the base aggregate becomes the TRIPLE
    table, and the pair table every other score reads is DERIVED from
    it (each adjacent pair occurs exactly once as the (prev1, w) slots
    of some triple — integer sums, so every pair-level count is
    bit-identical to the pair-mode build). The fused score table then
    keys on the triple and the corpus stream still joins it exactly
    once. The price is score-table cardinality: O(distinct triples)
    instead of O(distinct pairs) — the gates below account for it.

    Numerically identical (to summation order, ~1e-12) to composing
    :func:`unigram_logloss` + :func:`bigram_logloss` +
    ``selection.dsir_weights`` with self-built LMs, but those three run
    FOUR corpus passes (unigram vocab build, bigram LM build, token
    scoring, positioned-pair scoring). Here:

    1. **One LM-build pass**: the positioned (prev, w) pair stream is
       aggregated once into pair counts; the unigram LM is then derived
       from the PAIR TABLE (``sum`` of pair counts grouped by ``w`` —
       every token appears exactly once as ``w`` per position), not
       from a second corpus scan, and the bigram LM is the
       ``prev IS NOT NULL`` slice of the same table (top-``max_bigrams``
       by count, ties bytewise, the :func:`build_bigram_lm` contract).
    2. **One scoring pass with ONE lookup join**: every per-token value
       (unigram NLL, bigram stupid-backoff NLL, target NLL) is a pure
       function of the (prev, w) pair, so the NLLs are computed once
       per DISTINCT pair on the pair table itself — O(pairs) join work
       instead of O(tokens) — and the positioned corpus stream joins
       that fused score table exactly once (null-safe on ``prev`` for
       document-initial tokens), then one per-document aggregate.

    The target LM (when ``target`` is given) is a separate
    :func:`build_vocab` over the target corpus — targets are small
    curated sets, never the cost driver. All LM sides broadcast while
    the unigram vocabulary fits ``max_broadcast_vocab`` rows (the
    bigram side gates on the same proxy, the
    :func:`bigram_logloss` contract), falling back to shuffle joins
    above it. Smoothing: add-``smoothing_k`` over the LM vocabulary
    with unseen tokens at the count-0 floor.

    Returns ``<id_col>, n_tokens, cross_entropy, perplexity,
    bigram_ce, bigram_ppl`` plus, with ``kneser_ney``, ``kn_ce,
    kn_ppl``, with ``trigram``, ``trigram_ce, trigram_ppl``, and with
    ``target``, ``log_ratio, dsir_weight, cross_entropy_target`` (the
    ``dsir_weights`` ``return_components`` columns; ``cross_entropy``
    doubles as its ``cross_entropy_raw``).
    """
    if not 0 < backoff <= 1:
        raise ValueError(f"backoff must be in (0, 1], got {backoff}")
    if temperature <= 0:
        raise ValueError(f"temperature must be positive, got {temperature}")
    from patito_spark.functions.cache import tracked_persist

    # arrays_zip, not zip_with: the built-in struct-zip stays on the
    # codegen path while a zip_with lambda is interpreted per element —
    # measured 2.5x faster on the corpus explode, which dominates this
    # operator (the explode runs twice: LM build + scoring).
    toks = tokens(text_col)
    n = F.size(toks)
    if trigram:
        nulls1 = F.array(F.lit(None).cast("string"))
        nulls2 = F.array(
            F.lit(None).cast("string"), F.lit(None).cast("string")
        )
        positioned = raw.select(
            F.col(id_col),
            F.explode(
                F.arrays_zip(
                    F.slice(F.concat(nulls2, toks), F.lit(1), n),
                    F.slice(F.concat(nulls1, toks), F.lit(1), n),
                    toks,
                )
            ).alias("pos"),
        ).select(
            id_col,
            F.col("pos").getField("0").alias("__p2"),
            F.col("pos").getField("1").alias("__w_prev"),
            F.col("pos").getField("2").alias("__w"),
        )
    else:
        positioned = raw.select(
            F.col(id_col),
            F.explode(
                F.arrays_zip(
                    F.concat(
                        F.array(F.lit(None).cast("string")),
                        F.slice(toks, F.lit(1), n - F.lit(1)),
                    ),
                    toks,
                )
            ).alias("pos"),
        ).select(
            id_col,
            F.col("pos").getField("0").alias("__w_prev"),
            F.col("pos").getField("1").alias("__w"),
        )

    # LM-build pass: ONE corpus aggregate. The base table is persisted —
    # every derivation, totals action and broadcast side reads this one
    # materialization. In trigram mode the base aggregate is the TRIPLE
    # table and the pair table is derived from it (integer sums — every
    # pair count bit-identical to the pair-mode build, no second corpus
    # pass).
    # ONE stats action computes every scalar this function needs — the
    # token total and vocab size (smoothing denominator) AND the exact
    # row counts for the broadcast gates (v is NOT a safe proxy for the
    # bigram side: bi can hold up to max_bigrams = 2x the default
    # broadcast cap while v sits under it, nor for the fused score
    # table below). It doubles as the base table's cache
    # materialization. Driver actions are serial round trips — at sf1
    # each costs ~0.3 s of scheduling regardless of data size, so an
    # action ladder would be pure latency.
    # The target LM's totals ride the SAME stats action (a 1-row x 1-row
    # crossJoin of the two aggregates): one fewer serial driver round
    # trip, and the target vocab build runs as a parallel stage of the
    # same job instead of a third sequential one (round-15 measurement:
    # the action ladder was the larger half of this operator's time).
    t_lm = t_agg = None
    if target is not None:
        t_lm = tracked_persist(
            build_vocab(target, text_col=text_col, id_col=id_col).select(
                "token", F.col("count").alias("__cnt_t")
            )
        )
        t_agg = t_lm.agg(
            F.sum("__cnt_t").alias("__tt"), F.count("*").alias("__tv")
        )
    if trigram:
        triple_counts = tracked_persist(
            positioned.groupBy("__p2", "__w_prev", "__w").agg(
                F.count("*").alias("__tri_n")
            )
        )
        # Action 1 (triple table, distinct-free — a multi-distinct agg
        # here would expand the big triple stream several times):
        # totals + the triple-side gate counts; doubles as the triple
        # cache materialization.
        tstats = triple_counts.agg(
            F.sum("__tri_n").alias("t"),
            F.count("*").alias("ntr"),
            F.sum(
                F.when(F.col("__p2").isNotNull(), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("ntri_full"),
        ).first()
        n_triples, n_tri_lm = tstats["ntr"], tstats["ntri_full"] or 0
        pair_counts = tracked_persist(
            triple_counts.groupBy("__w_prev", "__w").agg(
                F.sum("__tri_n").alias("__pair_n")
            )
        )
        # Action 2 (derived pair table — vocabulary²-bounded, far
        # smaller): vocab size + the pair-side gate counts; doubles as
        # the pair cache materialization every later side reads.
        stats_df = pair_counts.agg(
            F.lit(tstats["t"]).alias("t"),
            F.count_distinct("__w").alias("v"),
            F.count("*").alias("np"),
            F.count("__w_prev").alias("nb"),
        )
        stats = (
            stats_df.crossJoin(t_agg) if t_agg is not None else stats_df
        ).first()
    else:
        pair_counts = tracked_persist(
            positioned.groupBy("__w_prev", "__w").agg(
                F.count("*").alias("__pair_n")
            )
        )
        stats_df = pair_counts.agg(
            F.sum("__pair_n").alias("t"),
            F.count_distinct("__w").alias("v"),
            F.count("*").alias("np"),
            F.count("__w_prev").alias("nb"),
        )
        stats = (
            stats_df.crossJoin(t_agg) if t_agg is not None else stats_df
        ).first()
    total, v = stats["t"] or 0, stats["v"]
    n_pairs, n_bi = stats["np"], stats["nb"]
    b_types = n_bi  # uncapped bigram type count — KN's B
    denom = float(total) + smoothing_k * (v + 1)
    bi_capped = max_bigrams is not None and n_bi > max_bigrams

    def _side(frame: DataFrame, rows: int) -> DataFrame:
        return F.broadcast(frame) if rows <= max_broadcast_vocab else frame

    # ---- fused word-level stats table --------------------------------
    # Five of the score-table lookup sides are keyed by a SINGLE token:
    # the unigram count (joined once as w, once as prev), both KN
    # histogram sides, and the target LM count. Round 16 (guide §3.3):
    # build them as ONE per-token table — a union of role-tagged slices
    # of the persisted pair table plus the target LM, collapsed by one
    # mergeable aggregate — and join it TWICE (as __w and as __w_prev)
    # instead of five times. NULL parity with the former left joins:
    # every per-role stat is sum(when(role, ...)), which is NULL when
    # the token has no rows of that role, exactly like the failed join
    # it replaces (and every token that occurs as a prev also occurs as
    # some pair's w, so the __w_prev-side lookup can only miss when
    # __w_prev is NULL — as before).
    is_w = F.col("__role") == "w"
    is_p = F.col("__role") == "p"
    branches = pair_counts.select(
        F.col("__w").alias("__tok"),
        F.col("__pair_n").alias("__n"),
        F.lit("w").alias("__role"),
        F.col("__w_prev").isNotNull().alias("__hp"),
    )
    word_rows = v
    need_prev_stats = kneser_ney
    if need_prev_stats:
        branches = branches.unionByName(
            pair_counts.filter(F.col("__w_prev").isNotNull()).select(
                F.col("__w_prev").alias("__tok"),
                F.col("__pair_n").alias("__n"),
                F.lit("p").alias("__role"),
                F.lit(False).alias("__hp"),
            )
        )
    if target is not None:
        t_total, t_v = stats["__tt"] or 0, stats["__tv"]
        branches = branches.unionByName(
            t_lm.select(
                F.col("token").alias("__tok"),
                F.col("__cnt_t").alias("__n"),
                F.lit("t").alias("__role"),
                F.lit(False).alias("__hp"),
            )
        )
        word_rows = v + t_v  # conservative: target-only tokens add rows
    word_aggs = [
        F.sum(F.when(is_w, F.col("__n"))).alias("__uni_n"),
    ]
    if kneser_ney:
        word_aggs += [
            F.sum(F.when(is_p, F.col("__n"))).alias("__kn_c_prev"),
            F.sum(F.when(is_p, F.lit(1))).alias("__kn_n1p_prev"),
            F.sum(F.when(is_w & F.col("__hp"), F.lit(1))).alias(
                "__kn_n1p_cont"
            ),
        ]
    if target is not None:
        word_aggs.append(
            F.sum(F.when(F.col("__role") == "t", F.col("__n"))).alias(
                "__cnt_t"
            )
        )
    word_stats = tracked_persist(
        branches.groupBy("__tok").agg(*word_aggs)
    )
    ws_w_cols = [F.col("__tok").alias("__w"), F.col("__uni_n")]
    if kneser_ney:
        ws_w_cols.append(F.col("__kn_n1p_cont"))
    if target is not None:
        ws_w_cols.append(F.col("__cnt_t"))
    ws_w = word_stats.select(*ws_w_cols)
    ws_prev_cols = [
        F.col("__tok").alias("__w_prev"),
        F.col("__uni_n").alias("__prev_n"),
    ]
    if kneser_ney:
        ws_prev_cols += [F.col("__kn_c_prev"), F.col("__kn_n1p_prev")]
    ws_prev = word_stats.select(*ws_prev_cols)

    # ---- pair-level score table --------------------------------------
    # Every lookup the scoring pass needs (bigram count, both unigram
    # counts, the optional target count) and every per-token value
    # derived from them is a PURE FUNCTION OF THE (prev, w) PAIR. So
    # compute the per-token negative log-likelihoods once per DISTINCT
    # pair — on the persisted pair table, whose joins cost O(pairs),
    # not O(tokens) — and give the corpus-sized positioned stream ONE
    # join against the fused table instead of three (four with a
    # target). Per-row doubles are bit-identical to the unfused form:
    # the same expressions on the same inputs, hoisted from per-token
    # to per-pair. Round 16: the assembly itself is fused too —
    # single-token lookups come from `word_stats` (two joins), and the
    # bigram/trigram LM slices are LOCAL expressions of the base row
    # whenever their cap did not fire (the LM is then exactly the
    # non-null-context slice of the table the row already carries), so
    # the 8-join trigram+KN+target assembly plans as 4 joins.
    if kneser_ney and not 0 < kn_discount < 1:
        raise ValueError(
            f"kn_discount must be in (0, 1), got {kn_discount}"
        )
    if trigram:
        # base = the triple table; the pair count each pair-level score
        # reads joins on as a side (every (prev, w) of a triple exists
        # in the derived pair table by construction)
        base = triple_counts.select(
            "__p2", "__w_prev", "__w", "__tri_n"
        ).join(
            _side(pair_counts, n_pairs), on=["__w_prev", "__w"], how="left"
        )
    else:
        base = pair_counts.select("__w_prev", "__w", "__pair_n")
    tbl = base.join(_side(ws_w, word_rows), on="__w", how="left").join(
        _side(ws_prev, word_rows), on="__w_prev", how="left"
    )
    if bi_capped:
        bi = (
            pair_counts.filter(F.col("__w_prev").isNotNull())
            .select(
                F.col("__w_prev"),
                F.col("__w"),
                F.col("__pair_n").alias("__bi_n"),
            )
            .orderBy(
                F.col("__bi_n").desc(),
                F.col("__w_prev").asc(),
                F.col("__w").asc(),
            )
            .limit(max_bigrams)
        )
        n_bi = max_bigrams
        tbl = tbl.join(_side(bi, n_bi), on=["__w_prev", "__w"], how="left")
    else:
        # uncapped: the stupid-backoff bigram LM is exactly the
        # non-null-prev slice of the pair count this row carries
        tbl = tbl.withColumn(
            "__bi_n",
            F.when(F.col("__w_prev").isNotNull(), F.col("__pair_n")),
        )
    if trigram:
        if max_trigrams is not None and n_tri_lm > max_trigrams:
            tri_lm = (
                triple_counts.filter(F.col("__p2").isNotNull())
                .select(
                    "__p2",
                    "__w_prev",
                    "__w",
                    F.col("__tri_n").alias("__lm_tri_n"),
                )
                .orderBy(
                    F.col("__lm_tri_n").desc(),
                    F.col("__p2").asc(),
                    F.col("__w_prev").asc(),
                    F.col("__w").asc(),
                )
                .limit(max_trigrams)
            )
            n_tri_lm = max_trigrams
            tbl = tbl.join(
                _side(tri_lm, n_tri_lm),
                on=["__p2", "__w_prev", "__w"],
                how="left",
            )
        else:
            # uncapped: the trigram LM is the non-null-p2 slice of the
            # triple count this row carries
            tbl = tbl.withColumn(
                "__lm_tri_n",
                F.when(F.col("__p2").isNotNull(), F.col("__tri_n")),
            )
        # trigram context counts c(p2, p1) are the derived pair table
        # re-keyed one slot left. Gate on b_types (the UNCAPPED
        # non-null-prev pair count): ctx is never capped, and n_bi may
        # have been reassigned to max_bigrams above — gating the 3M-row
        # ctx frame on a 1M cap value could broadcast-hint a frame past
        # the configured limit (round-16 review finding).
        ctx = pair_counts.filter(F.col("__w_prev").isNotNull()).select(
            F.col("__w_prev").alias("__p2"),
            F.col("__w").alias("__w_prev"),
            F.col("__pair_n").alias("__ctx_n"),
        )
        tbl = tbl.join(
            _side(ctx, b_types), on=["__p2", "__w_prev"], how="left"
        )
    if target is not None:
        # t_lm was built (and its totals computed) up with the stats
        # action — one job, not two; its counts ride word_stats.
        t_denom = float(t_total) + smoothing_k * (t_v + 1)

    uni_nll = -F.log(
        (F.coalesce(F.col("__uni_n"), F.lit(0)) + F.lit(smoothing_k))
        / F.lit(denom)
    )
    p_uni = (
        (F.coalesce(F.col("__uni_n"), F.lit(0)) + F.lit(smoothing_k))
        / F.lit(denom)
    )
    p_bi = (
        F.when(
            F.col("__bi_n").isNotNull() & F.col("__prev_n").isNotNull(),
            F.col("__bi_n") / F.col("__prev_n"),
        )
        .when(F.col("__w_prev").isNotNull(), F.lit(backoff) * p_uni)
        .otherwise(p_uni)  # document-initial token
    )
    score_cols = [
        F.col("__w_prev").alias("__sp"),
        F.col("__w").alias("__sw"),
        uni_nll.alias("__uni_nll"),
        (-F.log(p_bi)).alias("__bi_nll"),
    ]
    if trigram:
        p_tri = (
            F.when(
                F.col("__lm_tri_n").isNotNull()
                & F.col("__ctx_n").isNotNull(),
                F.col("__lm_tri_n") / F.col("__ctx_n"),
            )
            .when(F.col("__p2").isNotNull(), F.lit(backoff) * p_bi)
            .otherwise(p_bi)
        )
        score_cols.insert(0, F.col("__p2").alias("__s2"))
        score_cols.append((-F.log(p_tri)).alias("__tri_nll"))
    if kneser_ney:
        kn_cont_denom = float(b_types) + smoothing_k * (v + 1)
        kn_p_cont = (
            F.coalesce(F.col("__kn_n1p_cont"), F.lit(0))
            + F.lit(smoothing_k)
        ) / F.lit(kn_cont_denom)
        kd = F.lit(float(kn_discount))
        kn_p = F.when(
            F.col("__w_prev").isNotNull()
            & F.col("__kn_c_prev").isNotNull(),
            F.greatest(F.col("__pair_n") - kd, F.lit(0.0))
            / F.col("__kn_c_prev")
            + kd
            * F.col("__kn_n1p_prev")
            / F.col("__kn_c_prev")
            * kn_p_cont,
        ).otherwise(kn_p_cont)
        score_cols.append((-F.log(kn_p)).alias("__kn_nll"))
    if target is not None:
        t_nll = -F.log(
            (F.coalesce(F.col("__cnt_t"), F.lit(0)) + F.lit(smoothing_k))
            / F.lit(t_denom)
        )
        score_cols.append(t_nll.alias("__t_nll"))
    score_tbl = _side(
        tbl.select(*score_cols), n_triples if trigram else n_pairs
    )

    # The single corpus-stream join. prev is NULL on document-initial
    # tokens and the score table keeps those pairs, so the prev key
    # compares null-safely (<=>) — still a hash-joinable equi key.
    join_cond = F.col("__w_prev").eqNullSafe(F.col("__sp")) & (
        F.col("__w") == F.col("__sw")
    )
    if trigram:
        join_cond = (
            F.col("__p2").eqNullSafe(F.col("__s2")) & join_cond
        )
    scored = positioned.join(score_tbl, join_cond, how="left")

    aggs = [
        F.count("*").alias("n_tokens"),
        F.avg("__uni_nll").alias("cross_entropy"),
        F.exp(F.avg("__uni_nll")).alias("perplexity"),
        F.avg("__bi_nll").alias("bigram_ce"),
        F.exp(F.avg("__bi_nll")).alias("bigram_ppl"),
    ]
    if kneser_ney:
        aggs.append(F.avg("__kn_nll").alias("kn_ce"))
        aggs.append(F.exp(F.avg("__kn_nll")).alias("kn_ppl"))
    if trigram:
        aggs.append(F.avg("__tri_nll").alias("trigram_ce"))
        aggs.append(F.exp(F.avg("__tri_nll")).alias("trigram_ppl"))
    if target is not None:
        aggs.append(F.avg("__t_nll").alias("cross_entropy_target"))
    out = scored.groupBy(id_col).agg(*aggs)
    if target is None:
        return out
    log_ratio = F.col("cross_entropy") - F.col("cross_entropy_target")
    if not length_normalize:
        log_ratio = log_ratio * F.col("n_tokens")
    # exp clamp: the dsir_weights contract (see its comment) — a
    # summed log-ratio past ln(DBL_MAX) would otherwise poison
    # weighted_sample's mean-weight rescale with Infinity.
    exponent = log_ratio / F.lit(float(temperature))
    final_cols = [
        id_col,
        "n_tokens",
        "cross_entropy",
        "perplexity",
        "bigram_ce",
        "bigram_ppl",
    ]
    if kneser_ney:
        final_cols += ["kn_ce", "kn_ppl"]
    if trigram:
        final_cols += ["trigram_ce", "trigram_ppl"]
    return out.select(
        *final_cols,
        log_ratio.alias("log_ratio"),
        F.exp(
            F.greatest(F.least(exponent, F.lit(700.0)), F.lit(-700.0))
        ).alias("dsir_weight"),
        "cross_entropy_target",
    )


def cross_doc_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    min_docs: int = 2,
    materialize_grams: bool = True,
) -> DataFrame:
    """Per-document fraction of n-grams shared with OTHER documents.

    The cross-corpus complement of :func:`repetition_stats` (which is
    in-document): a doc whose trigrams mostly appear elsewhere is
    template/boilerplate/near-copy material even when no single pair
    crosses a near-dup threshold — the duplication-driven quality
    signal RefinedWeb-class pipelines filter on.

    Returns ``<id_col>, n_distinct_grams, shared_gram_frac`` where
    ``shared_gram_frac`` is the fraction of the document's DISTINCT
    ``ngram``-grams that occur in at least ``min_docs`` distinct
    documents (including this one). Documents shorter than ``ngram``
    tokens hash their whole text as one gram (the
    :func:`..dedup.shingle_hash_rows` convention), so every document
    with non-NULL text emits a row; NULL text contributes no grams and
    emits none.

    Scale shape: the corpus' distinct (doc, gram-hash) rows are built
    shuffle-free (per-row distinct, so ids must be unique). Each gram's
    doc-frequency is a MERGEABLE ``groupBy(hash).count()`` — a
    web-ubiquitous gram collapses to one row per map task before the
    exchange — joined back onto the gram stream (the probe side
    streams, and AQE can split a skewed probe partition). A single
    ``count() over (partition by hash)`` window, which buffers each
    gram's partition whole, lost to it at sf1 and sf3 (docs/perf.md).
    Nothing is broadcast, so large corpora don't OOM the driver.

    The gram stream feeds both the doc-frequency aggregate and the join
    probe; ``materialize_grams`` (default, the
    :func:`..spans.duplicate_span_intervals` pattern) persists it so
    the gram build runs once (~distinct grams x 16 bytes,
    memory-and-disk). Disable at extreme scale to trade a second gram
    build for zero cache footprint.
    """
    from patito_spark.operators.dedup import shingle_hash_rows

    grams = shingle_hash_rows(df, id_col=id_col, text_col=text_col, n=ngram)
    if materialize_grams:
        from patito_spark.functions.cache import tracked_persist

        grams = tracked_persist(grams)
    freq = grams.groupBy("__h").agg(F.count(F.lit(1)).alias("__n_docs"))
    scored = grams.join(freq, on="__h", how="inner")
    return (
        scored.groupBy("__id")
        .agg(
            F.count("*").alias("n_distinct_grams"),
            (
                F.sum((F.col("__n_docs") >= min_docs).cast("long"))
                / F.count("*")
            ).alias("shared_gram_frac"),
        )
        .withColumnRenamed("__id", id_col)
    )


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_broadcast_vocab: Optional[int] = 2_000_000,
) -> DataFrame:
    """Per-document out-of-vocabulary token fraction against a vocab.

    The tokenizer-prep question "how much of this corpus does my vocab
    cover": each document's fraction of token OCCURRENCES whose token is
    absent from ``vocab`` (a frame with a ``token`` column — e.g.
    :func:`build_vocab` output, optionally ``top_n``-truncated).
    Returns ``<id_col>, n_tokens, oov_frac``; token-less documents emit
    ``n_tokens=0, oov_frac=null`` (no evidence).

    Scale shape: one explode + left join against the vocab's token set
    + one per-doc aggregate. The vocab side broadcasts only under
    ``max_broadcast_vocab`` rows (same bound and rationale as
    :func:`tf_idf`); above it the join shuffles and AQE decides.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(text_col)).alias("token"),
    )
    vset = vocab.select("token").distinct().withColumn(
        "__known", F.lit(True)
    )
    if max_broadcast_vocab is not None:
        if vset.count() <= max_broadcast_vocab:
            vset = F.broadcast(vset)
    else:
        vset = F.broadcast(vset)
    scored = toks.join(vset, on="token", how="left")
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        (
            F.sum(F.when(F.col("__known").isNull(), 1).otherwise(0))
            / F.count("*")
        ).alias("oov_frac"),
    )
    # Docs with no tokens at all (empty text) fall out of the explode;
    # restore them with null oov_frac.
    return (
        df.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .withColumn("n_tokens", F.coalesce("n_tokens", F.lit(0)))
    )
