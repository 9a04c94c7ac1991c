"""Published document-quality rule sets as codegen-only projections.

Two canonical web-corpus filters, implemented rule-for-rule from their
papers so planners can cite exact provenance instead of "a quality
score":

- **Gopher rules** (Rae et al. 2021, "Scaling Language Models: ...
  Gopher", Table A1 quality heuristics);
- **C4 rules** (Raffel et al. 2020, "Exploring the Limits of Transfer
  Learning...", the C4 cleaning heuristics).

Every rule is a pure function of the text column — booleans computed in
the scan's projection (WholeStageCodegen, no shuffle, no Python), so at
100 TB the gate costs one pass that fuses with whatever else reads the
corpus. Each operator returns per-rule booleans PLUS the conjunction, so
attrition analysis can ask "which rule killed this document" without a
second pass; filter with ``.filter("pass_gopher")`` /
``.filter("pass_c4")`` or compose via
:func:`..pipeline.prepare_training_corpus`'s custom-filter hooks.

Tokenization matches the repo convention (single-space split — see
``text.tokens``) so every rule replays bit-for-bit in the DuckDB
oracles.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from patito_spark.operators.text import tokens

# The Gopher stop-word list (Rae et al. 2021: "contains at least 2 of
# the following English words: the, be, to, of, and, that, have, with").
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _lines(text_col: str) -> Column:
    return F.split(F.col(text_col), "\n")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_word_hits: int = 2,
    stop_words: Sequence[str] = GOPHER_STOP_WORDS,
) -> DataFrame:
    """Append the Gopher quality-rule booleans (defaults = the paper's
    published thresholds) and their conjunction ``pass_gopher``.

    Rules (Rae et al. 2021, Table A1):

    - ``rule_word_count``: 50 ≤ words ≤ 100,000;
    - ``rule_mean_word_len``: mean word length in [3, 10];
    - ``rule_symbol_ratio``: (# of ``#`` or ``...``) / words ≤ 0.1;
    - ``rule_bullet_lines``: ≤ 90% of lines start with a bullet;
    - ``rule_ellipsis_lines``: ≤ 30% of lines end with ``...``/``…``;
    - ``rule_alpha_words``: ≥ 80% of words contain ≥ 1 alphabetic char;
    - ``rule_stop_words``: ≥ 2 distinct words from the paper's 8-word
      English stop list appear. Matching is case-sensitive over raw
      single-space-split tokens (the repo's oracle-replayable
      convention), which is stricter than Rae et al.'s intent —
      ``The`` or ``the,`` don't count. Pre-normalize (lowercase,
      strip punctuation) upstream if paper-exact stop-word fidelity
      matters more than the shared-scan projection.

    All columns are codegen expressions over the text scan — null text
    fails every rule (null-safe false), empty docs fail the count rule
    and divide-by-zero ratios are guarded to false.
    """
    toks = tokens(text_col)
    n_words = F.size(toks)
    lines = _lines(text_col)
    n_lines = F.size(lines)

    # length minus spaces: a single-space split of n_words tokens has
    # exactly n_words − 1 delimiters, so no string-rewrite pass is
    # needed to total the word characters.
    mean_word_len = (
        (F.length(F.col(text_col)) - (n_words - 1))
        / n_words.cast("double")
    )
    # Counts below are regexp_count expressions or plain char
    # arithmetic, NOT higher-order-function lambdas — HOF lambdas
    # evaluate interpreted per element and break whole-stage codegen
    # (the rounds-9/10 purge); these stay inside the fused scan
    # projection. '#' and '...' share no characters, so counting them
    # independently equals the old one-pass '#|\.\.\.' alternation:
    # '#' occurrences via a translate length delta, non-overlapping
    # '...' runs via a replace length delta — two char-table passes,
    # no regex engine.
    t_ = F.col(text_col)
    n_symbols = (
        F.length(t_) - F.length(F.translate(t_, "#", ""))
        + (F.length(t_) - F.length(F.replace(t_, F.lit("..."), F.lit("")))) / F.lit(3)
    ).cast("int")
    bullet_lines = F.regexp_count(
        F.col(text_col), F.lit(r"(?m)^[ \t]*(?:[-*•]|\d+[.)])[ \t]")
    )
    ellipsis_lines = F.regexp_count(
        F.col(text_col), F.lit(r"(?m)(?:\.\.\.|…)[ \t]*$")
    )
    # each letter-containing token collapses to one marker; counting
    # markers counts alpha words without a per-token lambda. Keep the
    # greedy [^ ]* body: it consumes the WHOLE token and backtracks to
    # the last letter, so each match leaves almost no restart
    # positions behind. The "backtrack-free" [^ A-Za-z]*[A-Za-z]
    # spelling stops at the FIRST letter and forces the engine to
    # re-attempt a match at every remaining character of the token —
    # measured 4x slower on sf1 documents (round-13 A/B race).
    alpha_words = F.regexp_count(
        F.col(text_col), F.lit(r"(?:^| )[^ ]*[A-Za-z]")
    )
    stop_hits = F.size(
        F.array_intersect(
            toks, F.array(*[F.lit(w) for w in stop_words])
        )
    )

    nonempty = n_words > 0
    rules = {
        "rule_word_count": (n_words >= min_words) & (n_words <= max_words),
        "rule_mean_word_len": nonempty
        & (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len),
        "rule_symbol_ratio": nonempty
        & (n_symbols.cast("double") / n_words <= max_symbol_word_ratio),
        "rule_bullet_lines": (n_lines > 0)
        & (
            bullet_lines.cast("double") / n_lines
            <= max_bullet_line_frac
        ),
        "rule_ellipsis_lines": (n_lines > 0)
        & (
            ellipsis_lines.cast("double") / n_lines
            <= max_ellipsis_line_frac
        ),
        "rule_alpha_words": nonempty
        & (alpha_words.cast("double") / n_words >= min_alpha_word_frac),
        "rule_stop_words": stop_hits >= min_stop_word_hits,
    }
    out = df
    for name, expr in rules.items():
        out = out.withColumn(
            name, F.coalesce(expr, F.lit(False))
        )
    passed = None
    for name in rules:
        passed = F.col(name) if passed is None else passed & F.col(name)
    return out.withColumn("pass_gopher", passed)


def c4_rules(
    df: DataFrame,
    text_col: str = "text",
    min_sentences: int = 3,
    min_words_per_line: int = 0,
    blocklist: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Append the C4 cleaning-rule booleans (Raffel et al. 2020) and
    their conjunction ``pass_c4``.

    Rules:

    - ``rule_terminal_punct``: every line ends in terminal punctuation
      (``. ! ? "``) — C4 drops non-conforming LINES; as a document
      gate this is the strict form, and ``frac_terminal_punct`` is
      emitted alongside so callers can threshold softly instead;
    - ``rule_min_sentences``: ≥ 3 sentences (terminal-punctuation
      occurrences, the paper's proxy);
    - ``rule_no_lorem``: no ``lorem ipsum`` (case-insensitive);
    - ``rule_no_brace``: no ``{`` (code marker);
    - ``rule_no_javascript``: no line containing ``javascript``
      (case-insensitive — C4's line rule, strict doc form);
    - ``rule_blocklist``: none of ``blocklist`` appears
      (case-insensitive substring; default None skips the rule — the
      paper's "List of Dirty, Naughty ..." list is a deployment
      choice, not shipped here).

    ``min_words_per_line`` > 0 adds the common C4-variant line-length
    gate (every line has ≥ N words). Blank and whitespace-only lines
    are IGNORED by the gate — paragraph-separated text (the common
    case) must not fail on its separators — so ``min_words_per_line=1``
    is trivially true and the gate bites from 2 up. All codegen; null
    text fails all.
    """
    text = F.col(text_col)
    n_lines = F.size(_lines(text_col))
    # regexp_count, not a per-line HOF lambda (codegen; see gopher_rules)
    term_lines = F.regexp_count(text, F.lit(r'(?m)[.!?"][ \t]*$'))
    # terminal-punct chars via a translate length delta — one char
    # pass, no regex (identical to counting [.!?] matches)
    sentences = F.length(text) - F.length(F.translate(text, ".!?", ""))
    lower = F.lower(text)

    rules = {
        "rule_terminal_punct": (n_lines > 0) & (term_lines == n_lines),
        "rule_min_sentences": sentences >= min_sentences,
        "rule_no_lorem": ~lower.contains("lorem ipsum"),
        "rule_no_brace": ~text.contains("{"),
        "rule_no_javascript": ~lower.contains("javascript"),
    }
    if min_words_per_line >= 2:
        # opt-in extension; a line with >= N words carries >= N-1
        # spaces. The lookahead requires at least one non-space char so
        # blank/whitespace-only lines never count as short (see above).
        short_line = F.regexp_count(
            text,
            F.lit(
                r"(?m)^(?= *[^ \n])[^ \n]*(?: [^ \n]*){0,%d}$"
                % (min_words_per_line - 2)
            ),
        )
        rules["rule_line_words"] = (n_lines > 0) & (short_line == 0)
    elif min_words_per_line > 0:
        # every non-blank line has >= 1 word by the split convention
        rules["rule_line_words"] = n_lines > 0
    if blocklist:
        bad = None
        for w in blocklist:
            hit = lower.contains(w.lower())
            bad = hit if bad is None else bad | hit
        rules["rule_blocklist"] = ~bad

    out = df.withColumn(
        "frac_terminal_punct",
        F.coalesce(
            F.when(n_lines > 0, term_lines.cast("double") / n_lines),
            F.lit(0.0),
        ),
    )
    for name, expr in rules.items():
        out = out.withColumn(name, F.coalesce(expr, F.lit(False)))
    passed = None
    for name in rules:
        passed = F.col(name) if passed is None else passed & F.col(name)
    return out.withColumn("pass_c4", passed)


#: Gopher repetition thresholds (Rae et al. 2021, Table A2): a document
#: FAILS when the metric exceeds the threshold.
GOPHER_REPETITION_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2_gram_char_frac": 0.20,
    "top_3_gram_char_frac": 0.18,
    "top_4_gram_char_frac": 0.16,
    "dup_5_gram_char_frac": 0.15,
    "dup_6_gram_char_frac": 0.14,
    "dup_7_gram_char_frac": 0.13,
    "dup_8_gram_char_frac": 0.12,
    "dup_9_gram_char_frac": 0.11,
    "dup_10_gram_char_frac": 0.10,
}


def _repetition_metrics(text: str) -> dict:
    """All thirteen Table-A2 repetition metrics of ONE document — the
    pure function the distributed stage maps and the tests pin by
    hand. Conventions (the paper under-specifies; these follow the
    common public implementations and are documented here):

    - duplicate line/paragraph fraction = (occurrences − distinct) /
      total units (lines split on ``\\n``, paragraphs on blank lines;
      empty/whitespace-only units are EXCLUDED from both the counts
      and the totals — otherwise the blank lines separating paragraphs
      count as duplicates of each other and a normal all-unique
      multi-paragraph doc fails the 0.30 gate); the char variants
      count the characters of those SURPLUS occurrences over the
      document's total characters;
    - top n-gram char fraction (n = 2..4) = occurrences of the single
      most frequent n-gram × the sum of its token lengths (spaces
      EXCLUDED, matching the calibration of the public threshold
      imports — Dolma/NeMo sum token lengths only) / total characters;
      ties break to the lexicographically smallest gram (deterministic
      across engines);
    - duplicate n-gram char fraction (n = 5..10) = characters covered
      by the UNION of all occurrences of every n-gram appearing more
      than once / total characters (span marking — overlapping
      duplicates never double-count).
    """
    from collections import Counter

    out: dict = {}
    n_chars = len(text)
    denom_chars = float(n_chars) if n_chars else 1.0

    def unit_stats(units):
        units = [u for u in units if u.strip()]
        total = len(units)
        if total == 0:
            return 0.0, 0.0
        ctr = Counter(units)
        dup_units = total - len(ctr)
        dup_chars = sum(
            (cnt - 1) * len(u) for u, cnt in ctr.items() if cnt > 1
        )
        return dup_units / total, dup_chars / denom_chars

    import re as _re

    lines = text.split("\n")
    paras = [p for p in _re.split(r"\n{2,}", text)]
    out["dup_line_frac"], out["dup_line_char_frac"] = unit_stats(lines)
    out["dup_para_frac"], out["dup_para_char_frac"] = unit_stats(paras)

    toks = text.split(" ")
    n_toks = len(toks)
    # token char offsets for span marking (single-space delimiters)
    starts = []
    pos = 0
    for t in toks:
        starts.append(pos)
        pos += len(t) + 1

    # A duplicated (n+1)-gram implies its prefix n-gram is duplicated at
    # the same two positions, so once some n has NO duplicate gram, no
    # larger n can either — every later metric is exactly 0.0 (top_cnt
    # 1 for the top-gram fractions). `all_unique` carries that fact
    # forward; on natural (non-boilerplate) text it short-circuits most
    # of the battery, and repetitive documents still take the full path.
    all_unique = False
    for n in (2, 3, 4):
        key = f"top_{n}_gram_char_frac"
        if n_toks < n:
            out[key] = 0.0
            continue
        if all_unique:
            # every n-gram occurs once: the tie-break alone decides
            top_cnt = 1
            top_gram = min(zip(*(toks[i:] for i in range(n))))
        else:
            ctr = Counter(zip(*(toks[i:] for i in range(n))))
            top_cnt = max(ctr.values())
            if top_cnt == 1:
                all_unique = True
                top_gram = min(ctr)
            else:
                top_gram = min(g for g, c in ctr.items() if c == top_cnt)
        gram_chars = sum(len(t) for t in top_gram)
        out[key] = (top_cnt * gram_chars) / denom_chars

    for n in range(5, 11):
        key = f"dup_{n}_gram_char_frac"
        if n_toks < n or all_unique:
            out[key] = 0.0
            continue
        grams = list(zip(*(toks[i:] for i in range(n))))
        ctr = Counter(grams)
        if len(ctr) == len(grams):
            out[key] = 0.0
            all_unique = True
            continue
        # Interval-union sweep: gram start offsets are strictly
        # increasing in i, so one running high-water mark computes the
        # union coverage without per-character marking.
        covered = 0
        cur_hi = 0
        for i, gram in enumerate(grams):
            if ctr[gram] < 2:
                continue
            lo = starts[i]
            hi = starts[i + n - 1] + len(toks[i + n - 1])
            if hi > cur_hi:
                covered += hi - (lo if lo > cur_hi else cur_hi)
                cur_hi = hi
        out[key] = covered / denom_chars
    return out


def gopher_repetition_rules(
    df: DataFrame,
    text_col: str = "text",
    thresholds: Optional[dict] = None,
) -> DataFrame:
    """Append the FULL Gopher repetition filter table (Rae et al. 2021,
    Table A2): thirteen metric columns, a ``rule_rep_*`` boolean per
    metric (True = within threshold) and the conjunction
    ``pass_repetition``.

    Completes the rule coverage next to :func:`gopher_rules` (Table A1
    quality heuristics): duplicate line/paragraph fractions and their
    character variants, top 2–4-gram character fractions, duplicate
    5–10-gram character fractions — the boilerplate/keyword-stuffing
    battery. Strictly DOCUMENT-LOCAL, so it runs as one Arrow-batched
    ``mapInPandas`` stage (the ``repetition_stats`` precedent): zero
    shuffles, no per-gram rows materialize, composes with streams.
    Null text fails every rule. See :func:`_repetition_metrics` for
    the exact conventions where the paper under-specifies.
    """
    from pyspark.sql import types as T

    thr = dict(GOPHER_REPETITION_THRESHOLDS)
    if thresholds:
        unknown = set(thresholds) - set(thr)
        if unknown:
            raise ValueError(
                f"unknown repetition thresholds {sorted(unknown)}"
            )
        thr.update(thresholds)
    metric_names = list(GOPHER_REPETITION_THRESHOLDS)

    fields = list(df.schema.fields)
    for mname in metric_names:
        fields.append(T.StructField(mname, T.DoubleType(), False))
        fields.append(
            T.StructField(f"rule_rep_{mname}", T.BooleanType(), False)
        )
    fields.append(T.StructField("pass_repetition", T.BooleanType(), False))
    schema = T.StructType(fields)
    names = [f.name for f in df.schema.fields]

    def compute(batches):
        import pandas as pd

        for pdf in batches:
            cols: dict = {m: [] for m in metric_names}
            rules: dict = {m: [] for m in metric_names}
            passed = []
            for text in pdf[text_col]:
                if text is None:
                    for m in metric_names:
                        cols[m].append(1.0)
                        rules[m].append(False)
                    passed.append(False)
                    continue
                metrics = _repetition_metrics(text)
                ok = True
                for m in metric_names:
                    v = metrics[m]
                    good = v <= thr[m]
                    ok = ok and good
                    cols[m].append(v)
                    rules[m].append(good)
                passed.append(ok)
            out = pdf[names].copy()
            for m in metric_names:
                out[m] = cols[m]
                out[f"rule_rep_{m}"] = rules[m]
            out["pass_repetition"] = passed
            yield out

    return df.mapInPandas(compute, schema=schema)


def document_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The fused per-document profile: quality score, md5 fingerprint,
    marker-vote language ID, the Gopher Table-A1 rule booleans +
    ``pass_gopher``, and the C4 rule booleans + ``frac_terminal_punct``
    + ``pass_c4`` — every column value-identical to composing
    :func:`gopher_rules` + :func:`c4_rules` + ``text.quality_score`` /
    ``text.fingerprint`` / ``text.detect_language`` (pinned bit-exact,
    doubles included, by tests/test_heuristics equality sweep).

    Everything is computed in ONE Arrow-batched ``mapInPandas`` stage
    of C-speed Python string ops — ``str.count`` for
    token/line/sentence/symbol tallies, ``in`` for the contains rules,
    ``str.translate`` for the punctuation ratio, one token pass for ALL
    language votes, and three compiled regexes for the line-anchored
    rules. Zero shuffles, map-only, composes with streams. It beat the
    codegen-regexp composition at sf1 by 3x (docs/perf.md; the
    ``repetition_stats`` precedent — the JVM regex engine is the
    constant factor, not the plan: both shapes are one scan
    projection).

    Null text mirrors the composed operators: quality 0.25 (the
    ``least`` null-skipping arithmetic), null fingerprint, default
    language, every rule False, ``frac_terminal_punct`` 0.0. Thresholds
    are the papers' published defaults (see the composed operators for
    the knobs). EMPTY text is a precondition violation under ANSI mode
    in the composition (division by zero); here it yields a 0.0
    punctuation ratio instead.
    """
    from patito_spark.operators.text import LANG_MARKERS

    out_cols = [
        "quality", "fp", "lang_pred",
        "rule_word_count", "rule_mean_word_len", "rule_symbol_ratio",
        "rule_bullet_lines", "rule_ellipsis_lines", "rule_alpha_words",
        "rule_stop_words", "pass_gopher",
        "frac_terminal_punct", "rule_terminal_punct",
        "rule_min_sentences", "rule_no_lorem", "rule_no_brace",
        "rule_no_javascript", "pass_c4",
    ]
    import hashlib
    import re as _re
    import string as _string

    import pandas as pd
    from pyspark.sql import types as T

    langs = list(LANG_MARKERS)
    marker2lang: dict = {}
    for li, lang in enumerate(langs):
        for m in LANG_MARKERS[lang]:
            marker2lang.setdefault(m, []).append(li)
    stop_words = GOPHER_STOP_WORDS
    # The three line-anchored rules keep their regexes ([0-9], not \d:
    # Python's \d is unicode-wide where Java's is ASCII) — but NOT
    # Python's (?m): Java's multiline anchors recognize \r\n (as one
    # terminator), \r, \x85, U+2028 and U+2029 where Python's only
    # recognize \n, so a CRLF document would count line-end rules
    # differently per engine. The lookarounds below spell Java's
    # boundary set exactly: $ = before \r\n / any single terminator /
    # end of input; ^ = start / after a terminator (after the \n of
    # \r\n, and after a \r only when no \n follows).
    _EOL = "(?=\\r\\n|[\\n\\r\\x85\u2028\u2029]|\\Z)"
    _BOL = "(?:\\A|(?<=[\\n\\x85\u2028\u2029])|(?<=\\r)(?!\\n))"
    bullet_re = _re.compile(_BOL + r"[ \t]*(?:[-*•]|[0-9]+[.)])[ \t]")
    ellipsis_re = _re.compile(r"(?:\.\.\.|…)[ \t]*" + _EOL)
    alpha_re = _re.compile(r"(?:^| )[^ ]*[A-Za-z]")
    term_re = _re.compile(r'[.!?"][ \t]*' + _EOL)
    keep = (_string.ascii_uppercase + _string.ascii_lowercase
            + _string.digits + " ")
    del_keep = {ord(c): None for c in keep}
    null_row = (0.25, None, langs[0], *(False,) * 8, 0.0, *(False,) * 6)

    def _one(text):
        if text is None:
            return null_row
        n = text.count(" ") + 1
        length = len(text)
        mean_wl = (length - (n - 1)) / n
        nl = text.count("\n") + 1
        lower = text.lower()
        nsym = text.count("#") + text.count("...")
        bullets = len(bullet_re.findall(text))
        ell = len(ellipsis_re.findall(text))
        alpha = len(alpha_re.findall(text))
        padded = " " + text + " "
        hits = sum(1 for w in stop_words if (" " + w + " ") in padded)
        term = len(term_re.findall(text))
        sent = text.count(".") + text.count("!") + text.count("?")
        pr = len(text.translate(del_keep)) / length if length else 0.0
        quality = (
            min(n / 100.0, 1.0) * 0.5
            + (1.0 - min(abs(mean_wl - 5.0) / 5.0, 1.0)) * 0.5
            - min(pr * 4.0, 1.0) * 0.25
        )
        fp = hashlib.md5(lower.encode("utf-8")).hexdigest()
        votes = [0] * len(langs)
        for tok in text.split(" "):
            lis = marker2lang.get(tok)
            if lis is not None:
                for li in lis:
                    votes[li] += 1
        lang = langs[votes.index(max(votes))]
        r_wc = 50 <= n <= 100_000
        r_mwl = 3.0 <= mean_wl <= 10.0
        r_sym = nsym / n <= 0.1
        r_bul = bullets / nl <= 0.9
        r_ell = ell / nl <= 0.3
        r_alpha = alpha / n >= 0.8
        r_stop = hits >= 2
        pg = (r_wc and r_mwl and r_sym and r_bul and r_ell
              and r_alpha and r_stop)
        r_term = term == nl
        r_sent = sent >= 3
        r_lorem = "lorem ipsum" not in lower
        r_brace = "{" not in text
        r_js = "javascript" not in lower
        pc = r_term and r_sent and r_lorem and r_brace and r_js
        return (quality, fp, lang, r_wc, r_mwl, r_sym, r_bul, r_ell,
                r_alpha, r_stop, pg, term / nl, r_term, r_sent, r_lorem,
                r_brace, r_js, pc)

    id_field = df.schema[id_col]
    schema = T.StructType(
        [T.StructField(id_col, id_field.dataType, id_field.nullable)]
        + [
            T.StructField(
                c,
                T.DoubleType() if c in ("quality", "frac_terminal_punct")
                else (T.StringType() if c in ("fp", "lang_pred")
                      else T.BooleanType()),
                True,
            )
            for c in out_cols
        ]
    )

    def compute(batches):
        for pdf in batches:
            rows = [
                (did,) + _one(t)
                for did, t in zip(pdf[id_col], pdf[text_col])
            ]
            yield pd.DataFrame(rows, columns=[id_col] + out_cols)

    return df.select(id_col, text_col).mapInPandas(compute, schema=schema)
