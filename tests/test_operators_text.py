"""Text operator unit tests against hand-checked values."""

import pytest

from patito_spark.operators import text as ops


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "a a a"),
            (3, "hello, world!!!"),
        ],
        schema="doc_id long, text string",
    )


def collect_map(df, key="doc_id"):
    rows = df.collect()
    cols = [c for c in df.columns if c != key]
    if len(cols) == 1:
        return {r[key]: r[cols[0]] for r in rows}
    return {r[key]: tuple(r[c] for c in cols) for r in rows}


def test_token_count(docs):
    out = collect_map(docs.select("doc_id", ops.token_count("text").alias("n")))
    assert out == {1: 4, 2: 3, 3: 2}


def test_avg_token_length(docs):
    out = collect_map(
        docs.select("doc_id", ops.avg_token_length("text").alias("l"))
    )
    assert out[1] == pytest.approx(16 / 4)
    assert out[2] == pytest.approx(1.0)


def test_punctuation_ratio(docs):
    out = collect_map(
        docs.select("doc_id", ops.punctuation_ratio("text").alias("p"))
    )
    assert out[1] == 0.0
    assert out[3] == pytest.approx(4 / 15)


def test_quality_score_range(docs):
    out = collect_map(docs.select("doc_id", ops.quality_score("text").alias("q")))
    for v in out.values():
        assert -0.25 <= v <= 1.0
    # clean text should outscore punctuation soup
    assert out[1] > out[3]


def test_detect_language_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat"),         # en markers
            (2, "der hund und table"),  # de markers
            (3, "xyz pqr"),             # no markers -> en (tie order)
        ],
        schema="doc_id long, text string",
    )
    out = collect_map(df.select("doc_id", ops.detect_language("text").alias("l")))
    assert out == {1: "en", 2: "de", 3: "en"}


def test_detect_language_null_and_empty_text(spark):
    """NULL text must fall back to the default language ('en'), matching
    the original when-chain whose literal default survived NULL
    comparisons (regression: the array-argmax rewrite returned 'zh' for
    all-NULL votes). Empty text has no markers -> 'en' by tie order."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ")],
        schema="doc_id long, text string",
    )
    out = collect_map(df.select("doc_id", ops.detect_language("text").alias("l")))
    assert out == {1: "en", 2: "en", 3: "en"}


def test_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "hello world")],
        schema="doc_id long, text string",
    )
    out = collect_map(df.select("doc_id", ops.fingerprint("text").alias("f")))
    # case-folded: identical fingerprints, and the md5 of "hello world"
    assert out[1] == out[2] == "5eb63bbbe01eeed093cb22bb8f5acdc3"


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame(
        [(1, "don't stop-me now")], schema="doc_id long, text string"
    )
    out = collect_map(
        df.select("doc_id", ops.bpe_ish_token_count("text").alias("n"))
    )
    # don / ' / t / stop / - / me / now
    assert out[1] == 7


def test_profile_shape(docs):
    out = ops.profile(docs)
    assert set(out.columns) == {
        "doc_id",
        "n_tokens",
        "avg_token_len",
        "punct_ratio",
        "quality",
        "lang_pred",
        "fingerprint",
    }
    assert out.count() == 3


def test_avg_token_length_codegen_formulation(spark):
    """length(replace(text,' ','')) / n_tokens must equal the per-token sum
    (including empty tokens from repeated spaces)."""
    from patito_spark.operators.text import avg_token_length

    df = spark.createDataFrame(
        [("ab cd",), ("a  b",), ("xyz",)], "text string"
    )
    got = [r["a"] for r in df.select(avg_token_length("text").alias("a")).collect()]
    assert got[0] == 2.0          # (2+2)/2
    assert got[1] == 2.0 / 3.0    # tokens 'a','','b' -> (1+0+1)/3
    assert got[2] == 3.0


def test_redact_patterns(spark):
    from patito_spark.operators.text import redact

    df = spark.createDataFrame(
        [("mail a.b+c@foo.org here",),
         ("server at 192.168.1.10 port",),
         ("call +1-555-123-4567 now",),
         ("clean text stays",)],
        "text string",
    )
    got = [r["r"] for r in df.select(redact("text").alias("r")).collect()]
    assert got[0] == "mail <EMAIL> here"
    assert got[1] == "server at <IPV4> port"
    assert got[2] == "call <PHONE> now"
    assert got[3] == "clean text stays"


def test_redact_custom_patterns(spark):
    from patito_spark.operators.text import redact

    df = spark.createDataFrame([("id ABC-123 ok",)], "text string")
    got = df.select(
        redact("text", {"TICKET": r"[A-Z]{3}-[0-9]+"}).alias("r")
    ).first()["r"]
    assert got == "id <TICKET> ok"


def test_repetition_stats(spark):
    from patito_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # bigrams: ab ba ab ba ab -> 5 total, 2 distinct
            (2, "x y z w"),          # 3 distinct bigrams, no repeats
            (3, "q"),                # shorter than ngram -> absent
            (4, None),               # NULL text -> no grams, absent
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(df, ngram=2).collect()}
    assert out[1]["n_grams"] == 5
    assert out[1]["dup_gram_frac"] == 1.0 - 2.0 / 5.0
    assert out[1]["top_gram_frac"] == 3.0 / 5.0  # 'a b' occurs 3 times
    assert out[2]["dup_gram_frac"] == 0.0
    assert set(out) == {1, 2}


def test_repetition_stats_unigram(spark):
    from patito_spark.operators.text import repetition_stats

    df = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
    row = repetition_stats(df, ngram=1).first()
    assert row["n_grams"] == 3
    assert row["top_gram_frac"] == 2.0 / 3.0


# ---------------------------------------------------------------------- #
# Corpus cleaning / filtering / reporting                                 #
# ---------------------------------------------------------------------- #


def test_clean_text_pipeline(spark):
    from patito_spark.operators.text import clean_text

    df = spark.createDataFrame(
        [
            ("<p>Hello &amp; <b>world</b></p>",),
            ("tabs\t\tand\n\nnewlines   squash",),
            ("ctrl\x00chars\x1fgone",),
            ("&lt;kept as text&gt; &unknown;",),
        ],
        "text string",
    )
    got = [r.c for r in df.select(clean_text("text").alias("c")).collect()]
    assert got[0] == "Hello & world"
    assert got[1] == "tabs and newlines squash"
    assert got[2] == "ctrlcharsgone"
    assert got[3] == "<kept as text>"


def test_clean_text_is_map_only(spark):
    from patito_spark.operators.text import clean_text

    df = spark.createDataFrame([("x",)], "text string")
    plan = (
        df.select(clean_text("text"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_filter_corpus_token_and_quality_gates(spark):
    from patito_spark.operators.text import filter_corpus

    df = spark.createDataFrame(
        [
            (1, "the " + "good words here " * 10),       # long enough
            (2, "tiny"),                                  # too short
            (3, "!!! ??? ;;; " * 30),                     # punct-heavy
        ],
        "doc_id long, text string",
    )
    # threshold midway between the two long docs' actual scores, so the
    # test pins gate behavior rather than the scorer's absolute scale
    from patito_spark.operators.text import quality_score

    scores = {
        r.doc_id: r.q
        for r in df.select("doc_id", quality_score("text").alias("q")).collect()
    }
    assert scores[1] > scores[3]
    cut = (scores[1] + scores[3]) / 2
    out = filter_corpus(df, min_tokens=5, min_quality=cut)
    assert [r.doc_id for r in out.collect()] == [1]


def test_filter_corpus_repetition_gate(spark):
    from patito_spark.operators.text import filter_corpus

    df = spark.createDataFrame(
        [
            (1, "all words differ across this entire sentence"),
            (2, "spam spam spam spam spam spam spam spam"),
        ],
        "doc_id long, text string",
    )
    out = filter_corpus(df, max_dup_gram_frac=0.5)
    assert [r.doc_id for r in out.collect()] == [1]
    # disabled gate keeps everything (and stays map-only)
    assert filter_corpus(df).count() == 2


def test_corpus_stats_grouped(spark):
    from patito_spark.operators.text import corpus_stats

    df = spark.createDataFrame(
        [
            ("en", "one two three"),
            ("en", "four five"),
            ("de", "sechs"),
        ],
        "lang string, text string",
    )
    rows = {r.lang: r for r in corpus_stats(df, group_cols=["lang"]).collect()}
    assert rows["en"].n_docs == 2 and rows["en"].n_tokens == 5
    assert rows["de"].n_docs == 1 and rows["de"].n_tokens == 1
    assert len(rows["en"].tokens_p50_p95) == 2
    assert len(rows["en"].quality_p10_p50_p90) == 3


class TestBuildVocab:
    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "a b a c"),
                (2, "b b d"),
                (3, "a"),
            ],
            "doc_id long, text string",
        )

    def test_counts_and_doc_freq(self, spark):
        from patito_spark.operators.text import build_vocab

        got = {
            r["token"]: (r["count"], r["doc_freq"])
            for r in build_vocab(self._docs(spark)).collect()
        }
        assert got == {
            "a": (3, 2),
            "b": (3, 2),
            "c": (1, 1),
            "d": (1, 1),
        }

    def test_min_count_filters(self, spark):
        from patito_spark.operators.text import build_vocab

        got = {
            r["token"]
            for r in build_vocab(self._docs(spark), min_count=2).collect()
        }
        assert got == {"a", "b"}

    def test_top_n_rank_deterministic(self, spark):
        from patito_spark.operators.text import build_vocab

        rows = build_vocab(self._docs(spark), top_n=3).collect()
        assert [(r["token"], r["rank"]) for r in rows] == [
            ("a", 1),  # count 3, token asc beats b
            ("b", 2),
            ("c", 3),  # count 1, token asc beats d
        ]

    def test_no_python_stages(self, spark):
        from patito_spark.operators.text import build_vocab

        plan = (
            build_vocab(self._docs(spark))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Python" not in plan and "BatchEval" not in plan


class TestTfIdf:
    def test_values_hand_checked(self, spark):
        import math

        from patito_spark.operators.text import tf_idf

        df = spark.createDataFrame(
            [(1, "a b a"), (2, "b c")], "doc_id long, text string"
        )
        got = {
            (r["doc_id"], r["token"]): (r["tf"], r["idf"], r["tf_idf"])
            for r in tf_idf(df).collect()
        }
        idf_a = math.log(3 / 2) + 1  # df=1, N=2
        idf_b = math.log(3 / 3) + 1  # df=2
        idf_c = math.log(3 / 2) + 1
        assert got[(1, "a")] == (2 / 3, idf_a, (2 / 3) * idf_a)
        assert got[(1, "b")] == (1 / 3, idf_b, (1 / 3) * idf_b)
        assert got[(2, "b")] == (1 / 2, idf_b, (1 / 2) * idf_b)
        assert got[(2, "c")] == (1 / 2, idf_c, (1 / 2) * idf_c)
        assert len(got) == 4

    def test_empty_tokens_and_null_text(self, spark):
        # Tokens are a split on single spaces with empty strings kept
        # (the tokens() contract); null text yields no rows but still
        # counts toward N.
        import math

        from patito_spark.operators.text import tf_idf

        df = spark.createDataFrame(
            [
                (1, "a b a"),
                (2, ""),
                (3, None),
                (4, "x  y"),
                (5, "ü a ü ü"),
            ],
            "doc_id long, text string",
        )
        got = {(r["doc_id"], r["token"]): (r["tf"], r["idf"])
               for r in tf_idf(df).collect()}
        tf = {
            (1, "a"): 2 / 3, (1, "b"): 1 / 3, (2, ""): 1.0,
            (4, "x"): 1 / 3, (4, ""): 1 / 3, (4, "y"): 1 / 3,
            (5, "ü"): 3 / 4, (5, "a"): 1 / 4,
        }
        doc_freq = {"a": 2, "b": 1, "": 2, "x": 1, "y": 1, "ü": 1}
        assert {k: v[0] for k, v in got.items()} == tf
        for (_, tok), (_, idf) in got.items():
            assert idf == pytest.approx(math.log(6 / (doc_freq[tok] + 1)) + 1)

    def test_arrow_counts_stage_is_map_only(self, spark):
        from patito_spark.operators.text import _doc_token_counts_arrow

        df = spark.createDataFrame(
            [(1, "a b"), (2, "c")], "doc_id long, text string"
        )
        plan = (
            _doc_token_counts_arrow(df, "text", "doc_id", "__total")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "MapInPandas" in plan

    def test_min_count_prunes_vocab(self, spark):
        from patito_spark.operators.text import tf_idf

        df = spark.createDataFrame(
            [(1, "a b a"), (2, "b c")], "doc_id long, text string"
        )
        toks = {r["token"] for r in tf_idf(df, min_count=2).collect()}
        assert toks == {"a", "b"}

    def test_n_docs_override_matches_count(self, spark):
        from patito_spark.operators.text import tf_idf

        df = spark.createDataFrame(
            [(1, "a b"), (2, "b c")], "doc_id long, text string"
        )
        auto = {(r["doc_id"], r["token"]): r["tf_idf"] for r in tf_idf(df).collect()}
        manual = {
            (r["doc_id"], r["token"]): r["tf_idf"]
            for r in tf_idf(df, n_docs=2).collect()
        }
        assert auto == manual

    def test_vocab_broadcast_bound_fallback_identical(self, spark):
        """Above max_broadcast_vocab the join falls back to shuffle with
        IDENTICAL output — the 100 TB safety against an unbounded
        vocabulary broadcast. max_broadcast_vocab=None skips the probe
        and forces broadcast (known-small escape hatch)."""
        from patito_spark.operators.text import tf_idf

        df = spark.createDataFrame(
            [(1, "a b a c d"), (2, "b c e f")], "doc_id long, text string"
        )

        def vals(**kw):
            return {
                (r["doc_id"], r["token"]): (r["tf"], r["idf"], r["tf_idf"])
                for r in tf_idf(df, **kw).collect()
            }

        assert vals(max_broadcast_vocab=1) == vals(max_broadcast_vocab=None)
        # the fallback plan must not force a broadcast of the vocab side
        # (AQE may still choose one at runtime from actual sizes — assert
        # on the pre-AQE optimized plan, where only the hint shows up)
        opt = lambda d: d._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" in opt(tf_idf(df, max_broadcast_vocab=None))
        assert "strategy=broadcast" not in opt(tf_idf(df, max_broadcast_vocab=1))


class TestUnigramLogloss:
    def test_matches_python_recount(self, spark):
        import math
        from collections import Counter

        from patito_spark.operators.text import unigram_logloss

        texts = {1: "a b a", 2: "b c", 3: "z z z"}
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_tokens"], r["cross_entropy"], r["perplexity"])
            for r in unigram_logloss(df).collect()
        }
        counts = Counter(t for s in texts.values() for t in s.split(" "))
        total, v = sum(counts.values()), len(counts)
        denom = total + 1.0 * (v + 1)

        def nll(tok):
            return -math.log((counts.get(tok, 0) + 1.0) / denom)

        for doc_id, text in texts.items():
            toks = text.split(" ")
            h = sum(nll(t) for t in toks) / len(toks)
            n, ce, ppl = got[doc_id]
            assert n == len(toks)
            assert ce == pytest.approx(h, rel=1e-12)
            assert ppl == pytest.approx(math.exp(h), rel=1e-12)

    def test_external_lm_and_oov_floor(self, spark):
        from patito_spark.operators.text import build_vocab, unigram_logloss

        reference = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "the lazy dog")],
            "doc_id long, text string",
        )
        lm = build_vocab(reference)
        corpus = spark.createDataFrame(
            [(10, "the the the"), (11, "zzz qqq vvv")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["perplexity"]
            for r in unigram_logloss(corpus, lm=lm).collect()
        }
        # all-OOV text must be finite and much higher than in-vocab text
        assert got[11] > got[10] * 2
        assert got[11] < float("inf")

    def test_vocab_broadcast_bound_fallback_identical(self, spark):
        """LM lookup above max_broadcast_vocab shuffles instead of
        broadcasting, with identical scores (gate is free: vocab size is
        already materialized by the totals job)."""
        from patito_spark.operators.text import unigram_logloss

        df = spark.createDataFrame(
            [(1, "a b a"), (2, "b c"), (3, "z z z")],
            "doc_id long, text string",
        )

        def vals(**kw):
            return {
                r["doc_id"]: (r["n_tokens"], r["cross_entropy"])
                for r in unigram_logloss(df, **kw).collect()
            }

        bcast, shuffled = vals(), vals(max_broadcast_vocab=1)
        assert set(bcast) == set(shuffled)
        for k in bcast:
            assert bcast[k][0] == shuffled[k][0]
            assert bcast[k][1] == pytest.approx(shuffled[k][1], rel=1e-12)


def test_cross_doc_repetition_hand_checked(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d"),        # trigrams: "a b c", "b c d"
            (2, "a b c x"),        # shares "a b c" with doc 1
            (3, "p q r s"),        # shares nothing
            (4, "zz"),             # shorter than ngram -> whole-text gram
            (5, None),             # NULL text -> no grams, no row
            (6, None),             # ... and never "shared" with doc 5
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_distinct_grams"], r["shared_gram_frac"])
        for r in ops.cross_doc_repetition(df, ngram=3).collect()
    }
    assert out[1] == (2, 0.5)      # "a b c" shared, "b c d" unique
    assert out[2] == (2, 0.5)
    assert out[3] == (2, 0.0)
    assert out[4] == (1, 0.0)      # lone whole-text gram, unshared
    assert set(out) == {1, 2, 3, 4}


def test_cross_doc_repetition_matches_duckdb(spark):
    import duckdb

    rows = [
        (d, " ".join(f"w{(d * 3 + i * 5) % 40}" for i in range(12)))
        for d in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["n_distinct_grams"]): r["shared_gram_frac"]
        for r in ops.cross_doc_repetition(df, ngram=3).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            """
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS t FROM docs
            ),
            grams AS (
                SELECT DISTINCT doc_id,
                       unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                               for i in generate_series(1, len(t) - 2)]) AS g
                FROM toks
            ),
            df AS (
                SELECT g, count(DISTINCT doc_id) AS n_docs
                FROM grams GROUP BY g
            )
            SELECT grams.doc_id,
                   count(*) AS n_distinct_grams,
                   sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)
                       / count(*)::DOUBLE AS shared_gram_frac
            FROM grams JOIN df USING (g)
            GROUP BY grams.doc_id
            """
        ).fetchall()
    }
    assert got == want and len(got) == 60


def test_filter_corpus_shared_gram_gate(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            (1, base),                                  # template copy
            (2, base),                                  # template copy
            (3, base),                                  # template copy
            (4, "totally original writing with its own words here"),
        ],
        "doc_id long, text string",
    )
    out = ops.filter_corpus(df, max_shared_gram_frac=0.5)
    assert sorted(r["doc_id"] for r in out.collect()) == [4]
    # Gate off -> untouched.
    assert ops.filter_corpus(df).count() == 4


def test_oov_rate_hand_checked(spark):
    corpus = spark.createDataFrame(
        [
            (1, "a b c d"),     # vocab {a,b}: 2 of 4 OOV
            (2, "a a a"),       # all known
            (3, "x y"),         # all OOV
            (4, ""),            # token-less -> null
        ],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame([("a",), ("b",)], "token string")
    out = {
        r["doc_id"]: (r["n_tokens"], r["oov_frac"])
        for r in ops.oov_rate(corpus, vocab).collect()
    }
    assert out[1] == (4, 0.5)
    assert out[2] == (3, 0.0)
    assert out[3] == (2, 1.0)
    assert out[4][0] in (0, 1) and (
        out[4][1] is None or out[4][1] == 1.0
    )  # "" splits to one empty token on Spark; either way no coverage claim


def test_oov_rate_with_build_vocab_top_n(spark):
    corpus = spark.createDataFrame(
        [(i, "common words here plus rare" + str(i)) for i in range(20)],
        "doc_id long, text string",
    )
    vocab = ops.build_vocab(corpus, top_n=4)  # the 4 shared words
    out = ops.oov_rate(corpus, vocab)
    fracs = [r["oov_frac"] for r in out.collect()]
    assert all(abs(f - 0.2) < 1e-9 for f in fracs)  # 1 of 5 tokens OOV


class TestExtractHtmlText:
    def _one(self, spark, html):
        from patito_spark.operators.text import extract_html_text

        return (
            spark.createDataFrame([(html,)], "html string")
            .select(extract_html_text("html").alias("t"))
            .first()["t"]
        )

    def test_script_style_content_removed(self, spark):
        html = (
            "<html><head><style>body { color: red; }</style>"
            "<script type='text/js'>var leak = 'SECRET';\nalert(1)</script>"
            "</head><body><p>real text</p><!-- note -->"
            "<noscript>enable js</noscript></body></html>"
        )
        out = self._one(spark, html)
        assert "real text" in out
        for leaked in ("SECRET", "color", "alert", "enable js", "note"):
            assert leaked not in out

    def test_block_tags_become_paragraph_breaks(self, spark):
        html = "<h1>Title</h1><p>one</p><p>two</p>inline <b>bold</b> text"
        out = self._one(spark, html)
        paras = out.split("\n\n")
        assert paras == ["Title", "one", "two", "inline bold text"]

    def test_entities_and_whitespace(self, spark):
        out = self._one(
            spark, "<p>a &amp; b&nbsp;&lt;c&gt;</p>\r\n<p>d   e</p>")
        assert out == 'a & b <c>\n\nd e'

    def test_plan_is_codegen_only(self, spark):
        from patito_spark.operators.text import extract_html_text
        from patito_spark.plans import executed_plan

        df = spark.range(10).selectExpr("concat('<p>x', id, '</p>') as html")
        plan = executed_plan(df.select(extract_html_text("html").alias("t")))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestBigramLogloss:
    def test_matches_python_replay(self, spark):
        import math
        from collections import Counter

        from patito_spark.operators.text import bigram_logloss

        rows = [(1, "a b a c"), (2, "b a b"), (3, "c c a b")]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        uni, bi = Counter(), Counter()
        for _, t in rows:
            ws = t.split(" ")
            uni.update(ws)
            bi.update(zip(ws, ws[1:]))
        total, v = sum(uni.values()), len(uni)
        denom = total + 1.0 * (v + 1)

        def p_uni(w):
            return (uni.get(w, 0) + 1.0) / denom

        def h(text, backoff=0.4):
            ws = text.split(" ")
            nll = [-math.log(p_uni(ws[0]))]
            for w1, w2 in zip(ws, ws[1:]):
                if (w1, w2) in bi:
                    nll.append(-math.log(bi[(w1, w2)] / uni[w1]))
                else:
                    nll.append(-math.log(backoff * p_uni(w2)))
            return sum(nll) / len(ws)

        got = {r["doc_id"]: r for r in bigram_logloss(df).collect()}
        for doc_id, text in rows:
            want = h(text)
            assert got[doc_id]["n_tokens"] == len(text.split(" "))
            assert got[doc_id]["cross_entropy"] == pytest.approx(
                want, rel=1e-12)
            assert got[doc_id]["perplexity"] == pytest.approx(
                math.exp(want), rel=1e-12)

    def test_word_order_matters_unlike_unigram(self, spark):
        from patito_spark.operators.text import (
            bigram_logloss, build_bigram_lm, build_vocab, unigram_logloss,
        )

        # reference corpus with strong bigram structure
        ref = spark.createDataFrame(
            [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)],
            "doc_id long, text string",
        )
        probe = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog"),
             (101, "dog the lazy fox quick jumps brown the over")],  # shuffled
            "doc_id long, text string",
        )
        u_lm, b_lm = build_vocab(ref), build_bigram_lm(ref)
        bi = {r["doc_id"]: r["cross_entropy"] for r in bigram_logloss(
            probe, unigram_lm=u_lm, bigram_lm=b_lm).collect()}
        un = {r["doc_id"]: r["cross_entropy"] for r in unigram_logloss(
            probe, lm=u_lm).collect()}
        assert un[100] == pytest.approx(un[101], rel=1e-9)  # bag-of-words blind
        assert bi[101] > bi[100] + 1.0  # bigram LM sees the scramble

    def test_pruned_lm_and_errors(self, spark):
        import pytest as _pytest

        from patito_spark.operators.text import (
            bigram_logloss, build_bigram_lm,
        )

        df = spark.createDataFrame(
            [(1, "x y x y x z")], "doc_id long, text string")
        full = build_bigram_lm(df)
        assert full.count() == 3  # (x,y) (y,x) (x,z)
        top1 = build_bigram_lm(df, max_bigrams=1)
        rows = top1.collect()
        assert len(rows) == 1 and (rows[0]["w1"], rows[0]["w2"]) == ("x", "y")
        # scoring under the pruned LM still returns finite scores
        out = bigram_logloss(df, bigram_lm=top1).first()
        assert out["cross_entropy"] > 0
        with _pytest.raises(ValueError, match="backoff"):
            bigram_logloss(df, backoff=0)


class TestFixMojibake:
    def _one(self, spark, s):
        from patito_spark.operators.text import fix_mojibake

        return (
            spark.createDataFrame([(s,)], "t string")
            .select(fix_mojibake("t").alias("f")).first()["f"]
        )

    def test_repairs_double_encoded_utf8(self, spark):
        # construct REAL mojibake by the actual byte path:
        # utf-8 bytes read as (sloppy) cp1252
        def broken(s):
            out = []
            for b in s.encode("utf-8"):
                try:
                    out.append(bytes([b]).decode("cp1252"))
                except UnicodeDecodeError:
                    out.append(chr(b))
            return "".join(out)

        original = "l’été “français” — naïve café « olé »"
        # naïve's ï is not in the table; drop it from the check
        src = broken(original)
        fixed = self._one(spark, src)
        for ch in "’é“ç”—«»":
            assert ch in fixed
        assert "Ã" not in fixed  # no leftover 'Ã' artifacts for table chars
        assert "â€" not in fixed  # no leftover 'â€' smart-punct artifacts

    def test_nbsp_artifact_becomes_space(self, spark):
        src = "aÂ b"  # mojibake of a b
        assert self._one(spark, src) == "a b"

    def test_clean_text_passes_through(self, spark):
        clean = "plain ascii text with normal punctuation, nothing odd."
        assert self._one(spark, clean) == clean

    def test_plan_is_codegen_only(self, spark):
        from patito_spark.operators.text import fix_mojibake
        from patito_spark.plans import executed_plan

        df = spark.range(5).selectExpr("concat('x', id) as t")
        plan = executed_plan(df.select(fix_mojibake("t").alias("f")))
        assert "Python" not in plan and "Exchange" not in plan


class TestDetectScript:
    def _many(self, spark, rows):
        from patito_spark.operators.text import detect_script

        df = spark.createDataFrame([(i, s) for i, s in enumerate(rows)],
                                   "i long, t string")
        got = {r["i"]: r["s"] for r in df.select(
            "i", detect_script("t").alias("s")).collect()}
        return [got[i] for i in range(len(rows))]

    def test_major_scripts(self, spark):
        rows = [
            "the quick brown fox",                    # latin
            "съешь же ещё этих мягких булок",         # cyrillic
            "αθηναϊκή δημοκρατία",                    # greek
            "في قديم الزمان كان هناك",                # arabic
            "שלום עולם ברוכים הבאים",                  # hebrew
            "नमस्ते दुनिया कैसे हो",                    # devanagari
            "日本語のテキストです",                      # cjk (han+kana)
            "한국어 텍스트 입니다",                      # cjk (hangul)
            "ภาษาไทยสวัสดีครับ",                        # thai
            "café résumé naïve",                      # latin incl. accents
        ]
        want = ["latin", "cyrillic", "greek", "arabic", "hebrew",
                "devanagari", "cjk", "cjk", "thai", "latin"]
        assert self._many(spark, rows) == want

    def test_mixed_and_unknown(self, spark):
        rows = [
            "hello world 日本語テキストの長い部分が支配的です",  # cjk-dominant mix
            "12345 67890 !!! ???",                           # no script
            "",                                              # empty
            None,                                            # null
        ]
        got = self._many(spark, rows)
        assert got == ["cjk", "unknown", "unknown", "unknown"]

    def test_plan_is_codegen_only(self, spark):
        from patito_spark.operators.text import detect_script
        from patito_spark.plans import executed_plan

        df = spark.range(5).selectExpr("concat('x', id) as t")
        plan = executed_plan(df.select(detect_script("t").alias("s")))
        assert "Python" not in plan and "Exchange" not in plan


class TestPiiStats:
    def test_counts_per_pattern(self, spark):
        from patito_spark.operators.text import pii_stats

        df = spark.createDataFrame(
            [(1, "mail a@b.com and c@d.org, call +1-555-123-4567"),
             (2, "server at 10.0.0.1 and 192.168.1.1 and 8.8.8.8"),
             (3, "nothing sensitive here at all")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in pii_stats(df).collect()}
        assert got[1]["pii_email"] == 2
        assert got[1]["pii_phone"] == 1
        assert got[2]["pii_ipv4"] == 3
        assert got[3]["pii_total"] == 0
        assert got[1]["pii_total"] == 3
        # custom pattern set
        custom = pii_stats(df, patterns={"NUM": r"[0-9]+"}).collect()
        assert all("pii_num" in r.asDict() for r in custom)

    def test_plan_is_codegen_only(self, spark):
        from patito_spark.operators.text import pii_stats
        from patito_spark.plans import executed_plan

        df = spark.range(5).selectExpr("id as doc_id", "'x' as text")
        plan = executed_plan(pii_stats(df))
        assert "Python" not in plan and "Exchange" not in plan


# ---------------------------------------------------------------- #
# lm_quality_scores: the fused 2-pass LM stack                     #
# ---------------------------------------------------------------- #


def _lm_corpus(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "a completely different sentence here now"),
        (4, "the cat sat on the mat"),          # exact dup of 1
        (5, "the the the the"),                  # degenerate repetition
        (6, "one"),                              # single token (prev=null only)
        (7, "spark shuffles partitions and broadcasts dimensions"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_lm_quality_scores_matches_three_operator_composition(spark):
    """Fused 2-pass stack == unigram_logloss + bigram_logloss +
    dsir_weights(return_components) with self-built LMs, to summation
    noise."""
    from patito_spark.operators.selection import dsir_weights

    docs = _lm_corpus(spark)
    target = docs.filter("doc_id % 2 = 1")

    fused = {
        r["doc_id"]: r
        for r in ops.lm_quality_scores(docs, target).collect()
    }

    uni = {r["doc_id"]: r for r in ops.unigram_logloss(docs).collect()}
    bi = {r["doc_id"]: r for r in ops.bigram_logloss(docs).collect()}
    w = {
        r["doc_id"]: r
        for r in dsir_weights(docs, target, return_components=True).collect()
    }

    assert set(fused) == set(uni) == set(bi) == set(w)
    for d, f in fused.items():
        assert f["n_tokens"] == uni[d]["n_tokens"]
        assert f["cross_entropy"] == pytest.approx(uni[d]["cross_entropy"], rel=1e-9)
        assert f["perplexity"] == pytest.approx(uni[d]["perplexity"], rel=1e-9)
        assert f["bigram_ce"] == pytest.approx(bi[d]["cross_entropy"], rel=1e-9)
        assert f["bigram_ppl"] == pytest.approx(bi[d]["perplexity"], rel=1e-9)
        assert f["log_ratio"] == pytest.approx(w[d]["log_ratio"], rel=1e-9, abs=1e-12)
        assert f["dsir_weight"] == pytest.approx(w[d]["dsir_weight"], rel=1e-9)
        assert f["cross_entropy"] == pytest.approx(w[d]["cross_entropy_raw"], rel=1e-9)
        assert f["cross_entropy_target"] == pytest.approx(
            w[d]["cross_entropy_target"], rel=1e-9
        )


def test_lm_quality_scores_no_target(spark):
    docs = _lm_corpus(spark)
    out = ops.lm_quality_scores(docs)
    assert set(out.columns) == {
        "doc_id", "n_tokens", "cross_entropy", "perplexity",
        "bigram_ce", "bigram_ppl",
    }
    assert out.count() == 7


def test_lm_quality_scores_bigram_cap_matches_capped_oracle(spark):
    """max_bigrams prunes the SAME tail as build_bigram_lm's cap (count
    desc, ties bytewise) so pruned pairs fall to backoff identically."""
    docs = _lm_corpus(spark)
    capped = {
        r["doc_id"]: r
        for r in ops.lm_quality_scores(docs, max_bigrams=3).collect()
    }
    lm = ops.build_bigram_lm(docs, max_bigrams=3)
    oracle = {
        r["doc_id"]: r
        for r in ops.bigram_logloss(docs, bigram_lm=lm).collect()
    }
    for d, f in capped.items():
        assert f["bigram_ce"] == pytest.approx(oracle[d]["cross_entropy"], rel=1e-9)


def test_lm_quality_bigram_gate_counts_pairs_not_vocab(spark):
    """The broadcast gates must use ACTUAL row counts: the unigram
    vocab size is not a safe proxy for the score table (which holds
    one row per distinct pair). With the cap between v and n_pairs,
    only the two word-stats sides may carry a broadcast hint; values
    must match the fully-broadcast plan. (Round 16: the bigram LM side
    is a local expression of the pair row — no bi join, so the fully
    broadcast assembly carries 3 hints, not the old 4.)"""
    rows = [
        (d, " ".join("abcd"[(d * 7 + i * i * 3) % 4] for i in range(12)))
        for d in range(8)
    ]  # v = 4 unique tokens, 8 distinct ordered bigram pairs
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def n_hints(out):
        return out._jdf.queryExecution().analyzed().toString().count(
            "ResolvedHint"
        )

    # v = 4 unique tokens; distinct ordered pairs (and the fused pair
    # score table) > 4. Cap at 4: the two word-stats sides broadcast,
    # the score table must not.
    gated = ops.lm_quality_scores(docs, max_broadcast_vocab=4)
    assert n_hints(gated) == 2
    full = ops.lm_quality_scores(docs, max_broadcast_vocab=1_000)
    assert n_hints(full) == 3

    g = {r.doc_id: r for r in gated.collect()}
    f = {r.doc_id: r for r in full.collect()}
    assert set(g) == set(f)
    for k in g:
        assert g[k].n_tokens == f[k].n_tokens
        assert g[k].bigram_ce == pytest.approx(f[k].bigram_ce, rel=1e-12)
        assert g[k].cross_entropy == pytest.approx(
            f[k].cross_entropy, rel=1e-12
        )


def test_cross_doc_repetition_materializes_gram_stream(spark):
    """The gram stream feeds both the doc-frequency aggregate and the
    join probe; materialize_grams (default) persists it so the expensive
    gram build runs once."""
    from patito_spark.functions.cache import release_caches
    from patito_spark.plans import executed_plan

    rows = [
        (d, " ".join(f"w{(d * 3 + i * 5) % 40}" for i in range(12)))
        for d in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    try:
        # Inspect the unmaterialized variant FIRST: once the default has
        # persisted the gram subtree, Spark's cache manager substitutes
        # the InMemoryRelation into any later identical plan.
        off = ops.cross_doc_repetition(df, ngram=3, materialize_grams=False)
        assert "InMemoryTableScan" not in executed_plan(off)
        out = ops.cross_doc_repetition(df, ngram=3)
        assert "InMemoryTableScan" in executed_plan(out)
        got = {r.doc_id: r.shared_gram_frac for r in out.collect()}
        want = {r.doc_id: r.shared_gram_frac for r in off.collect()}
        assert got == want
    finally:
        release_caches()


def test_normalize_unicode_forms_and_dedup_keys(spark):
    import unicodedata

    from patito_spark.operators.text import normalize_unicode

    composed = "café"                  # é composed
    decomposed = "café"               # e + combining acute
    fullwidth = "ＣＡＦＥ"  # ＣＡＦＥ (NFKC-foldable)
    rows = [(1, composed), (2, decomposed), (3, fullwidth), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    nfc = {r.doc_id: r.text for r in normalize_unicode(df, form="NFC").collect()}
    assert nfc[1] == nfc[2] == composed   # canonical forms collapse
    assert nfc[3] == fullwidth            # compatibility untouched by NFC
    assert nfc[4] is None

    nfkc = {r.doc_id: r.text
            for r in normalize_unicode(df, form="NFKC").collect()}
    assert nfkc[3] == "CAFE"              # compatibility folded
    assert nfkc[1] == unicodedata.normalize("NFKC", composed)

    # out_col keeps the original text alongside the key
    keyed = normalize_unicode(df, form="NFKC", out_col="text_norm")
    assert keyed.columns == ["doc_id", "text", "text_norm"]
    got = {r.doc_id: (r.text, r.text_norm) for r in keyed.collect()}
    assert got[2] == (decomposed, composed)

    with pytest.raises(ValueError, match="form must be"):
        normalize_unicode(df, form="NFX")

    # the dedup payoff: exact dedup collapses 1/2 only after NFC
    from patito_spark.operators.dedup import dedup_exact

    pre = dedup_exact(df.filter("text is not null"), subset=["text"],
                      id_col="doc_id")
    assert pre.count() == 3
    post = dedup_exact(
        normalize_unicode(df.filter("text is not null"), form="NFC"),
        subset=["text"], id_col="doc_id",
    )
    assert post.count() == 2


def test_normalize_unicode_nfc_matches_duckdb(spark):
    """NFC output cross-checked against DuckDB's nfc_normalize on mixed
    composed/decomposed/multiscript text — two independent Unicode
    implementations agreeing on every row."""
    import duckdb

    from patito_spark.operators.text import normalize_unicode

    rows = [
        (1, "café"), (2, "café"), (3, "ＣＡＦＥ"), (4, "ñino niño"),
        (5, "한국어 テスト"), (6, "áêï"), (7, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text
           for r in normalize_unicode(df, form="NFC").collect()}
    con = duckdb.connect()
    for i, t in rows:
        want = con.execute(
            "select nfc_normalize(?)", [t]
        ).fetchone()[0]
        assert got[i] == want, (i, t)


# ---------------------------------------------------------------------- #
# BM25 retrieval (round 12)                                               #
# ---------------------------------------------------------------------- #


class TestBm25:
    def _corpus(self, spark, n=40):
        rows = [
            (d, " ".join(f"w{(d * 7 + i * 3) % 25}" for i in range(6 + d % 5)))
            for d in range(n)
        ]
        return rows, spark.createDataFrame(rows, "doc_id long, text string")

    def _queries(self, spark):
        qrows = [(100, "w0 w3"), (101, "w24 w1 w1"), (102, "zz w5")]
        return qrows, spark.createDataFrame(qrows, "query_id long, query string")

    @staticmethod
    def _bm25_py(rows, qrows, k1=1.2, b=0.75):
        import math
        from collections import Counter

        docs = {d: t.split(" ") for d, t in rows}
        n = len(docs)
        avgdl = sum(len(t) for t in docs.values()) / n
        df_t = Counter()
        for toks in docs.values():
            for t in set(toks):
                df_t[t] += 1
        out = {}
        for qid, q in qrows:
            for d, toks in docs.items():
                tf = Counter(toks)
                s = 0.0
                hit = False
                for t in set(q.split(" ")):
                    if tf[t] == 0:
                        continue
                    hit = True
                    idf = math.log(
                        1 + (n - df_t[t] + 0.5) / (df_t[t] + 0.5)
                    )
                    s += idf * tf[t] * (k1 + 1) / (
                        tf[t] + k1 * (1 - b + b * len(toks) / avgdl)
                    )
                if hit:
                    out[(qid, d)] = s
        return out

    def test_matches_python_reference(self, spark):
        rows, df = self._corpus(spark)
        qrows, qdf = self._queries(spark)
        got = {
            (r["query_id"], r["doc_id"]): r["score"]
            for r in ops.bm25_scores(df, qdf).collect()
        }
        want = self._bm25_py(rows, qrows)
        assert set(got) == set(want)
        for k in want:
            assert got[k] == pytest.approx(want[k], rel=1e-12)

    def test_matches_duckdb(self, spark):
        import duckdb

        rows, df = self._corpus(spark, n=60)
        qrows, qdf = self._queries(spark)
        got = {
            (r["query_id"], r["doc_id"]): r["score"]
            for r in ops.bm25_scores(df, qdf).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
        con.execute("CREATE TABLE qs(query_id BIGINT, query VARCHAR)")
        con.executemany("INSERT INTO qs VALUES (?, ?)", qrows)
        want = {
            (r[0], r[1]): r[2]
            for r in con.execute(
                """
                WITH counts AS (
                    SELECT doc_id,
                           len(string_split(text, ' ')) AS dl,
                           unnest(string_split(text, ' ')) AS token
                    FROM docs
                ),
                postings AS (
                    SELECT doc_id, token, dl, count(*) AS n
                    FROM counts GROUP BY doc_id, token, dl
                ),
                qterms AS (
                    SELECT DISTINCT query_id,
                           unnest(string_split(query, ' ')) AS token
                    FROM qs
                ),
                stats AS (
                    SELECT count(*)::DOUBLE AS nd,
                           avg(len(string_split(text, ' '))) AS avgdl
                    FROM docs
                ),
                dfreq AS (
                    SELECT token, count(*) AS df
                    FROM postings
                    WHERE token IN (SELECT token FROM qterms)
                    GROUP BY token
                )
                SELECT q.query_id, p.doc_id,
                       sum(ln(1 + (s.nd - f.df + 0.5) / (f.df + 0.5))
                           * p.n * 2.2
                           / (p.n + 1.2 * (1 - 0.75 + 0.75 * p.dl / s.avgdl)))
                           AS score
                FROM postings p
                JOIN qterms q USING (token)
                JOIN dfreq f USING (token)
                CROSS JOIN stats s
                GROUP BY q.query_id, p.doc_id
                """
            ).fetchall()
        }
        assert set(got) == set(want)
        for k in want:
            assert got[k] == pytest.approx(want[k], rel=1e-9)

    def test_topk_rank_and_plan(self, spark):
        from patito_spark.plans import executed_plan

        _, df = self._corpus(spark)
        _, qdf = self._queries(spark)
        out = ops.bm25_scores(df, qdf, top_k=3)
        plan = executed_plan(out)
        # the query-term prune must be a broadcast join and the top-k
        # window must keep its map-side partial limit
        assert "WindowGroupLimit" in plan and "Partial" in plan
        assert "BroadcastHashJoin" in plan
        rows = out.collect()
        per_q = {}
        for r in rows:
            per_q.setdefault(r.query_id, []).append((r.rank, r.score))
        for q, rs in per_q.items():
            rs.sort()
            assert [r for r, _ in rs] == list(range(1, len(rs) + 1))
            scores = [s for _, s in rs]
            assert scores == sorted(scores, reverse=True)

    def test_query_term_cap(self, spark):
        _, df = self._corpus(spark)
        _, qdf = self._queries(spark)
        with pytest.raises(ValueError, match="Split the query batch"):
            ops.bm25_scores(df, qdf, max_broadcast_query_terms=2)

    def test_duplicate_query_tokens_score_once(self, spark):
        _, df = self._corpus(spark)
        q1 = spark.createDataFrame([(1, "w0 w0 w0")], "query_id long, query string")
        q2 = spark.createDataFrame([(1, "w0")], "query_id long, query string")
        s1 = {r.doc_id: r.score for r in ops.bm25_scores(df, q1).collect()}
        s2 = {r.doc_id: r.score for r in ops.bm25_scores(df, q2).collect()}
        assert s1 == s2

    def test_null_text_convention_matches_index_path(self, spark):
        """bm25_scores (default stats) and bm25_topk(build_bm25_index)
        must score IDENTICALLY when null-text docs exist: both derive
        N/avgdl from posting-bearing docs only (advice r12: the two
        entry points previously disagreed on the corpus statistics)."""
        from patito_spark.operators.text import bm25_topk, build_bm25_index

        rows, _ = self._corpus(spark, n=30)
        rows = rows + [(900, None), (901, None), (902, None)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        _, qdf = self._queries(spark)
        direct = {
            (r.query_id, r.doc_id): r.score
            for r in ops.bm25_scores(df, qdf, top_k=5).collect()
        }
        idx = build_bm25_index(df)
        via_index = {
            (r.query_id, r.doc_id): r.score
            for r in bm25_topk(idx, qdf, k=5).collect()
        }
        idx.unpersist()
        assert set(direct) == set(via_index)
        for key in direct:
            assert direct[key] == pytest.approx(via_index[key], rel=1e-12)
        # and the statistics exclude the null docs: same as a corpus
        # that never had them
        clean = {
            (r.query_id, r.doc_id): r.score
            for r in ops.bm25_scores(
                spark.createDataFrame(
                    rows[:30], "doc_id long, text string"
                ),
                qdf,
                top_k=5,
            ).collect()
        }
        assert set(direct) == set(clean)
        for key in direct:
            assert direct[key] == pytest.approx(clean[key], rel=1e-12)

    def test_default_stats_single_corpus_scan(self, spark, sf_dir):
        """The default call (no n_docs/avgdl) derives the statistics
        from its own postings aggregate: the returned plan reads the
        corpus ONLY through the persisted aggregate (InMemoryTableScan),
        never a second parquet scan (verdict r12 #6)."""
        from patito_spark.plans import executed_plan

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        qdf = spark.createDataFrame(
            [(1, "fast value the"), (2, "merge table")],
            "query_id long, query string",
        )
        out = ops.bm25_scores(docs, qdf, top_k=3)
        plan = executed_plan(out)
        # both rank branches (doc_freq + scoring) read the cache
        assert plan.count("InMemoryTableScan") >= 2
        # every FileScan in the text is an InMemoryRelation REPRINT of
        # the cached aggregate's lineage (each reprint embeds the
        # corpus FileScan twice under AQE: final + '== Initial Plan ==');
        # a genuine second corpus scan would push the FileScan count
        # past the reprints.
        assert plan.count("FileScan parquet") <= 2 * plan.count(
            "InMemoryRelation"
        )
        assert out.count() > 0


# ---------------------------------------------------------------------- #
# Interpolated Kneser-Ney (round 12)                                      #
# ---------------------------------------------------------------------- #


class TestKneserNey:
    def _corpus(self, spark, n=50):
        rows = [
            (d, " ".join(f"w{(d * 5 + i * 7) % 30}" for i in range(5 + d % 6)))
            for d in range(n)
        ]
        return rows, spark.createDataFrame(rows, "doc_id long, text string")

    @staticmethod
    def _kn_py(rows, discount=0.75, k=1.0):
        import math
        from collections import Counter

        docs = {d: t.split(" ") for d, t in rows}
        pair_n = Counter()
        for toks in docs.values():
            prevs = [None] + toks[:-1]
            for p, w in zip(prevs, toks):
                pair_n[(p, w)] += 1
        bigrams = {pw: c for pw, c in pair_n.items() if pw[0] is not None}
        vocab = {w for _, w in pair_n}
        v = len(vocab)
        b = len(bigrams)
        c_prev = Counter()
        n1p_prev = Counter()
        n1p_cont = Counter()
        for (p, w), c in bigrams.items():
            c_prev[p] += c
            n1p_prev[p] += 1
            n1p_cont[w] += 1
        cont_denom = b + k * (v + 1)

        def p_cont(w):
            return (n1p_cont[w] + k) / cont_denom

        out = {}
        for d, toks in docs.items():
            prevs = [None] + toks[:-1]
            nll = 0.0
            for p, w in zip(prevs, toks):
                if p is not None and c_prev[p] > 0:
                    prob = (
                        max(pair_n[(p, w)] - discount, 0.0) / c_prev[p]
                        + discount * n1p_prev[p] / c_prev[p] * p_cont(w)
                    )
                else:
                    prob = p_cont(w)
                nll += -math.log(prob)
            out[d] = (len(toks), nll / len(toks))
        return out

    def test_matches_python_reference(self, spark):
        rows, df = self._corpus(spark)
        got = {
            r["doc_id"]: (r["n_tokens"], r["kn_ce"])
            for r in ops.kneser_ney_logloss(df).collect()
        }
        want = self._kn_py(rows)
        assert set(got) == set(want)
        for d, (nt, ce) in want.items():
            assert got[d][0] == nt
            assert got[d][1] == pytest.approx(ce, rel=1e-12)

    def test_matches_duckdb(self, spark):
        import duckdb

        rows, df = self._corpus(spark, n=80)
        got = {
            r["doc_id"]: r["kn_ce"]
            for r in ops.kneser_ney_logloss(df).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
        want = dict(
            con.execute(
                """
                WITH toks AS (
                    SELECT doc_id, string_split(text, ' ') AS t FROM docs
                ),
                positioned AS (
                    SELECT doc_id,
                           CASE WHEN i = 1 THEN NULL ELSE t[i-1] END AS prev,
                           t[i] AS w
                    FROM toks, unnest(generate_series(1, len(t))) AS u(i)
                ),
                pairs AS (
                    SELECT prev, w, count(*) AS n
                    FROM positioned GROUP BY prev, w
                ),
                bi AS (SELECT * FROM pairs WHERE prev IS NOT NULL),
                consts AS (
                    SELECT (SELECT count(DISTINCT w) FROM pairs) AS v,
                           (SELECT count(*) FROM bi) AS b
                ),
                hist AS (
                    SELECT prev, sum(n)::DOUBLE AS c_prev,
                           count(*)::DOUBLE AS n1p_prev
                    FROM bi GROUP BY prev
                ),
                cont AS (
                    SELECT w, count(*)::DOUBLE AS n1p_cont
                    FROM bi GROUP BY w
                ),
                scoretbl AS (
                    SELECT p.prev, p.w,
                           -ln(CASE WHEN p.prev IS NOT NULL THEN
                                 greatest(p.n - 0.75, 0) / h.c_prev
                                 + 0.75 * h.n1p_prev / h.c_prev
                                   * ((coalesce(c.n1p_cont, 0) + 1.0)
                                      / (s.b + 1.0 * (s.v + 1)))
                               ELSE
                                 (coalesce(c.n1p_cont, 0) + 1.0)
                                 / (s.b + 1.0 * (s.v + 1))
                               END) AS nll
                    FROM pairs p
                    LEFT JOIN hist h ON p.prev = h.prev
                    LEFT JOIN cont c ON p.w = c.w
                    CROSS JOIN consts s
                )
                SELECT pos.doc_id, avg(st.nll) AS kn_ce
                FROM positioned pos
                JOIN scoretbl st
                  ON pos.prev IS NOT DISTINCT FROM st.prev
                 AND pos.w = st.w
                GROUP BY pos.doc_id
                """
            ).fetchall()
        )
        assert set(got) == set(want)
        for d in want:
            assert got[d] == pytest.approx(want[d], rel=1e-9)

    def test_distribution_approximately_normalized(self, spark):
        """For every seen history, Σ_w p(w|prev) over the vocabulary
        stays ≤ 1 (the interpolation is a proper distribution up to the
        add-k continuation floor's reserved mass)."""
        rows, _ = self._corpus(spark)
        from collections import Counter
        import math

        docs = {d: t.split(" ") for d, t in rows}
        pair_n = Counter()
        for toks in docs.values():
            prevs = [None] + toks[:-1]
            for p, w in zip(prevs, toks):
                if p is not None:
                    pair_n[(p, w)] += 1
        vocab = sorted({w for toks in docs.values() for w in toks})
        v, b = len(vocab), len(pair_n)
        c_prev, n1p_prev, n1p_cont = Counter(), Counter(), Counter()
        for (p, w), c in pair_n.items():
            c_prev[p] += c
            n1p_prev[p] += 1
            n1p_cont[w] += 1
        for prev in list(c_prev):
            total = 0.0
            for w in vocab:
                pc = (n1p_cont[w] + 1.0) / (b + v + 1.0)
                total += (
                    max(pair_n[(prev, w)] - 0.75, 0.0) / c_prev[prev]
                    + 0.75 * n1p_prev[prev] / c_prev[prev] * pc
                )
            assert total <= 1.0 + 1e-9

    def test_continuation_distribution_signal(self, spark):
        """The KN property stupid backoff lacks: a token seen after
        MANY distinct histories ('x', 6 contexts) out-scores an
        equally-frequent token welded to ONE history ('y', 6
        occurrences after 'g' only) when both appear after a novel
        shared history 'q' — the interpolation weight routes through
        p_cont, which counts CONTEXTS, not occurrences."""
        rows = [(i, f"{h} x") for i, h in enumerate("abcdef")]
        rows += [(10 + i, "g y") for i in range(6)]
        rows += [(100, "q x"), (101, "q y")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r.kn_ce for r in ops.kneser_ney_logloss(df).collect()}
        assert out[100] < out[101]

    def test_discount_validation(self, spark):
        _, df = self._corpus(spark, n=5)
        with pytest.raises(ValueError, match="discount"):
            ops.kneser_ney_logloss(df, discount=1.5)


def test_lm_quality_scores_kn_matches_standalone(spark):
    """kneser_ney=True on the fused stack reproduces the standalone
    kneser_ney_logloss numbers (same per-pair expressions hoisted into
    the shared score table; only summation order may differ)."""
    rows = [
        (d, " ".join(f"w{(d * 5 + i * 7) % 30}" for i in range(5 + d % 6)))
        for d in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fused = {
        r["doc_id"]: (r["n_tokens"], r["kn_ce"], r["kn_ppl"])
        for r in ops.lm_quality_scores(df, kneser_ney=True).collect()
    }
    alone = {
        r["doc_id"]: (r["n_tokens"], r["kn_ce"], r["kn_ppl"])
        for r in ops.kneser_ney_logloss(df).collect()
    }
    assert set(fused) == set(alone)
    for d in alone:
        assert fused[d][0] == alone[d][0]
        assert fused[d][1] == pytest.approx(alone[d][1], rel=1e-12)
        assert fused[d][2] == pytest.approx(alone[d][2], rel=1e-12)


def test_lm_quality_scores_kn_with_target_column_order(spark):
    rows = [(d, f"w{d % 7} w{(d + 1) % 7} w{(d + 3) % 7}") for d in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter("doc_id % 3 = 0")
    out = ops.lm_quality_scores(df, target, kneser_ney=True)
    assert out.columns == [
        "doc_id", "n_tokens", "cross_entropy", "perplexity",
        "bigram_ce", "bigram_ppl", "kn_ce", "kn_ppl",
        "log_ratio", "dsir_weight", "cross_entropy_target",
    ]
    assert out.count() == 30


class TestTrigramLogloss:
    @staticmethod
    def _tri_py(rows, backoff=0.4, k=1.0):
        import math
        from collections import Counter

        docs = {d: t.split(" ") for d, t in rows}
        uni, bi, tri = Counter(), Counter(), Counter()
        for toks in docs.values():
            for i, w in enumerate(toks):
                uni[w] += 1
                if i >= 1:
                    bi[(toks[i - 1], w)] += 1
                if i >= 2:
                    tri[(toks[i - 2], toks[i - 1], w)] += 1
        total, v = sum(uni.values()), len(uni)
        denom = total + k * (v + 1)

        def p_uni(w):
            return (uni.get(w, 0) + k) / denom

        def p_bi(p1, w):
            if bi.get((p1, w)) and uni.get(p1):
                return bi[(p1, w)] / uni[p1]
            return backoff * p_uni(w)

        out = {}
        for d, toks in docs.items():
            nll = 0.0
            for i, w in enumerate(toks):
                if i == 0:
                    p = p_uni(w)
                elif i == 1:
                    p = p_bi(toks[0], w)
                else:
                    p2, p1 = toks[i - 2], toks[i - 1]
                    if tri.get((p2, p1, w)) and bi.get((p2, p1)):
                        p = tri[(p2, p1, w)] / bi[(p2, p1)]
                    else:
                        p = backoff * p_bi(p1, w)
                nll += -math.log(p)
            out[d] = (len(toks), nll / len(toks))
        return out

    def _corpus(self, spark, n=50):
        rows = [
            (d, " ".join(f"w{(d * 3 + i * 5) % 20}" for i in range(1 + d % 9)))
            for d in range(n)
        ]
        return rows, spark.createDataFrame(rows, "doc_id long, text string")

    def test_matches_python_reference(self, spark):
        rows, df = self._corpus(spark)
        got = {
            r["doc_id"]: (r["n_tokens"], r["trigram_ce"])
            for r in ops.trigram_logloss(df).collect()
        }
        want = self._tri_py(rows)
        assert set(got) == set(want)
        for d, (nt, ce) in want.items():
            assert got[d][0] == nt, d
            assert got[d][1] == pytest.approx(ce, rel=1e-12), d

    def test_single_and_two_token_docs(self, spark):
        rows = [(1, "solo"), (2, "two words"), (3, "a b c")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_tokens"], r["trigram_ce"])
            for r in ops.trigram_logloss(df).collect()
        }
        want = self._tri_py(rows)
        assert {d: g[0] for d, g in got.items()} == {1: 1, 2: 2, 3: 3}
        for d in want:
            assert got[d][1] == pytest.approx(want[d][1], rel=1e-12)

    def test_pruned_trigram_lm_backs_off(self, spark):
        rows, df = self._corpus(spark, n=40)
        full = {
            r["doc_id"]: r["trigram_ce"]
            for r in ops.trigram_logloss(df).collect()
        }
        pruned = {
            r["doc_id"]: r["trigram_ce"]
            for r in ops.trigram_logloss(df, max_trigrams=5).collect()
        }
        # pruning never crashes and only ever RAISES per-doc loss
        # (backoff is multiplicative < 1 on a probability <= the MLE)
        assert set(full) == set(pruned)
        assert all(pruned[d] >= full[d] - 1e-9 for d in full)
        assert any(pruned[d] > full[d] + 1e-9 for d in full)

    def test_order_discrimination(self, spark):
        """A doc with the corpus's trigrams intact scores better at
        order 3 than a doc that preserves only bigram structure."""
        base = "the cat sat on the mat and then the cat slept well"
        rows = [(i, base) for i in range(10)]
        # bigram-preserving scramble: rotate bigram pairs
        rows.append((100, "the cat sat on the mat and then the cat slept well"))
        rows.append((101, "the mat and then the cat sat on the cat slept well"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r["trigram_ce"]
            for r in ops.trigram_logloss(df).collect()
        }
        assert got[100] < got[101]


def test_pipeline_perplexity_order3_gate(spark):
    """perplexity_order=3 wires trigram_logloss into the gate: pick a
    threshold between the corpus's own score spread and assert the gate
    drops exactly the docs the operator scores above it. (Self-LM
    trigram semantics — unique contexts score near-deterministically —
    are pinned in TestTrigramLogloss; this tests the plumbing.)"""
    from patito_spark.operators.pipeline import prepare_training_corpus

    base = "the cat sat on the mat and then the cat slept well here"
    rows = [(i, base) for i in range(10)]
    # shares every trigram CONTEXT with base but diverges in the
    # continuations -> strictly higher self-LM trigram perplexity
    rows.append((100, "the cat sat on the mat and then the cat sat on"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ppl = {
        r.doc_id: r.trigram_ppl for r in ops.trigram_logloss(df).collect()
    }
    assert ppl[100] > ppl[0]
    thr = (ppl[0] + ppl[100]) / 2
    out = prepare_training_corpus(
        df, min_tokens=None, dedup_threshold=None,
        max_perplexity=thr, perplexity_order=3,
    )
    kept = {r.doc_id for r in out["documents"].select("doc_id").collect()}
    assert kept == set(range(10))
    with pytest.raises(ValueError, match="own"):
        prepare_training_corpus(
            df, max_perplexity=5.0, perplexity_order=3,
            perplexity_lm=df.selectExpr("text as token", "doc_id as count"),
        )
    # round 13: order >= 4 is the pretrained-.arpa path and demands an
    # artifact; order 0 is invalid outright
    with pytest.raises(ValueError, match="perplexity_arpa"):
        prepare_training_corpus(df, max_perplexity=5.0, perplexity_order=4)
    with pytest.raises(ValueError, match="must be >= 1"):
        prepare_training_corpus(df, max_perplexity=5.0, perplexity_order=0)


class TestBm25Index:
    def test_index_matches_direct_and_roundtrips(self, spark, tmp_path):
        from patito_spark.operators.text import (
            Bm25Index,
            bm25_scores,
            bm25_topk,
            build_bm25_index,
        )

        rows = [
            (d, " ".join(f"w{(d * 7 + i * 3) % 25}" for i in range(6 + d % 5)))
            for d in range(40)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        qdf = spark.createDataFrame(
            [(100, "w0 w3"), (101, "w24 w1")], "query_id long, query string"
        )
        direct = {
            (r.query_id, r.doc_id): (r.score, r.rank)
            for r in bm25_scores(df, qdf, top_k=5).collect()
        }
        idx = build_bm25_index(df)
        via_index = {
            (r.query_id, r.doc_id): (r.score, r.rank)
            for r in bm25_topk(idx, qdf, k=5).collect()
        }
        assert set(direct) == set(via_index)
        for key in direct:
            assert via_index[key][0] == pytest.approx(direct[key][0], rel=1e-12)
            assert via_index[key][1] == direct[key][1]

        path = str(tmp_path / "bm25")
        idx.write(path)
        idx2 = Bm25Index.read(spark, path)
        assert idx2.n_docs == idx.n_docs
        assert idx2.avgdl == pytest.approx(idx.avgdl)
        again = {
            (r.query_id, r.doc_id): r.rank
            for r in bm25_topk(idx2, qdf, k=5).collect()
        }
        assert again == {k: v[1] for k, v in via_index.items()}
        idx2.unpersist()
        idx.unpersist()

    def test_query_batch_never_rescans_corpus(self, spark):
        """After the index materializes, a query batch's plan reads the
        cached postings (InMemoryTableScan), not the documents scan."""
        from patito_spark.operators.text import bm25_topk, build_bm25_index

        df = spark.createDataFrame(
            [(d, f"w{d % 5} w{(d + 1) % 5} common") for d in range(30)],
            "doc_id long, text string",
        )
        idx = build_bm25_index(df)
        qdf = spark.createDataFrame([(1, "common")], "query_id long, query string")
        plan = bm25_topk(idx, qdf, k=3)._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        idx.unpersist()


def test_lm_quality_scores_trigram_matches_standalone(spark):
    """trigram=True on the fused stack reproduces the standalone
    trigram_logloss numbers AND leaves every pair-level score identical
    to the pair-mode fused path (the pair table is derived from the
    triple table by integer sums, so all counts are bit-equal)."""
    rows = [
        (d, " ".join(f"w{(d * 5 + i * 7) % 30}" for i in range(5 + d % 6)))
        for d in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter("doc_id % 3 = 0")
    fused = {
        r["doc_id"]: r
        for r in ops.lm_quality_scores(
            df, target, kneser_ney=True, trigram=True
        ).collect()
    }
    tri_alone = {
        r["doc_id"]: r for r in ops.trigram_logloss(df).collect()
    }
    pair_mode = {
        r["doc_id"]: r
        for r in ops.lm_quality_scores(
            df, target, kneser_ney=True
        ).collect()
    }
    assert set(fused) == set(tri_alone) == set(pair_mode)
    for d in fused:
        assert fused[d]["n_tokens"] == tri_alone[d]["n_tokens"]
        assert fused[d]["trigram_ce"] == pytest.approx(
            tri_alone[d]["trigram_ce"], rel=1e-12
        )
        assert fused[d]["trigram_ppl"] == pytest.approx(
            tri_alone[d]["trigram_ppl"], rel=1e-12
        )
        for c in (
            "cross_entropy", "perplexity", "bigram_ce", "bigram_ppl",
            "kn_ce", "kn_ppl", "log_ratio", "dsir_weight",
        ):
            assert fused[d][c] == pytest.approx(
                pair_mode[d][c], rel=1e-12
            ), c
    cols = ops.lm_quality_scores(
        df, target, kneser_ney=True, trigram=True
    ).columns
    assert cols == [
        "doc_id", "n_tokens", "cross_entropy", "perplexity",
        "bigram_ce", "bigram_ppl", "kn_ce", "kn_ppl",
        "trigram_ce", "trigram_ppl",
        "log_ratio", "dsir_weight", "cross_entropy_target",
    ]
