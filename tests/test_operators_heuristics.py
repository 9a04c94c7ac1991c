"""Gopher / C4 rule sets: hand-checked rows, DuckDB replay, plan shape."""

import pytest

from patito_spark.operators.heuristics import c4_rules, gopher_rules

ROWS = [
    (1, "the cat and the dog have fun with a ball that rolls. " * 5),
    (2, "# # # # # # # # # #"),
    (3, "short text"),
    (4, None),
    (5, "- item one\n- item two\n- item three"),
    (6, "lorem ipsum dolor sit amet. this is fine. really it is."),
    (7, "function f() { return 1; }"),
    (8, "one... two...\nthree...\nfour..."),
    (9, "Click here!\nBuy now?\nGreat deal."),
    (10, "1234 5678 9012 3456 7890"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


class TestGopherRules:
    def test_hand_checked(self, docs):
        out = {r.doc_id: r for r in gopher_rules(docs, min_words=5).collect()}
        # doc 1: long, prose-like, many stop words -> passes everything
        assert out[1].pass_gopher
        # doc 2: ten '#' for ten words -> symbol ratio 1.0 > 0.1
        assert not out[2].rule_symbol_ratio
        # ...and no alphabetic words at all
        assert not out[2].rule_alpha_words
        # doc 3: two words < 5
        assert not out[3].rule_word_count
        # doc 4: null text fails every rule
        r4 = out[4]
        assert not any(
            getattr(r4, c)
            for c in r4.asDict()
            if c.startswith("rule_") or c == "pass_gopher"
        )
        # doc 5: 3/3 bullet lines > 90%
        assert not out[5].rule_bullet_lines
        # doc 8: 3/3 lines end with ellipsis > 30%
        assert not out[8].rule_ellipsis_lines
        # doc 10: digits only -> alpha-word fraction 0 < 80%
        assert not out[10].rule_alpha_words

    def test_stop_words_distinct_semantics(self, spark):
        # 'the' five times is ONE distinct stop word -> fails min 2
        df = spark.createDataFrame(
            [(1, "the the the the the"), (2, "the cat and dog")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.rule_stop_words for r in gopher_rules(df).collect()}
        assert out == {1: False, 2: True}

    def test_thresholds_are_parameters(self, spark):
        df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
        strict = gopher_rules(df, min_words=10).first()
        loose = gopher_rules(df, min_words=2).first()
        assert not strict.rule_word_count and loose.rule_word_count

    def test_plan_map_only_codegen(self, spark, sf_dir):
        from patito_spark.plans import executed_plan, has_whole_stage_codegen

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = gopher_rules(docs).filter("pass_gopher")
        plan = executed_plan(out)
        assert "Exchange" not in plan
        assert has_whole_stage_codegen(out)


class TestC4Rules:
    def test_hand_checked(self, docs):
        out = {r.doc_id: r for r in c4_rules(docs).collect()}
        assert out[1].pass_c4
        assert out[1].frac_terminal_punct == 1.0
        assert not out[6].rule_no_lorem
        assert not out[7].rule_no_brace
        # doc 9: every line ends in . ! or ? and has 3 sentences
        assert out[9].rule_terminal_punct and out[9].rule_min_sentences
        # null: everything false, frac 0
        assert not out[4].pass_c4 and out[4].frac_terminal_punct == 0.0

    def test_line_words_and_blocklist(self, spark):
        df = spark.createDataFrame(
            [(1, "three word line.\nok fine too."), (2, "one.\nword."),
             (3, "totally unwanted badword here.")],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r
            for r in c4_rules(
                df, min_words_per_line=2, blocklist=["badword"]
            ).collect()
        }
        assert out[1].rule_line_words
        assert not out[2].rule_line_words
        assert not out[3].rule_blocklist
        assert out[1].rule_blocklist

    def test_line_words_ignores_blank_lines(self, spark):
        """Paragraph-separated text (blank-line separators, the common
        case) must not fail the line-length gate on its separators;
        whitespace-only lines are blank too; a real short line still
        fails; min_words_per_line=1 is trivially true under the
        ignore-blank convention."""
        df = spark.createDataFrame(
            [
                (1, "a solid first paragraph.\n\nand a second one."),
                (2, "a solid first paragraph.\n   \nand a second one."),
                (3, "a solid first paragraph.\n\nshort."),
            ],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r
            for r in c4_rules(df, min_words_per_line=2).collect()
        }
        assert out[1].rule_line_words
        assert out[2].rule_line_words
        assert not out[3].rule_line_words
        one = {
            r.doc_id: r
            for r in c4_rules(df, min_words_per_line=1).collect()
        }
        assert all(one[i].rule_line_words for i in (1, 2, 3))

    def test_plan_map_only_codegen(self, spark, sf_dir):
        from patito_spark.plans import executed_plan, has_whole_stage_codegen

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = c4_rules(docs).filter("pass_c4")
        plan = executed_plan(out)
        assert "Exchange" not in plan
        assert has_whole_stage_codegen(out)


def test_rules_match_duckdb(spark):
    """Full independent-engine replay of both rule sets on adversarial
    rows (bullets, ellipses, braces, digit soup, multi-line prose)."""
    import duckdb

    rows = [r for r in ROWS if r[1] is not None]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (
            r.rule_word_count, r.rule_mean_word_len, r.rule_symbol_ratio,
            r.rule_bullet_lines, r.rule_ellipsis_lines, r.rule_alpha_words,
            r.rule_stop_words, r.pass_gopher,
        )
        for r in gopher_rules(df, min_words=5).collect()
    }
    got_c4 = {
        r.doc_id: (
            round(r.frac_terminal_punct, 12), r.rule_terminal_punct,
            r.rule_min_sentences, r.rule_no_lorem, r.rule_no_brace,
            r.pass_c4,
        )
        for r in c4_rules(df).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            r"""
            WITH r AS (
                SELECT doc_id,
                       len(string_split(text, ' ')) AS nw,
                       len(string_split(text, chr(10))) AS nl,
                       length(replace(text, ' ', ''))::DOUBLE
                           / len(string_split(text, ' ')) AS mwl,
                       (length(text) - length(replace(text, '#', '')))
                       + len(regexp_extract_all(text, '\.\.\.')) AS nsym,
                       len(regexp_extract_all(text,
                           '(?m)^[ \t]*(?:[-*•]|\d+[.)])[ \t]')) AS bullets,
                       len(regexp_extract_all(text,
                           '(?m)(?:\.\.\.|…)[ \t]*$')) AS ellip,
                       len(regexp_extract_all(text,
                           '(?:^| )[^ ]*[A-Za-z]')) AS alphaw,
                       len(list_distinct(list_intersect(
                           string_split(text, ' '),
                           ['the','be','to','of','and','that','have','with']
                       ))) AS stop_hits
                FROM docs
            )
            SELECT doc_id,
                   (nw >= 5 AND nw <= 100000),
                   (mwl >= 3.0 AND mwl <= 10.0),
                   (nsym::DOUBLE / nw <= 0.1),
                   (bullets::DOUBLE / nl <= 0.9),
                   (ellip::DOUBLE / nl <= 0.3),
                   (alphaw::DOUBLE / nw >= 0.8),
                   (stop_hits >= 2),
                   ((nw >= 5 AND nw <= 100000) AND (mwl BETWEEN 3 AND 10)
                    AND (nsym::DOUBLE / nw <= 0.1)
                    AND (bullets::DOUBLE / nl <= 0.9)
                    AND (ellip::DOUBLE / nl <= 0.3)
                    AND (alphaw::DOUBLE / nw >= 0.8) AND stop_hits >= 2)
            FROM r
            """
        ).fetchall()
    }
    assert got == want
    want_c4 = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            r"""
            WITH r AS (
                SELECT doc_id,
                       len(string_split(text, chr(10))) AS nl,
                       len(regexp_extract_all(text,
                           '(?m)[.!?"][ \t]*$')) AS termlines,
                       len(regexp_extract_all(text, '[.!?]')) AS sents,
                       contains(lower(text), 'lorem ipsum') AS has_lorem,
                       contains(text, '{') AS has_brace,
                       contains(lower(text), 'javascript') AS has_js
                FROM docs
            )
            SELECT doc_id,
                   round(termlines::DOUBLE / nl, 12),
                   termlines = nl,
                   sents >= 3,
                   NOT has_lorem,
                   NOT has_brace,
                   (termlines = nl AND sents >= 3 AND NOT has_lorem
                    AND NOT has_brace AND NOT has_js)
            FROM r
            """
        ).fetchall()
    }
    assert got_c4 == want_c4


def test_pipeline_rule_sets_stage(spark):
    """rule_sets composes into prepare_training_corpus: the gate drops
    failing docs, preserves schema, and snapshots the stage for the
    attrition report."""
    from patito_spark.operators.pipeline import prepare_training_corpus

    rows = [
        (1, "the cat and the dog have fun with a ball that rolls. " * 5),
        (2, "function f() { return 1; }"),
        (3, "lorem ipsum filler. and the cat sat with the dog of it. "
            "that would be to have fun with all of the others. " * 3),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = prepare_training_corpus(
        df, min_tokens=None, dedup_threshold=None,
        rule_sets=["gopher", "c4"],
    )
    kept = {r.doc_id for r in out["documents"].select("doc_id").collect()}
    assert kept == {1}
    assert "rule_sets" in out["stages"]
    assert out["stages"]["rule_sets"].columns == df.columns
    with pytest.raises(ValueError, match="unknown rule_sets"):
        prepare_training_corpus(df, rule_sets=["nope"])


def test_rules_compose_with_streams(spark, tmp_path):
    """Both rule sets are stateless projections, so they run unchanged
    on a readStream — the ingestion-time admission shape (gate docs as
    they arrive, no batch re-pass)."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "the cat and the dog have fun with a ball that rolls. " * 5),
            (2, "lorem ipsum."),
        ],
        "doc_id long, text string",
    ).write.parquet(path)
    stream = spark.readStream.schema("doc_id long, text string").parquet(path)
    gated = c4_rules(gopher_rules(stream, min_words=5)).filter(
        "pass_gopher AND pass_c4"
    )
    assert gated.isStreaming
    q = (
        gated.writeStream.format("memory")
        .queryName("t_rule_gated")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("select doc_id from t_rule_gated").collect()
    assert [r.doc_id for r in rows] == [1]


class TestGopherRepetitionRules:
    def test_hand_checked_metrics(self):
        from patito_spark.operators.heuristics import _repetition_metrics

        # duplicate 5-gram: "a b c d e" twice; union span marking
        text = "a b c d e a b c d e x"
        m = _repetition_metrics(text)
        assert m["dup_5_gram_char_frac"] == pytest.approx(18 / 21)
        # overlapping duplicated grams never double-count characters
        assert 0.0 <= m["dup_6_gram_char_frac"] <= 1.0
        # top 2-gram: every adjacent pair; "a b" occurs twice (9 pairs
        # total), gram chars = 2 (token lengths only, no spaces —
        # matches the public threshold calibration), doc chars = 21
        assert m["top_2_gram_char_frac"] == pytest.approx(2 * 2 / 21)

        lines = _repetition_metrics("dup line\ndup line\nfresh one")
        assert lines["dup_line_frac"] == pytest.approx(1 / 3)
        assert lines["dup_line_char_frac"] == pytest.approx(
            len("dup line") / len("dup line\ndup line\nfresh one")
        )

        paras = _repetition_metrics("para one\n\npara one\n\nother")
        assert paras["dup_para_frac"] == pytest.approx(1 / 3)

        # blank lines between paragraphs are NOT duplicate lines: a
        # normal all-unique multi-paragraph doc passes every dup gate
        multi = "\n\n".join(
            f"paragraph {i} body sentence" for i in range(10)
        )
        clean = _repetition_metrics(multi)
        assert clean["dup_line_frac"] == 0.0
        assert clean["dup_para_frac"] == 0.0
        assert clean["dup_line_char_frac"] == 0.0
        # leading/trailing blank paragraphs are ignored too
        padded = _repetition_metrics("\n\n" + multi + "\n\n")
        assert padded["dup_para_frac"] == 0.0
        assert padded["dup_line_frac"] == 0.0
        # all-whitespace text: no units, zero fractions
        ws = _repetition_metrics("\n\n \n")
        assert ws["dup_line_frac"] == 0.0
        assert ws["dup_para_frac"] == 0.0

        short = _repetition_metrics("a b")
        assert short["dup_10_gram_char_frac"] == 0.0
        assert short["top_4_gram_char_frac"] == 0.0

    def test_dataframe_rules_and_thresholds(self, spark):
        from patito_spark.operators.heuristics import (
            GOPHER_REPETITION_THRESHOLDS,
            gopher_repetition_rules,
        )

        spam = " ".join(["buy cheap pills now today"] * 30)
        clean = " ".join(f"w{i} x{i * 7 % 13}" for i in range(60))
        df = spark.createDataFrame(
            [(1, spam), (2, clean), (3, None)],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in gopher_repetition_rules(df).collect()}
        assert not out[1].pass_repetition  # keyword stuffing gates out
        assert out[1].dup_5_gram_char_frac > 0.9
        assert out[2].pass_repetition
        assert not out[3].pass_repetition  # null text fails all
        # per-rule booleans exist for every Table-A2 metric
        for m in GOPHER_REPETITION_THRESHOLDS:
            assert hasattr(out[1], f"rule_rep_{m}")
        # threshold override flips a rule
        loose = {
            r.doc_id: r
            for r in gopher_repetition_rules(
                df, thresholds={"dup_5_gram_char_frac": 1.0}
            ).collect()
        }
        assert loose[1].rule_rep_dup_5_gram_char_frac
        with pytest.raises(ValueError, match="unknown repetition"):
            gopher_repetition_rules(df, thresholds={"nope": 0.5})

    def test_pipeline_rule_set_wiring(self, spark):
        from patito_spark.operators.pipeline import prepare_training_corpus

        spam = " ".join(["buy cheap pills now today"] * 30)
        clean = " ".join(f"w{i} x{i * 7 % 13}" for i in range(60))
        df = spark.createDataFrame(
            [(1, spam), (2, clean)], "doc_id long, text string"
        )
        out = prepare_training_corpus(
            df,
            rule_sets=["gopher_repetition"],
            min_tokens=2,
            dedup_threshold=None,
        )
        ids = {r.doc_id for r in out["documents"].collect()}
        assert ids == {2}
        assert "rule_sets" in out["stages"]
        # the rule columns are dropped after filtering
        assert "pass_repetition" not in out["documents"].columns


def test_document_profile_engines_identical(spark):
    """document_profile (the Arrow kernel) is value-identical — doubles
    bit-exact included — to the codegen composition of the public rule
    operators (the JVM engine), across bullets, ellipses (ascii + unicode),
    numbered lists, braces, lorem, javascript, stop words, multi-space
    runs, marker-vote ties, terminal punctuation and null text."""
    from patito_spark.operators.heuristics import (
        c4_rules,
        document_profile,
        gopher_rules,
    )
    from patito_spark.operators.text import (
        detect_language,
        fingerprint,
        quality_score,
    )

    rows = [
        (1, "the quick brown fox . " * 30),
        (2, "- bullet one\n- bullet two\n1. third\n2) fourth"),
        (3, "trailing dots...\nmore…\t\nplain line"),
        (4, "x { code } javascript lorem ipsum"),
        (5, "the be to of and that have with"),
        (6, "der und table merge der und le et el y"),
        (7, "a  double  space   run"),
        (8, 'Ends with quote."\nAnd bang!\nAnd query?'),
        (9, "###### symbols ... and ... more ... " * 10),
        (10, "value fast query window data row join batch"),
        (11, None),
        (12, " "),
        (13, "\n\n\n"),
        (14, "word " * 200),
        # Java's (?m) anchors recognize \r\n, \r, \x85, U+2028/U+2029;
        # the arrow lane replicates them with lookarounds (round-15
        # review finding — CRLF docs counted line-end rules differently)
        (15, "Done...\r\nNext line."),
        (16, "- item\r\n- item two\r\nplain."),
        (17, "ends here.\ralpha...\x85tail."),
        (18, "a.\r\rb. c... - d e"),
        (19, "\r\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    arrow = document_profile(df)
    composed = c4_rules(gopher_rules(df)).select(
        "doc_id",
        quality_score("text").alias("quality"),
        fingerprint("text").alias("fp"),
        detect_language("text").alias("lang_pred"),
        *arrow.columns[4:],
    )
    sql_rows = {r[0]: tuple(r) for r in composed.collect()}
    arrow_rows = {r[0]: tuple(r) for r in arrow.collect()}
    assert set(sql_rows) == set(arrow_rows)
    for k in sql_rows:
        assert sql_rows[k] == arrow_rows[k], (k, sql_rows[k], arrow_rows[k])


def test_document_profile_arrow_plan_map_only(spark):
    """The profile is ONE Arrow stage over the scan: no Exchange,
    no regexp expressions, map-only."""
    from patito_spark.operators.heuristics import document_profile

    df = spark.createDataFrame(
        [(1, "the quick fox.")], "doc_id long, text string"
    )
    plan = (
        document_profile(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
