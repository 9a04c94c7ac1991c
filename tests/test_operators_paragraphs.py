"""Paragraph-level dedup / boilerplate removal: hand-checked values,
DuckDB replay of the corpus keep-first semantics, and plan assertions."""

import duckdb
import pytest

from patito_spark.operators.paragraphs import (
    dedup_paragraphs,
    drop_boilerplate_paragraphs,
    split_paragraphs,
)
from patito_spark.plans.explain import executed_plan


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta\n\nshared footer\n\ngamma", "web"),
            (2, "shared footer\n\ndelta", "web"),
            (3, "Shared   Footer\n\nepsilon\n\nepsilon", "book"),
            (4, "shared footer", "web"),
        ],
        schema="doc_id long, text string, source string",
    )


def by_id(df):
    return {r["doc_id"]: r["text"] for r in df.collect()}


def test_split_paragraphs_positions_and_keys(docs):
    rows = (
        split_paragraphs(docs)
        .filter("doc_id = 3")
        .orderBy("para_idx")
        .collect()
    )
    assert [(r["para_idx"], r["paragraph"]) for r in rows] == [
        (0, "Shared   Footer"),
        (1, "epsilon"),
        (2, "epsilon"),
    ]
    # Normalized key: trimmed, whitespace-collapsed, lowercased.
    assert rows[0]["para_key"] == "shared footer"


def test_split_paragraphs_is_shuffle_free(docs):
    plan = executed_plan(split_paragraphs(docs))
    assert "Exchange" not in plan


def test_dedup_corpus_keeps_first_occurrence(docs):
    out = by_id(dedup_paragraphs(docs))
    # "shared footer" first appears in doc 1 (idx 1); every later copy
    # (doc 2 idx 0, doc 3 idx 0 in different case/spacing, doc 4) drops.
    assert out[1] == "alpha beta\n\nshared footer\n\ngamma"
    assert out[2] == "delta"
    # Original (un-normalized) text of surviving paragraphs is preserved;
    # doc 3's second "epsilon" is a corpus-level duplicate of its first.
    assert out[3] == "epsilon"
    # Doc 4 lost its only paragraph -> dropped entirely by default.
    assert 4 not in out


def test_dedup_corpus_keep_empty_docs(docs):
    out = by_id(dedup_paragraphs(docs, drop_empty=False))
    assert out[4] == ""


def test_dedup_preserves_other_columns_and_order(docs):
    result = dedup_paragraphs(docs)
    assert result.columns == ["doc_id", "text", "source"]
    sources = {r["doc_id"]: r["source"] for r in result.collect()}
    assert sources == {1: "web", 2: "web", 3: "book"}


def test_dedup_document_scope_keeps_cross_doc_copies(docs):
    out = by_id(dedup_paragraphs(docs, scope="document"))
    # Cross-document copies survive; only doc 3's in-doc repeat drops.
    assert out[2] == "shared footer\n\ndelta"
    assert out[3] == "Shared   Footer\n\nepsilon"
    assert out[4] == "shared footer"


def test_dedup_invalid_scope(docs):
    with pytest.raises(ValueError, match="scope"):
        dedup_paragraphs(docs, scope="global")


def test_boilerplate_removes_every_copy(docs):
    # "shared footer" appears in 4 distinct docs (>= 3) -> all copies go,
    # including the first.
    out = by_id(drop_boilerplate_paragraphs(docs, min_docs=3))
    assert out[1] == "alpha beta\n\ngamma"
    assert out[2] == "delta"
    assert out[3] == "epsilon\n\nepsilon"
    assert 4 not in out
    # At a higher threshold nothing qualifies.
    untouched = by_id(drop_boilerplate_paragraphs(docs, min_docs=5))
    assert untouched[1] == "alpha beta\n\nshared footer\n\ngamma"


def test_boilerplate_min_docs_validated(docs):
    with pytest.raises(ValueError, match="min_docs"):
        drop_boilerplate_paragraphs(docs, min_docs=1)


def _synthetic_corpus(n_docs=120, pool=25, per_doc=6):
    """Deterministic multi-paragraph docs with heavy cross-doc overlap."""
    rows = []
    for d in range(n_docs):
        paras = [
            f"paragraph {(d * 7 + i * 13) % pool} body text"
            for i in range(per_doc)
        ]
        rows.append((d, "\n\n".join(paras)))
    return rows


def test_dedup_corpus_matches_duckdb_oracle(spark):
    rows = _synthetic_corpus()
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = {
        r["doc_id"]: r["text"]
        for r in dedup_paragraphs(df, drop_empty=True).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = dict(
        con.execute(
            r"""
            WITH p AS (
                SELECT doc_id,
                       unnest(ps) AS paragraph,
                       generate_subscripts(ps, 1) AS idx
                FROM (
                    SELECT doc_id,
                           string_split_regex(text, '\n{2,}') AS ps
                    FROM docs
                )
            ),
            keyed AS (
                SELECT doc_id, idx, paragraph,
                       lower(regexp_replace(trim(paragraph),
                                            '\s+', ' ', 'g')) AS k
                FROM p
                WHERE length(lower(regexp_replace(trim(paragraph),
                                                  '\s+', ' ', 'g'))) >= 1
            ),
            ranked AS (
                SELECT doc_id, idx, paragraph,
                       row_number() OVER (
                           PARTITION BY k ORDER BY doc_id, idx
                       ) AS occ
                FROM keyed
            )
            SELECT doc_id,
                   string_agg(paragraph, chr(10) || chr(10)
                              ORDER BY idx) AS text
            FROM ranked WHERE occ = 1
            GROUP BY doc_id
            """
        ).fetchall()
    )
    assert got == want


def test_paragraph_passes_equals_operator_composition(spark):
    """The fused dual-pass report is row-identical to composing
    dedup_paragraphs (corpus) + drop_boilerplate_paragraphs."""
    from patito_spark.operators.paragraphs import (
        dedup_paragraphs,
        drop_boilerplate_paragraphs,
        paragraph_passes,
    )

    rows = [
        (
            d,
            f"Intro shared {d % 3}\n\nbody text unique {d} words\n\n"
            "Common Footer",
        )
        for d in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fused = {
        (r["mode"], r["doc_id"]): r["text"]
        for r in paragraph_passes(df, min_docs=3).collect()
    }
    want = {
        ("dedup", r["doc_id"]): r["text"]
        for r in dedup_paragraphs(df).collect()
    }
    want.update(
        {
            ("boiler", r["doc_id"]): r["text"]
            for r in drop_boilerplate_paragraphs(df, min_docs=3).collect()
        }
    )
    assert fused == want


def test_paragraph_passes_extra_columns_and_keep_empty(spark):
    from patito_spark.operators.paragraphs import paragraph_passes

    rows = [
        (1, "same\n\nonly in one", "u1"),
        (2, "same", "u2"),
        (3, "same", "u3"),
        (4, "same", "u4"),  # 'same' is boilerplate at min_docs=3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, url string")
    out = paragraph_passes(df, min_docs=3, drop_empty=False)
    got = {(r["mode"], r["doc_id"]): (r["text"], r["url"]) for r in out.collect()}
    # every (mode, doc) pair present; emptied docs keep "" and their url
    assert len(got) == 8
    assert got[("boiler", 2)] == ("", "u2")
    assert got[("boiler", 1)] == ("only in one", "u1")
    assert got[("dedup", 1)] == ("same\n\nonly in one", "u1")
    assert got[("dedup", 2)] == ("", "u2")
