"""update_corpus: each admission stage drops exactly what it should."""

import pytest
from pyspark.sql import functions as F

from patito_spark.operators.incremental import update_corpus

BODY = "the quick brown fox jumps over the lazy dog again and again today"


@pytest.fixture()
def history(spark):
    return spark.createDataFrame(
        [
            (1, BODY + " one", "https://example.com/a"),
            (2, "completely different historical content here", "https://example.com/b"),
        ],
        "doc_id long, text string, url string",
    )


def ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_all_stages(spark, history):
    incoming = spark.createDataFrame(
        [
            # refetch: same canonical URL as history doc 1 (tracking junk)
            (10, "brand new words entirely", "https://www.example.com/a?utm_source=x"),
            # exact content match of history doc 2, new URL
            (11, "completely different historical content here", "https://example.com/c"),
            # near-dup of history doc 1 (one word changed), new URL
            (12, BODY + " two", "https://example.com/d"),
            # genuinely new
            (13, "fresh unrelated article about spark physical plans", "https://example.com/e"),
            # within-batch near-dup pair: only one survives
            (14, "unique batch content shared by the pair of docs", "https://example.com/f"),
            (15, "unique batch content shared by the pair of docs", "https://example.com/g"),
        ],
        "doc_id long, text string, url string",
    )
    out = update_corpus(
        history, incoming, url_col="url", neardup_threshold=0.6,
        within_batch_threshold=0.6,
    )
    got = ids(out["admitted"])
    # 10 refetch-dropped, 11 exact-dropped, 12 neardup-dropped,
    # 14/15 collapse to one.
    assert 13 in got
    assert 10 not in got and 11 not in got and 12 not in got
    assert len([i for i in got if i in (14, 15)]) == 1
    assert [s for s, _ in out["stages"]] == [
        "refetch_drop",
        "exact_content_drop",
        "neardup_vs_history",
        "within_batch_dedup",
    ]


def test_stages_skippable(spark, history):
    incoming = spark.createDataFrame(
        [(20, BODY + " two", "https://example.com/zz")],
        "doc_id long, text string, url string",
    )
    # With every optional stage off, only exact-content dedup runs and
    # the near-dup survives.
    out = update_corpus(
        history, incoming, url_col=None, neardup_threshold=None,
        within_batch_threshold=None,
    )
    assert ids(out["admitted"]) == [20]
    assert [s for s, _ in out["stages"]] == ["exact_content_drop"]


def test_no_url_column_needed(spark):
    history = spark.createDataFrame(
        [(1, "historical text body")], "doc_id long, text string"
    )
    incoming = spark.createDataFrame(
        [(2, "historical text body"), (3, "new text body")],
        "doc_id long, text string",
    )
    out = update_corpus(history, incoming, neardup_threshold=None,
                        within_batch_threshold=None)
    assert ids(out["admitted"]) == [3]


def test_plan_only_until_materialized(spark, history):
    """No stage except within-batch dedup runs jobs at build time."""
    incoming = spark.createDataFrame(
        [(30, "some incoming text", "https://example.com/x")],
        "doc_id long, text string, url string",
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    update_corpus(history, incoming, url_col="url",
                  within_batch_threshold=None)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before


def test_update_corpus_matches_duckdb_replay(spark):
    """Round-10 (verdict item 6): the full admission chain value-oracled
    end to end over portable MinHash hashes — refetch anti-join, fingerprint
    anti-join, cross-corpus banded-minhash near-dup drop, and the
    within-batch LSH -> components -> min-id-representative self-dedup,
    all replayed in one DuckDB statement over the same two snapshots."""
    import duckdb

    import __spark_entry__ as em

    # History ids 0..39, incoming 100..149. URLs are already canonical
    # (the canonicalization chain is oracled by the url_pipeline driver
    # slot), so the refetch replay is a plain anti-join on url.
    def text(base, i, n=30):
        return " ".join(f"{base}{i}w{j}" for j in range(n))

    hist_rows = [
        (i, text("h", i), f"https://example.com/h{i}") for i in range(40)
    ]
    inc_rows = []
    for i in range(50):
        did = 100 + i
        cat = i % 5
        if cat == 0:      # refetch of a history URL, fresh text
            inc_rows.append((did, text("r", i), f"https://example.com/h{i}"))
        elif cat == 1:    # exact content of a history doc, new URL
            inc_rows.append((did, text("h", i - 1), f"https://example.com/i{i}"))
        elif cat == 2:    # near-dup of a history doc (last token changed)
            t = text("h", i - 2).rsplit(" ", 1)[0] + " changedtail"
            inc_rows.append((did, t, f"https://example.com/i{i}"))
        elif cat == 3:    # genuinely new
            inc_rows.append((did, text("n", i), f"https://example.com/i{i}"))
        else:             # within-batch near-dup of the previous new doc
            t = text("n", i - 1).rsplit(" ", 1)[0] + " othertail"
            inc_rows.append((did, t, f"https://example.com/i{i}"))

    schema = "doc_id long, text string, url string"
    history = spark.createDataFrame(hist_rows, schema)
    incoming = spark.createDataFrame(inc_rows, schema)
    out = update_corpus(
        history, incoming, url_col="url",
        neardup_threshold=0.6, within_batch_threshold=0.6,
    )
    got = ids(out["admitted"])

    con = duckdb.connect()
    con.execute("CREATE TABLE hist(doc_id BIGINT, text VARCHAR, url VARCHAR)")
    con.execute("CREATE TABLE inc(doc_id BIGINT, text VARCHAR, url VARCHAR)")
    con.executemany("INSERT INTO hist VALUES (?,?,?)", hist_rows)
    con.executemany("INSERT INTO inc VALUES (?,?,?)", inc_rows)

    def minhash_ctes(prefix, shingle_src):
        """Banded densified-OPH signature CTEs over `shingle_src`
        (the dedup_minhash oracle's chain, parameterized)."""
        return f"""
        {prefix}sh AS ({em._shingle_sql(3, shingle_src)}),
        {prefix}bm AS (
            SELECT doc_id, h % 64 AS bin, min(h) AS mn
            FROM {prefix}sh GROUP BY doc_id, h % 64
        ),
        {prefix}grid AS (
            SELECT d.doc_id, g.bin, bm.mn
            FROM (SELECT DISTINCT doc_id FROM {prefix}bm) d
            CROSS JOIN (SELECT unnest(range(0, 64)) AS bin) g
            LEFT JOIN {prefix}bm bm
              ON bm.doc_id = d.doc_id AND bm.bin = g.bin
        ),
        {prefix}dense AS (
            SELECT doc_id, bin,
                   coalesce(
                       first_value(mn IGNORE NULLS) OVER (
                           PARTITION BY doc_id ORDER BY bin
                           ROWS BETWEEN CURRENT ROW
                                    AND UNBOUNDED FOLLOWING),
                       first_value(mn IGNORE NULLS) OVER (
                           PARTITION BY doc_id ORDER BY bin
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND UNBOUNDED FOLLOWING)
                   ) AS mn
            FROM {prefix}grid
        ),
        {prefix}banded AS (
            SELECT doc_id, (bin // 4) AS band,
                   string_agg(bin || ':' || mn, ',' ORDER BY bin) AS bkey
            FROM {prefix}dense GROUP BY doc_id, (bin // 4)
        ),
        {prefix}toks AS (
            SELECT doc_id, list_sort(list(h)) AS hs
            FROM {prefix}sh GROUP BY doc_id
        )"""

    jac = (
        "CASE WHEN len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)) = 0"
        " THEN 1.0 ELSE len(list_intersect(a.hs, b.hs))::DOUBLE"
        " / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) END"
    )
    sql = f"""
    WITH RECURSIVE
    s1 AS (SELECT * FROM inc WHERE url NOT IN (SELECT url FROM hist)),
    s2 AS (SELECT * FROM s1
           WHERE md5(text) NOT IN (SELECT md5(text) FROM hist)),
    {minhash_ctes("u", "(SELECT doc_id, text FROM s2"
                       " UNION ALL SELECT doc_id, text FROM hist)")},
    -- stage 3: batch x history bucket candidates (no size guard — the
    -- minhash_dedup_against shape), verified by true Jaccard
    c3 AS (
        SELECT DISTINCT a.doc_id AS cid, b.doc_id AS rid
        FROM ubanded a JOIN ubanded b
          ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id >= 100 AND b.doc_id < 100
          AND a.doc_id IN (SELECT doc_id FROM s2)
    ),
    v3 AS (
        SELECT DISTINCT cid FROM (
            SELECT c3.cid, {jac} AS j
            FROM c3 JOIN utoks a ON c3.cid = a.doc_id
                    JOIN utoks b ON c3.rid = b.doc_id
        ) WHERE j >= 0.6
    ),
    s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT cid FROM v3)),
    -- stage 4: within-batch LSH with the 1 < sz <= 1000 bucket guard
    kept4 AS (
        SELECT * FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bkey) AS sz
            FROM ubanded WHERE doc_id IN (SELECT doc_id FROM s3)
        ) WHERE sz > 1 AND sz <= 1000
    ),
    c4 AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM kept4 a JOIN kept4 b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    v4 AS (
        SELECT id_a, id_b FROM (
            SELECT c4.id_a, c4.id_b, {jac} AS j
            FROM c4 JOIN utoks a ON c4.id_a = a.doc_id
                    JOIN utoks b ON c4.id_b = b.doc_id
        ) WHERE j >= 0.6
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM v4
        UNION SELECT id_b, id_a FROM v4
    ),
    reach(src, dst) AS (
        SELECT src, src FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (SELECT src AS node, min(dst) AS component
             FROM reach GROUP BY src)
    SELECT doc_id FROM s3
    WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
    ORDER BY doc_id
    """
    want = [r[0] for r in con.execute(sql).fetchall()]
    assert got == want
    # sanity: the scenario actually exercises every stage (only i < 40
    # reference an EXISTING history doc — later ids are plain new docs)
    assert len(got) < 50 and len(got) > 0
    cats = {i % 5 for i in range(40) if (100 + i) in got}
    assert 0 not in cats and 1 not in cats and 2 not in cats
