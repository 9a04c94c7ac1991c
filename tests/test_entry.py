"""Local replica of the driver's correctness gate.

Runs every `queries()` entry at sf0.001 and compares against the matching
`oracle_sql()` DuckDB result: row count, column names, and values
(order-insensitive). Floats must match to 1e-9 after the query's own
rounding — the driver hashes values, so anything beyond that is a failure
here too.
"""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for table in entry_mod.TABLES:
        con.execute(
            f"CREATE VIEW {table} AS "
            f"SELECT * FROM '{SF_DIR}/{table}.parquet'"
        )
    yield con
    con.close()


def canonical(rows, columns):
    """Order-insensitive canonical form of a result set."""
    out = []
    for row in rows:
        mapped = dict(zip(columns, row))
        out.append(tuple(mapped[c] for c in sorted(columns)))
    return sorted(out, key=lambda t: tuple(str(v) for v in t))


def assert_results_match(name, spark_rows, spark_cols, duck_rows, duck_cols):
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {sorted(spark_cols)} vs {sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s_rows = canonical(spark_rows, spark_cols)
    d_rows = canonical(duck_rows, duck_cols)
    for i, (s, d) in enumerate(zip(s_rows, d_rows)):
        for s_val, d_val in zip(s, d):
            if isinstance(s_val, float) or isinstance(d_val, float):
                # the driver hashes values, so floats must match exactly —
                # enforce bit-exactness here too
                s_f, d_f = float(s_val), float(d_val)
                if math.isnan(s_f) and math.isnan(d_f):
                    continue
                import struct as _struct

                assert _struct.pack("d", s_f) == _struct.pack("d", d_f), (
                    f"{name} row {i}: float {s_f!r} != {d_f!r}"
                )
            else:
                assert str(s_val) == str(d_val), (
                    f"{name} row {i}: {s_val!r} != {d_val!r}"
                )


import os

# Scale-dependent oracle fragments (LSH planes, IVF cells, the PCA fit
# literals) must derive from the SF this replica compares at — the
# PATITO_ORACLE_SF_DIR contract every oracle harness follows
# (baseline_duckdb.py, verify_entries.py).
os.environ["PATITO_ORACLE_SF_DIR"] = SF_DIR
ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert len(df.columns) > 0
    assert df.count() >= 0


def test_every_oracle_has_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_against_oracle(name, spark, duck):
    fn = QUERIES[name]
    sdf = fn(spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = list(sdf.columns)

    if name not in ORACLES:
        # rows-only check, mirroring the driver's weaker gate
        assert len(spark_rows) >= 0
        return

    result = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in result.description]
    duck_rows = result.fetchall()
    assert_results_match(name, spark_rows, spark_cols, duck_rows, duck_cols)


def test_events_ts_normalizes_both_representations(spark, tmp_path):
    """_t('events') must yield epoch-nanos BIGINT whether the parquet
    carries ts as int64 epoch-nanos or as a timestamp type (the driver's
    testdata has shipped both across rounds)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    ns = int(base.timestamp()) * 1_000_000_000  # UTC midnight epoch-nanos

    as_long = str(tmp_path / "long_rep")
    spark.createDataFrame(
        [(1, ns, 7, "click", 1.0, "{}")],
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{as_long}/events.parquet")

    as_ts = str(tmp_path / "ts_rep")
    spark.createDataFrame(
        [(1, base, 7, "click", 1.0, "{}")],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).write.parquet(f"{as_ts}/events.parquet")

    # instant-typed TIMESTAMP (parquet isAdjustedToUTC): the normalization
    # must go through unix_micros, not a session-timezone-dependent cast
    as_instant = str(tmp_path / "instant_rep")
    spark.createDataFrame(
        [(1, base.replace(tzinfo=dt.timezone.utc), 7, "click", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).write.parquet(f"{as_instant}/events.parquet")

    for rep in (as_long, as_ts, as_instant):
        df = entry_mod._t(spark, rep, "events")
        assert dict(df.dtypes)["ts"] == "bigint", rep
        assert df.first()["ts"] == ns, rep

    # the instant leg must be session-timezone-free (the harness pins
    # UTC, but the entry must not depend on that)
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
        df = entry_mod._t(spark, as_instant, "events")
        assert df.first()["ts"] == ns
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_parquet_footer_rows_sums_parts_and_falls_back(tmp_path):
    """The CDC state-partition probe reads row counts from footers: a
    directory of parts sums, and a corrupt or missing file yields None
    (the caller falls back to defaultParallelism) instead of raising."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = tmp_path / "events.parquet"
    parts.mkdir()
    pq.write_table(pa.table({"x": [1, 2, 3]}), parts / "part-0.parquet")
    pq.write_table(pa.table({"x": [4, 5]}), parts / "part-1.parquet")
    (parts / "_SUCCESS").write_text("")
    assert entry_mod._parquet_footer_rows(str(parts)) == 5
    assert entry_mod._parquet_footer_rows(str(parts / "part-1.parquet")) == 2

    corrupt = tmp_path / "corrupt.parquet"
    corrupt.write_bytes(b"PAR1 this is not a parquet file")
    assert entry_mod._parquet_footer_rows(str(corrupt)) is None
    assert entry_mod._parquet_footer_rows(str(tmp_path / "gone.parquet")) is None


def test_footer_sized_knobs_fall_back_on_a_corrupt_file(tmp_path, monkeypatch):
    """The IVF cell count and the oracle's LSH plane count read the
    embeddings row count from the parquet footer; a corrupt footer takes
    the n=500 fallback instead of failing the entry or the oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from patito_spark.operators.similarity import auto_n_centroids, auto_n_planes

    monkeypatch.setenv("PATITO_ORACLE_SF_DIR", str(tmp_path))
    emb = tmp_path / "embeddings.parquet"
    pq.write_table(pa.table({"x": list(range(5000))}), emb)
    assert entry_mod._ivf_cells_for(str(tmp_path)) == auto_n_centroids(5000)
    assert entry_mod._lsh_auto_planes_at_compare_sf() == auto_n_planes(5000)

    emb.write_bytes(b"PAR1 this is not a parquet file")
    assert entry_mod._ivf_cells_for(str(tmp_path)) == auto_n_centroids(500)
    assert entry_mod._lsh_auto_planes_at_compare_sf() == auto_n_planes(500)


def test_text_token_counts_fused_encode(spark):
    """The entry's one-stage dual encode is row-identical to composing
    the standalone with_unigram_token_ids / with_bpe_token_ids
    operators (same artifacts, array_join over the id arrays)."""
    from pyspark.sql import functions as F

    from patito_spark.operators.tokenizer import with_bpe_token_ids
    from patito_spark.operators.unigram import with_unigram_token_ids

    sf_dir = "/root/testdata/sf0.001"
    logp, merges, vocab = entry_mod._tokenizer_artifacts_for(spark, sf_dir)
    base = entry_mod._t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    fused = {
        (r.mode, r.doc_id): r.token_ids
        for r in entry_mod._fused_token_ids(
            base, logp, merges, vocab
        ).collect()
    }
    uni = {
        ("unigram_ids", r.doc_id): r.ids
        for r in with_unigram_token_ids(base, logp)
        .select("doc_id", F.array_join("token_ids", " ").alias("ids"))
        .collect()
    }
    bpe = {
        ("bpe_ids", r.doc_id): r.ids
        for r in with_bpe_token_ids(base, merges, vocab)
        .select("doc_id", F.array_join("token_ids", " ").alias("ids"))
        .collect()
    }
    assert fused == {**uni, **bpe}
