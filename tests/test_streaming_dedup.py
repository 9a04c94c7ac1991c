"""streaming_dedup_lsh: batch equivalence, multi-batch history, hash parity."""

import uuid

from pyspark.sql import functions as F

from patito_spark.functions.hashing import portable_hash64_np
from patito_spark.streaming.dedup import _banded_buckets, streaming_dedup_lsh

PARAMS = dict(num_hashes=16, bands=4, shingle_size=2)


def _run(stream_df, spark):
    name = f"t_sdl_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _docs(spark, rows, path):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_portable_hash_matches_spark(spark):
    from patito_spark.functions.hashing import portable_hash64

    words = ["alpha beta", "gamma", "x y z"]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", portable_hash64("s").alias("h")).collect()}
    assert portable_hash64_np(words).tolist() == [got[w] for w in words]


def test_short_doc_single_shingle():
    # fewer tokens than shingle_size -> whole text is the shingle; with
    # densification the single occupied bin's value fills ALL 16 bins,
    # so every band gets a full 4-entry key derived from that one hash
    buckets = _banded_buckets("solo", 3, 16, 4)
    h = int(portable_hash64_np(["solo"])[0])
    assert buckets == [
        (band, ",".join(f"{4 * band + j}:{h}" for j in range(4)))
        for band in range(4)
    ]
    # densify=False keeps the sparse single-band key (legacy shape)
    sparse = _banded_buckets("solo", 3, 16, 4, densify=False)
    assert sparse == [(h % 16 // 4, f"{h % 16}:{h}")]


def test_flags_match_batch_lsh_candidates(spark, tmp_path):
    """Single batch: flagged ids == batch docs sharing a bucket with a
    smaller doc id (minhash_lsh_candidates on the same portable hashes)."""
    from patito_spark.operators.dedup import minhash_lsh_candidates

    base = "spark shuffles partition data across executors for joins"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " with adaptive query execution enabled"),
        (4, "completely different text about nothing shared at all ok"),
        (5, "another unrelated document mentioning only novel words here"),
    ]
    path = str(tmp_path / "docs")
    _docs(spark, rows, path)

    stream = spark.readStream.schema("doc_id long, text string").parquet(path)
    got = _run(streaming_dedup_lsh(stream, **PARAMS), spark)
    flagged = {r["doc_id"] for r in got.select("doc_id").distinct().collect()}

    batch = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_candidates(
        batch,
        num_hashes=PARAMS["num_hashes"],
        bands=PARAMS["bands"],
        shingle_size=PARAMS["shingle_size"],
        max_bucket_size=10**6,
    )
    expected = {r["id_b"] for r in pairs.select("id_b").distinct().collect()}
    assert flagged == expected
    assert 2 in flagged  # the exact dup must be caught


def test_dup_of_points_to_bucket_representative(spark, tmp_path):
    text = "identical documents collide in every single band obviously yes"
    path = str(tmp_path / "docs")
    _docs(spark, [(10, text), (20, text), (30, text)], path)
    stream = spark.readStream.schema("doc_id long, text string").parquet(path)
    got = _run(streaming_dedup_lsh(stream, **PARAMS), spark)
    verdicts = {(r["doc_id"], r["dup_of"]) for r in got.collect()}
    # ascending-id processing within the batch: 10 claims every bucket
    assert verdicts == {(20, 10), (30, 10)}


def test_history_wins_across_batches(spark, tmp_path):
    """A later batch's doc is flagged against the EARLIER batch's
    representative even when the later id is smaller."""
    text = "first arrival owns the bucket forever in streaming dedup land"
    path = str(tmp_path / "docs")
    _docs(spark, [(100, text)], path)

    stream = spark.readStream.schema("doc_id long, text string").parquet(path)
    flagged = streaming_dedup_lsh(stream, **PARAMS)
    checkpoint = str(tmp_path / "ckpt")
    seen: list[tuple] = []

    def run_once():
        # memory sink cannot recover from a checkpoint; collect via
        # foreachBatch so the second run resumes the state store.
        q = (
            flagged.writeStream.foreachBatch(
                lambda df, _id: seen.extend(
                    (r["doc_id"], r["dup_of"]) for r in df.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert seen == []  # first doc claims silently

    _docs(spark, [(5, text)], path)  # smaller id, later arrival
    run_once()
    assert set(seen) == {(5, 100)}


def test_unique_docs_emit_nothing(spark, tmp_path):
    path = str(tmp_path / "docs")
    _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "entirely disjoint vocabulary tokens without any overlap"),
        ],
        path,
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(path)
    got = _run(streaming_dedup_lsh(stream, **PARAMS), spark)
    assert got.count() == 0


def _drain_and_stop(q, expected_rows, expect_evictions=0, timeout_s=60):
    """Wait until the query has PROCESSED ``expected_rows`` source rows
    (and, if requested, observed ``expect_evictions`` state-row
    removals — the TTL timeout fires in a follow-up batch AFTER the
    data batch), then stop it.

    A query with pending processing-time timeouts (state TTL) never
    self-terminates under availableNow — the engine keeps scheduling
    timeout-servicing batches (see streaming_dedup_lsh's warning).
    ``awaitTermination(t)`` would burn the full ``t`` and leave a
    zombie query running for the rest of the session (this test did
    exactly that for two rounds). Polling recentProgress is the drain
    signal that does terminate.
    """
    import time as _time

    def totals():
        rows = evicted = 0
        for p in q.recentProgress:
            rows += p["numInputRows"]
            for op in p.get("stateOperators") or []:
                evicted += op.get("numRowsRemoved", 0)
        return rows, evicted

    deadline = _time.time() + timeout_s
    while _time.time() < deadline:
        rows, evicted = totals()
        if rows >= expected_rows and evicted >= expect_evictions:
            break
        _time.sleep(0.3)
    else:
        q.stop()
        raise AssertionError(
            f"query saw rows={rows}/{expected_rows} "
            f"evictions={evicted}/{expect_evictions} in {timeout_s}s"
        )
    q.stop()
    q.awaitTermination(30)


def test_state_ttl_forgets_old_representatives(spark, tmp_path):
    """With a tiny TTL, a bucket claimed in batch 1 is forgotten by the
    time batch 2 runs: the later duplicate is NOT flagged (it re-claims),
    bounding state to the dedup horizon."""
    import time as _time

    text = "horizon bounded dedup forgets what it saw too long ago okay"
    path = str(tmp_path / "docs")
    _docs(spark, [(1, text)], path)
    stream = spark.readStream.schema("doc_id long, text string").parquet(path)
    flagged = streaming_dedup_lsh(stream, state_ttl_ms=1, **PARAMS)
    checkpoint = str(tmp_path / "ckpt")
    seen: list[tuple] = []

    def run_once(expected_rows, expect_evictions=0):
        q = (
            flagged.writeStream.foreachBatch(
                lambda df, _id: seen.extend(
                    (r["doc_id"], r["dup_of"]) for r in df.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        _drain_and_stop(q, expected_rows, expect_evictions)

    # Run 1 must ALSO wait for the timeout-servicing batch that evicts
    # doc 1's buckets — stopping right after the data batch would carry
    # the state into run 2 and doc 2 WOULD be flagged.
    run_once(expected_rows=1, expect_evictions=1)
    assert seen == []
    _time.sleep(2)  # TTL (1 ms) long expired
    _docs(spark, [(2, text)], path)
    run_once(expected_rows=1)  # second run reads only the new file
    # doc 2's buckets were evicted between batches: it re-claims, no flag
    assert seen == []

    # control: without TTL the same replay flags doc 2
    flagged_no_ttl = streaming_dedup_lsh(stream, **PARAMS)
    ck2 = str(tmp_path / "ckpt2")
    seen2: list[tuple] = []
    q = (
        flagged_no_ttl.writeStream.foreachBatch(
            lambda df, _id: seen2.extend(
                (r["doc_id"], r["dup_of"]) for r in df.collect()
            )
        )
        .outputMode("append")
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert set(seen2) == {(2, 1)}


def test_dedup_urls_stream_drops_refetches(spark, tmp_path):
    """First fetch of each canonical URL passes; refetches (tracking
    params, www, scheme-case variants) are dropped across micro-batches
    — and batch dedup_urls agrees on the surviving canonical keys."""
    import datetime as dt

    from patito_spark.streaming.dedup import dedup_urls_stream

    path = str(tmp_path / "fetches")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def fetches(rows):
        spark.createDataFrame(
            rows, "fetch_id long, url string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(path)

    fetches(
        [
            (1, "https://example.com/a", t0),
            (2, "https://www.example.com/a?utm_source=feed", t0),
            (3, "https://example.com/b", t0),
        ]
    )
    stream = spark.readStream.schema(
        "fetch_id long, url string, ts timestamp"
    ).parquet(path)
    out = dedup_urls_stream(stream, watermark="1 hour", canonical_col="canon")

    name = f"t_dus_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    first = {r["canon"] for r in spark.table(name).collect()}
    assert first == {"https://example.com/a", "https://example.com/b"}

    # Second batch: refetch of /a again plus a new URL.
    fetches(
        [
            (4, "HTTP://EXAMPLE.COM/a", t0 + dt.timedelta(minutes=5)),
            (5, "https://example.com/c", t0 + dt.timedelta(minutes=5)),
        ]
    )
    q2 = (
        out.writeStream.format("memory")
        .queryName(name + "b")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    canons = [r["canon"] for r in spark.table(name + "b").collect()]
    # Fresh query replays all files: /a appears once (state dedups the
    # http-scheme variant only if canonical keys match — scheme differs,
    # so http://example.com/a is a DIFFERENT canonical key and stays).
    assert canons.count("https://example.com/a") == 1
    assert "https://example.com/c" in canons
    assert "http://example.com/a" in canons

    # Batch operator agrees on the same canonical keys.
    from patito_spark.operators.urls import dedup_urls

    batch = dedup_urls(
        spark.read.parquet(path), id_col="fetch_id", canonical_col="canon"
    )
    assert {r["canon"] for r in batch.collect()} == set(canons)


def test_dedup_paragraphs_stream_keep_first(spark, tmp_path):
    """First occurrence of each paragraph key passes; later copies (any
    case/spacing) drop across micro-batches. Reassembly is a batch
    post-step over the sunk paragraph rows."""
    import datetime as dt

    from patito_spark.streaming.dedup import dedup_paragraphs_stream

    path = str(tmp_path / "pdocs")
    t0 = dt.datetime(2026, 1, 1, 9, 0, 0)

    spark.createDataFrame(
        [
            (1, "intro text\n\nshared footer", t0),
            (2, "Shared   FOOTER\n\nsecond doc body", t0),
        ],
        "doc_id long, text string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(path)

    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(path)
    out = dedup_paragraphs_stream(stream, watermark="1 hour")

    name = f"t_dps_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {
        (r["doc_id"], r["paragraph"]) for r in spark.table(name).collect()
    }
    assert kept == {
        (1, "intro text"),
        (1, "shared footer"),
        (2, "second doc body"),
    }

    # Second batch: another footer copy plus fresh content.
    spark.createDataFrame(
        [(3, "shared footer\n\nbrand new ending", t0 + dt.timedelta(minutes=1))],
        "doc_id long, text string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(path)
    q2 = (
        out.writeStream.format("memory")
        .queryName(name + "b")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    kept2 = {
        (r["doc_id"], r["paragraph"])
        for r in spark.table(name + "b").collect()
    }
    # Fresh query replays all files; doc 3's footer copy must lose to
    # an earlier occurrence (exactly one footer row overall).
    footers = [k for k in kept2 if "footer" in k[1].lower()]
    assert len(footers) == 1
    assert (3, "brand new ending") in kept2
