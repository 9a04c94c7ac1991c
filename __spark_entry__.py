"""Driver contract for the spark-graft builder (PySpark target).

Every entry routes through patito_spark (Relation layer, model validation,
or pipeline operators) — the queries ARE the engine's integration tests.
Each `queries()` entry has a matching `oracle_sql()` DuckDB statement unless
the operator is inherently non-SQL (MinHash/SimHash/LSH signatures use
Spark's xxhash64, which no other engine reproduces — those get rows-only
checks).

Determinism notes:
* SUM/AVG aggregates over doubles are rounded (2-6 decimals) in BOTH
  engines (partition-order double addition is not associative);
* ratio-style values (jaccard, cosine, quality) are NOT rounded: both
  engines compute the identical IEEE-double operation sequence, verified
  bit-exact — decimal rounding is the only thing that can diverge (Spark
  rounds via the shortest decimal repr, DuckDB via scaled std::round);
* every ranking has a unique-id tie-break,
* timestamps are TIMESTAMP_NTZ on the Spark side — no timezone skew vs
  DuckDB's naive timestamps; events use epoch-nanos integer math.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import sys
import threading
from collections.abc import Callable
from typing import Literal, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

# make `import patito_spark` work regardless of the caller's cwd
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


# Wall-clock TIMESTAMP_NTZ → epoch-nanos: timestampdiff on TIMESTAMP_NTZ
# is pure calendar arithmetic, so this leg has no session-timezone
# dependence. Exact for micro-precision inputs; `* 1000` stays well
# inside int64 for any realistic date. Instant-typed TIMESTAMP input
# takes the `unix_micros` leg instead (see _events_ts_to_ns): casting an
# instant to TIMESTAMP_NTZ renders it in the session timezone first,
# which would only be correct with the session pinned to UTC.
_TS_TO_NS = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', "
    "cast(ts as timestamp_ntz)) * 1000"
)


def _events_ts_to_ns(df: DataFrame) -> DataFrame:
    """Normalize `events.ts` to epoch-nanos BIGINT whatever the file type.

    The driver's testdata has shipped `ts` both as parquet TIMESTAMP(NANOS)
    (readable only via nanosAsLong → already epoch-nanos long) and as
    timestamp[us] (reads as TIMESTAMP_NTZ, or as TIMESTAMP when the file
    marks isAdjustedToUTC). Every query downstream does integer time math
    in epoch-nanos and every oracle uses epoch_ns(ts), so all
    representations funnel to the same numeric column here — via
    `unix_micros` for instants (session-timezone-free by construction)
    and calendar arithmetic for wall-clock values.
    """
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.TimestampType):
        df = df.withColumn("ts", F.expr("unix_micros(ts) * 1000"))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn("ts", F.expr(_TS_TO_NS))
    return df


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A table of ``sf_dir``, read with its schema inferred once per file
    version per session (``read_inferred``: later reads run no job)."""
    from patito_spark.sources.readers import read_inferred

    if name == "events":
        # Harmless when ts is already micros/timestamp; required when the
        # file carries TIMESTAMP(NANOS), which Spark can't read natively.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_inferred(spark, "parquet", f"{sf_dir}/{name}.parquet")
    return _events_ts_to_ns(df) if name == "events" else df


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table with ts normalized to epoch-nanos.

    Streaming sources need an explicit schema — take it from the batch
    read's kept schema (inferred once per session), then apply the same
    ts normalization as the batch path.
    """
    from patito_spark.sources.readers import read_inferred

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = read_inferred(spark, "parquet", f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _events_ts_to_ns(stream)


def _rel(spark: SparkSession, sf_dir: str, name: str):
    import patito_spark as pt

    return pt.Database(spark).to_relation(_t(spark, sf_dir, name)).set_alias(name)


# ---------------------------------------------------------------------- #
# Models used by the validated-load query                                 #
# ---------------------------------------------------------------------- #


def _lineitem_model():
    import patito_spark as pt

    class LineItem(pt.Model):
        l_orderkey: int
        l_partkey: int
        l_suppkey: int
        l_linenumber: int = pt.Field(ge=1)
        l_quantity: float = pt.Field(gt=0)
        l_extendedprice: float = pt.Field(ge=0)
        l_discount: float = pt.Field(ge=0, le=1)
        l_tax: float = pt.Field(ge=0)
        l_returnflag: Literal["A", "N", "R"]
        l_linestatus: Literal["O", "F"]
        l_shipdate: dt.datetime

    return LineItem


# ---------------------------------------------------------------------- #
# Headline analytical queries                                             #
# ---------------------------------------------------------------------- #


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape via the Relation layer (scan → filter → hash agg)."""
    lineitem = _rel(spark, sf_dir, "lineitem")
    return (
        lineitem.filter("l_shipdate <= timestamp '1998-09-02 00:00:00'")
        .aggregate(
            sum_qty="round(sum(l_quantity), 2)",
            sum_base_price="round(sum(l_extendedprice), 2)",
            sum_disc_price="round(sum(l_extendedprice * (1 - l_discount)), 2)",
            sum_charge=(
                "round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)"
            ),
            avg_qty="round(avg(l_quantity), 4)",
            avg_price="round(avg(l_extendedprice), 4)",
            avg_disc="round(avg(l_discount), 6)",
            count_order="count(*)",
            group_by=["l_returnflag", "l_linestatus"],
        )
        .order(by=["l_returnflag", "l_linestatus"])
        .dataframe
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem with deterministic top-10."""
    customer = _rel(spark, sf_dir, "customer").filter(c_mktsegment="BUILDING")
    orders = _rel(spark, sf_dir, "orders").filter(
        "o_orderdate < timestamp '1998-01-01 00:00:00'"
    )
    lineitem = _rel(spark, sf_dir, "lineitem").filter(
        "l_shipdate > timestamp '1998-01-01 00:00:00'"
    )
    return (
        customer.join(orders, on="c_custkey = o_custkey")
        .join(lineitem, on="l_orderkey = o_orderkey")
        .aggregate(
            revenue="round(sum(l_extendedprice * (1 - l_discount)), 2)",
            group_by=["l_orderkey", "o_orderdate", "o_orderpriority"],
        )
        .order(by=["revenue desc", "l_orderkey"])
        .limit(10)
        .dataframe
    )


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-way join; dims are explicitly broadcast (no shuffle for them)."""
    region = F.broadcast(
        _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    lineitem = _t(spark, sf_dir, "lineitem")
    joined = (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .join(
            supplier,
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc())
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-heavy filter + global agg; predicates push to the parquet scan."""
    lineitem = _rel(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            "l_shipdate >= timestamp '1996-01-01 00:00:00'",
            "l_shipdate < timestamp '1997-01-01 00:00:00'",
            "l_discount >= 0.05 and l_discount <= 0.07",
            "l_quantity < 24",
        )
        .aggregate(
            revenue="round(sum(l_extendedprice * l_discount), 2)",
            n_items="count(*)",
            group_by=(),
        )
        .dataframe
    )


def q_top_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events per user by value (window, deterministic tie-break)."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        events.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("user_id", "event_id", "value", "rank")
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag window."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap_ns = 30 * 60 * 1_000_000_000  # 30 min in epoch-nanos
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") > F.lag("ts").over(w) + F.lit(gap_ns)),
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.when(F.col("new_session") == 1, 1)).alias("n_sessions"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def q_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming: hourly per-type event rollup.

    Reads events as a stream (availableNow), aggregates in complete mode to
    a memory sink, and returns the batch view — so the streaming pipeline
    itself is under the DuckDB oracle. Time buckets are integer epoch-nanos
    arithmetic: no timestamp/timezone semantics anywhere.
    """
    import uuid

    # streaming file source requires a directory; glob-filter to the table
    stream = _events_stream(spark, sf_dir)
    hour_ns = 3_600_000_000_000
    # State-store count is fixed at query start from shuffle.partitions:
    # size it to the keyspace (a few thousand hour×type groups here — 32
    # near-empty stores just add per-batch overhead). A production
    # deployment sizes this to its throughput instead.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    agg = (
        stream.withColumn("hour_bucket", F.expr(f"ts div {hour_ns}"))
        .groupBy("hour_bucket", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    name = f"pt_stream_{uuid.uuid4().hex[:8]}"
    try:
        query = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


# ---------------------------------------------------------------------- #
# Relation-layer demonstrations                                           #
# ---------------------------------------------------------------------- #


def rel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _rel(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            "l_discount >= 0.05 and l_discount <= 0.07", l_returnflag="R"
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag")
        .dataframe
    )


def rel_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _rel(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        "upper(p_brand) as brand_upper",
        adjusted_price="round(p_retailprice * 1.1, 2)",
        name_len="cast(length(p_name) as bigint)",
    ).dataframe


def rel_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = _rel(spark, sf_dir, "supplier")
    return supplier.aggregate(
        n_suppliers="count(*)",
        avg_acctbal="round(avg(s_acctbal), 2)",
        min_acctbal="round(min(s_acctbal), 2)",
        max_acctbal="round(max(s_acctbal), 2)",
        group_by="s_nationkey",
    ).dataframe


SEGMENT_CODES = {
    "AUTOMOBILE": 1,
    "BUILDING": 2,
    "FURNITURE": 3,
    "HOUSEHOLD": 4,
    "MACHINERY": 5,
}


def rel_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _rel(spark, sf_dir, "customer")
    return (
        customer.case(
            from_column="c_mktsegment",
            to_column="segment_code",
            mapping=SEGMENT_CODES,
            default=0,
        )
        .aggregate(
            n_customers="count(*)",
            total_acctbal="round(sum(c_acctbal), 2)",
            group_by="segment_code",
        )
        .dataframe
    )


def rel_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter → case → select(computed columns) → aggregate through ONE
    Relation chain.

    Merges the former rel_filter / rel_select / rel_case / rel_aggregate
    driver entries (each still unit-tested and plan-asserted in
    isolation — tests/test_database.py, tests/test_plans.py) into one
    oracle slot, freeing three slots for the build_vocab / tf_idf /
    unigram_logloss cascade under the driver's 50-entry budget
    (verdict r8 #6). Every method the retired entries exercised is on
    this chain's path.
    """
    customer = _rel(spark, sf_dir, "customer")
    return (
        customer.filter("c_acctbal > 100.0")
        .case(
            from_column="c_mktsegment",
            to_column="segment_code",
            mapping=SEGMENT_CODES,
            default=0,
        )
        .select(
            "segment_code",
            "c_nationkey",
            # NO per-row round here: acctbal has 2 decimals, so *1.1 is a
            # true 3-decimal value — round(x, 2) would sit exactly on the
            # .005 half-way boundary for ~10% of rows, where Spark's
            # BigDecimal HALF_UP and DuckDB's double round can split by
            # an ulp. Round once, after the aggregate.
            bal="c_acctbal * 1.1",
            name_len="cast(length(c_name) as bigint)",
        )
        .aggregate(
            n_customers="count(*)",
            # 3 dp, not 2: the true sum of 3-decimal bal values is itself
            # exactly 3-decimal, so at 3 dp there is no half-way boundary
            # for the engines' ~1e-10 summation-order fuzz to straddle.
            total_bal="round(sum(bal), 3)",
            avg_name_len="round(avg(name_len), 2)",
            group_by=["segment_code", "c_nationkey"],
        )
        .dataframe
    )


def rel_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = _rel(spark, sf_dir, "supplier").set_alias("s")
    nation = _rel(spark, sf_dir, "nation").set_alias("n")
    region = _rel(spark, sf_dir, "region").set_alias("r")
    return (
        supplier.join(nation, on="s.s_nationkey = n.n_nationkey", broadcast_other=True)
        .join(region, on="n_regionkey = r.r_regionkey", broadcast_other=True)
        .select("s_suppkey", "s_name", "n_name", "r_name")
        .dataframe
    )


def rel_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT, EXCEPT and ``+`` (UNION ALL) through the Relation layer
    in one entry (keeps the suite inside the driver's 50-entry budget)."""
    customer = _rel(spark, sf_dir, "customer")
    supplier = _rel(spark, sf_dir, "supplier")
    nation = _rel(spark, sf_dir, "nation")
    region = _rel(spark, sf_dir, "region")
    customer_nations = customer.select("c_nationkey as nationkey")
    supplier_nations = supplier.select("s_nationkey as nationkey")
    africa_nations = nation.filter("n_regionkey = 0").select(
        "n_nationkey as nationkey"
    )
    both = customer_nations.intersect(supplier_nations).except_(africa_nations)
    # UNION ALL branch: region keys offset so the rows are attributable
    offset_regions = region.select(
        "cast(r_regionkey + 100 as bigint) as nationkey"
    )
    return (both + offset_regions).dataframe


def q_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins: per segment, customers with vs without orders.

    Spark's left_semi/left_anti never materialize right-side columns —
    the join only probes the (broadcast or shuffled) key set.
    """
    customer = _t(spark, sf_dir, "customer")
    order_keys = _t(spark, sf_dir, "orders").select("o_custkey")
    with_orders = (
        customer.join(
            order_keys, customer.c_custkey == order_keys.o_custkey, "left_semi"
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_with_orders"))
    )
    without_orders = (
        customer.join(
            order_keys, customer.c_custkey == order_keys.o_custkey, "left_anti"
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_without_orders"))
    )
    return with_orders.join(without_orders, "c_mktsegment", "full").na.fill(
        0, ["n_with_orders", "n_without_orders"]
    )


def rel_distinct_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation.distinct + order + limit(offset) pagination in ONE driver
    slot (merged from the former rel_distinct and rel_limit_offset
    entries to free a slot under the 50-entry cap — round 9; both
    methods stay unit-oracled standalone)."""
    customer = _rel(spark, sf_dir, "customer")
    return (
        customer.select("c_mktsegment", "c_nationkey")
        .distinct()
        .order(by=["c_mktsegment", "c_nationkey"])
        .limit(20, offset=5)
        .dataframe
    )


def rel_from_parquet_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation constructed straight from a parquet path (RelationSource)."""
    import patito_spark as pt

    db = pt.Database(spark)
    rel = db.to_relation(f"{sf_dir}/region.parquet")
    return rel.order(by="r_regionkey").dataframe


def rel_left_join_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join + post-aggregation null coalescing via the Relation layer."""
    customer = _rel(spark, sf_dir, "customer").set_alias("c")
    orders = _rel(spark, sf_dir, "orders").set_alias("o")
    return (
        customer.left_join(orders, on="c.c_custkey = o.o_custkey")
        .aggregate(
            total_spent="coalesce(round(sum(o_totalprice), 2), 0.0)",
            n_orders="count(o_orderkey)",
            group_by="c_custkey",
        )
        .dataframe
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type counts. Explicit pivot values skip the
    extra distinct-values pass over the data."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
    )


def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation over order priority/status hierarchies."""
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def validated_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-validated load: schema+constraint checks (one agg job), then agg.

    Raises DataFrameValidationError if the table violates the LineItem model,
    so a passing run certifies validation ran clean.
    """
    from patito_spark.sources.readers import read_parquet

    LineItem = _lineitem_model()
    df = read_parquet(f"{sf_dir}/lineitem.parquet", model=LineItem, spark=spark)
    df.validate()
    return (
        df.inner.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------- #
# Pipeline operators: dedup / similarity / text                           #
# ---------------------------------------------------------------------- #


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, both modes in one slot (the text_profile merge
    pattern): ``keys`` = winning id per duplicate group
    (exact_dedup_keys, hash aggregate), ``rows`` = full surviving rows
    (dedup_exact, keep-first window) — union-tagged so the oracle
    checks each mode's values independently."""
    from patito_spark.operators.dedup import dedup_exact as _rows
    from patito_spark.operators.dedup import exact_dedup_keys

    docs = _t(spark, sf_dir, "documents")
    keys = exact_dedup_keys(
        docs, subset=["lang", "source"], id_col="doc_id"
    ).select(
        F.lit("keys").alias("mode"),
        F.col("keep_id").alias("doc_id"),
        "lang",
        "source",
        F.lit(None).cast("long").alias("n_chars"),
    )
    rows = _rows(docs, subset=["lang", "source"], id_col="doc_id").select(
        F.lit("rows").alias("mode"),
        "doc_id",
        "lang",
        "source",
        F.col("n_chars").cast("long"),
    )
    return keys.unionByName(rows)


def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span-dedup intervals (Lee et al. 2022): the merged
    [start, end] token runs that would be cut from every
    occurrence-after-the-first of any 4-token run repeated corpus-wide.
    The oracle replays the FULL pipeline — positioned gram hashes, the
    corpus-wide count + global first-occurrence rank window, and the
    gaps-and-islands interval merge — in SQL (the text cut itself is the
    codegen-slice fold over these exact intervals, brute-force-oracled
    in tests). It hashes grams with the portable md5 hash while the
    library uses xxhash64; the intervals do not depend on the hash, up
    to collisions, so the two must still match exactly."""
    from patito_spark.operators.spans import duplicate_span_intervals

    docs = _t(spark, sf_dir, "documents")
    # doc_id is a BIGINT that fits in int32 at every SF, so the operator
    # packs (id, pos) into one BIGINT and the stats aggregate stays
    # HashAggregate (no gram-stream sorts); an id outside int32 fails
    # the query instead.
    return duplicate_span_intervals(docs, span_tokens=4).select(
        "doc_id",
        F.col("span_start").cast("long"),
        F.col("span_end").cast("long"),
    )


def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs + winnowing (MOSS) partial-overlap
    pairs union-tagged in one slot (round-13 merge: the winnow family's
    driver CORRECTNESS row). The winnow branch runs hash_mode='portable'
    (60-bit md5 gram hashes) so DuckDB replays the ENTIRE pipeline
    value-for-value: gram hashing, the rightmost-min window selection,
    bucket count-guard, candidate pairing, the exact unpruned shared
    recount and the containment ratio (ints divided identically in both
    engines — no rounding needed)."""
    from patito_spark.operators.dedup import ngram_jaccard_pairs
    from patito_spark.operators.winnow import winnow_pairs

    from concurrent.futures import ThreadPoolExecutor

    docs = _t(spark, sf_dir, "documents")
    # The two branches are independent until the union; overlap their
    # construction-phase driver actions (guide §2.6 — the ann_search
    # precedent). Plan unchanged; interleaved 7-pass race median
    # 1.243 -> 1.127 s at sf0.1
    # (`git show dccf085:tools/ab_branch_threads.py`).
    with ThreadPoolExecutor(max_workers=2) as pool:
        fj = pool.submit(
            ngram_jaccard_pairs, docs,
            threshold=0.82, ngram=1, scope=F.col("doc_id") < 150,
        )
        fw = pool.submit(
            winnow_pairs, docs.filter(F.col("doc_id") < 2000),
            k=5, w=4, min_shared=2, with_containment=True,
            hash_mode="portable",
        )
        jac_raw, win_raw = fj.result(), fw.result()
    jac = jac_raw.select(
        F.lit("jaccard").alias("mode"),
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        "jaccard",
        F.lit(None).cast("long").alias("shared_fps"),
        F.lit(None).cast("double").alias("containment"),
    )
    win = win_raw.select(
        F.lit("winnow").alias("mode"),
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.lit(None).cast("double").alias("jaccard"),
        F.col("shared_fps").cast("long"),
        "containment",
    )
    return jac.unionByName(win)


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs, scoped to a fixed window so the oracle
    comparison stays brute-force-exact at every SF; the full-table scale
    path is dedup_embedding_lsh.

    Threshold 0.35: the synthetic embeddings are uniform-random (max pair
    cosine ≈ 0.5), so a "near-dup" 0.9 threshold returns the empty set at
    every SF — a vacuous oracle. 0.35 yields ~250 pairs per SF, putting the
    whole scoring path (widening, dots, norms, threshold) under the
    value-level oracle."""
    from patito_spark.operators.dedup import embedding_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_dedup_pairs(
        emb, threshold=0.35, scope=F.col("vec_id") < 500
    )


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup over the full table, via a prebuilt
    AUTO-SIZED index (n_planes=None → auto_n_planes holds expected
    bucket size ~200 at every SF, so the quadratic in-bucket verify
    stays a constant per vector instead of growing n²/2^planes — the
    fix for the round-6 audit's 3.7×/decade marginal). Shared across
    calls: one corpus projection per session. Value-oracled: the oracle
    SQL re-derives the sign-projection buckets from the same hyperplane
    constants AND the same auto-sized plane count at the driver's
    sf0.01 compare scale (sequential-fold dots on both engines), so
    bucketing AND scoring are compared bit-exactly."""
    from patito_spark.operators.dedup import embedding_dedup_pairs_lsh
    from patito_spark.operators.similarity import build_lsh_index

    emb = _t(spark, sf_dir, "embeddings")
    key = ("lsh-auto", spark.sparkContext.applicationId, sf_dir)
    index = _cache_get_or_build(
        key, lambda: build_lsh_index(emb, n_planes=None)
    )
    return embedding_dedup_pairs_lsh(emb, threshold=0.35, index=index)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over verified Jaccard near-dup pairs.

    Iterative min-label propagation on Spark; the DuckDB oracle computes
    the same transitive closure with a recursive CTE over the same edges.
    """
    from patito_spark.operators.dedup import ngram_jaccard_pairs
    from patito_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.82, ngram=1, scope=F.col("doc_id") < 150
    )
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: shingles are hashed with the
    md5-derived 60-bit portable hash DuckDB reproduces exactly, so the
    oracle replays the FULL pipeline (shingle → bin-min → band signature →
    bucket join → Jaccard verify) value-for-value in SQL."""
    from patito_spark.operators.dedup import minhash_dedup_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup_pairs(docs, threshold=0.6, num_hashes=64, bands=16)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over the portable token hash (oracle replays
    the bit votes, signature packing, pigeonhole join and hamming verify
    in SQL)."""
    from patito_spark.operators.dedup import simhash_dedup_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_dedup_pairs(docs, max_hamming=4).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def dedup_corpus_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus dedup in one call: MinHash+LSH pairs → Jaccard
    verify → connected components → drop non-representatives. The oracle
    replays the entire composition (portable hashes + recursive-CTE
    closure + anti-join) value-for-value."""
    from patito_spark.operators.dedup import dedup_corpus

    docs = _t(spark, sf_dir, "documents")
    out = dedup_corpus(docs, threshold=0.6, num_hashes=64, bands=16)
    return out.select("doc_id", "lang", "source", "n_chars")


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from patito_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = cosine_topk(emb, queries, k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


#: Session-lived ANN indexes, keyed by (kind, sf_dir). ann_* entries use
#: the build-once/query-many API (similarity.build_*_index): the corpus
#: bucket/cell assignment is computed and persisted on first use, later
#: query batches only probe + score — the production shape for repeated
#: searches over one corpus, and what the per-round bench measures at
#: steady state. Results are identical to the unindexed call (the index
#: is just the materialized corpus side), so the oracle replay is
#: unaffected.
_ANN_INDEX_CACHE: dict = {}
_ANN_CACHE_LOCK = threading.Lock()
_ANN_KEY_LOCKS: dict = {}


def _cache_get_or_build(key, build):
    """Build-once guard for ``_ANN_INDEX_CACHE`` that holds under any
    threading (several entries now construct branches from a driver
    thread pool): one module lock arbitrates the per-key lock table,
    then a per-key lock serializes builders of the SAME key while
    different keys still build concurrently — the branch-overlap
    threading depends on that."""
    with _ANN_CACHE_LOCK:
        if key in _ANN_INDEX_CACHE:
            return _ANN_INDEX_CACHE[key]
        lock = _ANN_KEY_LOCKS.setdefault(key, threading.Lock())
    with lock:
        if key not in _ANN_INDEX_CACHE:
            value = build()
            with _ANN_CACHE_LOCK:
                _ANN_INDEX_CACHE[key] = value
    return _ANN_INDEX_CACHE[key]


def _arpa_lm_for(spark: SparkSession, sf_dir: str):
    """Deterministic synthetic .arpa artifact for the driver row —
    build-once per session (the ANN-index convention; parse-once /
    score-many is the operator's production steady state).

    A Katz-backoff model whose GRAMS are real (the distinct 1/2/3-grams
    of the ``doc_id % 23 == 0`` subcorpus, '<s>'-prefixed, so every
    branch of the cascade gets genuine hits at every order) and whose
    SCORES are engine-portable pseudo log-probs derived from the
    portable 60-bit md5 hash of the gram — exactly replayable in
    DuckDB, no file round-trip. <unk> unigram at -3.5."""
    from patito_spark.functions.hashing import portable_hash64
    from patito_spark.operators.arpa import UNK, ArpaLm
    from patito_spark.operators.dedup import shingles

    key = ("arpa", spark.sparkContext.applicationId, sf_dir)

    def _build():
        sub = _t(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 23 == 0
        )
        seq = F.concat(F.lit("<s> "), F.col("text"))
        tables, counts = {}, {}
        for k in (1, 2, 3):
            grams = (
                sub.select(F.explode(shingles(seq, n=k)).alias("gram"))
                # shingles emits one short gram for docs with < k
                # tokens; a k-table holds exactly-k grams only
                .filter(F.size(F.split(F.col("gram"), " ")) == k)
                .filter(F.col("gram") != UNK)
                .distinct()
            )
            h = portable_hash64(F.col("gram"))
            bo = (
                (-(h % 500)).cast("double") / F.lit(1000.0)
                if k < 3
                else F.lit(None).cast("double")
            )
            t = grams.select(
                "gram",
                (
                    F.lit(-1.0) - (h % 1000).cast("double") / F.lit(1000.0)
                ).alias("logp"),
                bo.alias("bo"),
            )
            if k == 1:
                t = t.unionByName(
                    spark.createDataFrame(
                        [(UNK, -3.5, None)],
                        "gram string, logp double, bo double",
                    )
                )
            t = t.persist()
            tables[k] = t
            counts[k] = t.count()
        return ArpaLm(tables, counts, -3.5)

    return _cache_get_or_build(key, _build)


def _lsh_index(spark: SparkSession, sf_dir: str):
    from patito_spark.operators.similarity import build_lsh_index

    # applicationId in the key: a cached index holds DataFrames of ONE
    # session — a restarted session must rebuild, not hit stale handles.
    key = ("lsh", spark.sparkContext.applicationId, sf_dir)
    return _cache_get_or_build(
        key,
        lambda: build_lsh_index(
            _t(spark, sf_dir, "embeddings"), n_planes=6
        ),
    )


def _ivf_cells_for(sf_dir: str) -> int:
    """Quantizer size for the fixed-centroid IVF entries at ``sf_dir``:
    ``auto_n_centroids`` over the ACTUAL embeddings row count (parquet
    footer read, no data scan). A pinned cell count turns the in-cell
    stages quadratic as the corpus grows — at sf1 a 16-cell quantizer
    puts ~1250 vectors per cell, 12.5M exact pair-scorings for
    dedup_semantic on BOTH engines; sqrt-n cells keep assignment
    (n*cells) and in-cell work (n^2/cells) balanced, the same
    scale-fairness fix the LSH oracle got in round 9 (verdict r8 #1)."""
    from patito_spark.operators.similarity import auto_n_centroids

    path = os.path.join(sf_dir, "embeddings.parquet")
    n = _parquet_footer_rows(path)
    if n is None:
        n = 500
        print(
            f"[_ivf_cells_for] cell-count fallback n={n}: cannot read {path}",
            file=sys.stderr,
        )
    return auto_n_centroids(n)


def _ivf_index(spark: SparkSession, sf_dir: str):
    from patito_spark.operators.similarity import build_ivf_index

    key = ("ivf", spark.sparkContext.applicationId, sf_dir)

    def _build():
        emb = _t(spark, sf_dir, "embeddings")
        return build_ivf_index(
            emb,
            centroids_df=emb.filter(F.col("vec_id") < _ivf_cells_for(sf_dir)),
            assign_metric="cosine",
        )

    return _cache_get_or_build(key, _build)


def _sq8_params(spark: SparkSession, sf_dir: str):
    """Session-lived SQ8 quantizer fit (build-once/query-many, the
    _lsh_index/_ivf_index convention)."""
    from patito_spark.operators.quantize import fit_scalar_quantizer

    key = ("sq8", spark.sparkContext.applicationId, sf_dir)
    return _cache_get_or_build(
        key,
        lambda: fit_scalar_quantizer(_t(spark, sf_dir, "embeddings")),
    )


def ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 quantization round-trip under the driver oracle (round-11
    verdict #3): fit -> int8 encode -> decode -> asymmetric cosine
    top-k of full-precision queries against the RECONSTRUCTED corpus.
    Every stage is plain arithmetic (floor((x-lo)*inv+0.5)-127 encode,
    lo+(c+127)*scale decode), so DuckDB replays the whole pipeline —
    including the per-dimension min/max fit — value-for-value in SQL."""
    from patito_spark.operators.quantize import (
        dequantize_embeddings,
        quantize_embeddings,
    )
    from patito_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    params = _sq8_params(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8)
    codes = quantize_embeddings(emb.select("vec_id", "embedding"), params)
    back = dequantize_embeddings(codes, params)
    out = cosine_topk(back, queries, k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _pca_params(spark: SparkSession, sf_dir: str):
    """Session-lived exact-PCA fit (build-once/query-many, the
    _lsh_index/_ivf_index convention). k=16 of 64: the synthetic
    spectrum is noise-flat, but reduced-space COSINE depends only on
    the spanned subspace (basis rotations and sign flips cancel in the
    dot products), so the oracle's independent numpy eigh agrees to
    ~1e-12 and both engines rank over the 4-dp-rounded score."""
    from patito_spark.operators.projection import fit_pca

    key = ("pca", spark.sparkContext.applicationId, sf_dir)
    return _cache_get_or_build(
        key, lambda: fit_pca(_t(spark, sf_dir, "embeddings"), k=16)
    )


def _pca_reduced_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-lived PROJECTED corpus (plain persist — owned by this
    cache like every index artifact): the reduced-space table is the
    build-once half of the footprint recipe, so query batches pay only
    their own projection + the top-k, never a corpus re-projection."""
    from patito_spark.operators.projection import pca_project

    key = ("pca_reduced", spark.sparkContext.applicationId, sf_dir)

    def _build():
        emb = _t(spark, sf_dir, "embeddings")
        return pca_project(
            emb.select("vec_id", "embedding"),
            _pca_params(spark, sf_dir),
            out_col="embedding",
        ).persist()

    return _cache_get_or_build(key, _build)


def ann_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-PCA footprint path under the driver oracle (round-13
    verdict #7): fit_pca(k=16) -> pca_project -> exact cosine top-10 in
    the reduced space. The oracle recomputes the fit from the same
    parquet with numpy (same Gram moments, eigh, sign convention) and
    replays the projection + scoring in SQL; scores are rounded to 4 dp
    and the rank window orders by the ROUNDED score with an id
    tie-break (the bm25 discipline), because two independent
    eigendecompositions agree only to float noise. SQ8 is deliberately
    NOT stacked here — quantization boundaries flip under 1e-12 input
    noise; the PCA->SQ8->ANN composition is pinned in
    tests/test_operators_projection.py instead."""
    from pyspark.sql import Window

    from patito_spark.operators.projection import pca_project
    from patito_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    params = _pca_params(spark, sf_dir)
    reduced = _pca_reduced_corpus(spark, sf_dir)
    queries = pca_project(
        emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding"),
        params,
        out_col="embedding",
    )
    # k=30 margin, then re-rank by the rounded score: batch-local
    # pruning under the exact order keeps every candidate that can
    # reach the rounded top-10 unless >20 docs tie at the boundary
    # value (not observed; ties break on id deterministically).
    scored = cosine_topk(reduced, queries, k=30)
    w = Window.partitionBy("query_id").orderBy(
        F.round("cosine", 4).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 4).alias("cosine"),
            "rank",
        )
    )


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k over a prebuilt index. Value-oracled:
    hyperplanes are deterministic constants, buckets are sign bits of
    sequential-fold dots — the oracle SQL re-derives buckets, candidate
    sets, scores, and ranks from the same plane literals."""
    from patito_spark.operators.similarity import ann_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = ann_lsh_topk(
        None,
        queries,
        k=10,
        multi_probe_bits=1,
        index=_lsh_index(spark, sf_dir),
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k over a prebuilt inverted file.

    Centroids are the first auto_n_centroids(n) fixed corpus points
    (~sqrt(n): 22 at sf0.01, 141 at sf1 — a pinned count would make
    cell scans linear in corpus size) with cosine cell assignment, so
    the oracle SQL replays assignment, probing, and ranking exactly at
    any SF (PATITO_ORACLE_SF_DIR contract). The KMeans quantizer path
    stays the library default (unit recall tests cover it)."""
    from patito_spark.operators.similarity import ann_ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = ann_ivf_topk(
        None,
        queries,
        k=10,
        n_probe=3,
        index=_ivf_index(spark, sf_dir),
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup within-cluster pairs over the SAME session-lived IvfIndex
    that ann_ivf queries — one corpus scan and one quantizer serve ANN
    search AND semantic dedup. Fixed first-auto_n_centroids(n) cosine
    quantizer (~sqrt(n) cells keeps assignment and in-cell pair work
    balanced at any SF), so the oracle SQL replays cell assignment,
    in-cell pairwise cosine, and each endpoint's centroid similarity
    exactly (all sequential-fold, compared unrounded)."""
    from patito_spark.operators.semdedup import semantic_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(
        emb, threshold=0.3, index=_ivf_index(spark, sf_dir)
    )


def sample_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling family, portable-hash mode, three modes
    union-tagged in one slot (round 10 extended the former split-only
    entry): 'split' — train/test_split membership counts; 'exact_n' —
    sample_exact_n's 25 smallest-key-hash rows (the TakeOrdered
    fixed-count primitive); 'weighted' — weighted_sample raw-probability
    mode with a deterministic per-row weight (doc_id%10/10, exercising
    the w>0 gate and the [0,1] clamp). The oracle recomputes every
    membership from the same md5-derived hash."""
    from patito_spark.operators.sampling import (
        sample_exact_n,
        train_test_split,
        weighted_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    train, test = train_test_split(
        docs, key_col="doc_id", test_fraction=0.2, hash_mode="portable"
    )
    null_l = F.lit(None).cast("long")
    split = (
        train.select(F.lit("train").alias("split"), "doc_id")
        .unionByName(test.select(F.lit("test").alias("split"), "doc_id"))
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .select(F.lit("split").alias("mode"), "split", "n",
                null_l.alias("doc_id"))
    )
    exact = sample_exact_n(
        docs, 25, key_col="doc_id", hash_mode="portable"
    ).select(
        F.lit("exact_n").alias("mode"),
        F.lit(None).cast("string").alias("split"),
        null_l.alias("n"),
        F.col("doc_id").cast("long"),
    )
    weighted = weighted_sample(
        docs.withColumn("w", (F.col("doc_id") % 10) / F.lit(10.0)),
        weight_col="w",
        key_col="doc_id",
        hash_mode="portable",
    ).select(
        F.lit("weighted").alias("mode"),
        F.lit(None).cast("string").alias("split"),
        null_l.alias("n"),
        F.col("doc_id").cast("long"),
    )
    return split.unionByName(exact).unionByName(weighted)


def q_asof_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest prior click.

    Spark has no ASOF JOIN; asof_join composes it as a union + one keyed
    window (no nested loop, one shuffle). The oracle is DuckDB's native
    ASOF LEFT JOIN over the same deduplicated click stream.
    """
    from pyspark.sql import Window

    from patito_spark.operators.temporal import asof_join

    # Micro precision: DuckDB's TIMESTAMP truncates parquet nanos to
    # micros, so both engines work in epoch-micros (collision-checked:
    # no two events share a microsecond at any SF).
    events = _t(spark, sf_dir, "events").withColumn(
        "ts", F.expr("ts div 1000")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    # As-of semantics are undefined for duplicate right timestamps:
    # keep the max click_id per (user, ts) on both engines.
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("click_id").desc())
    clicks = (
        clicks.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return asof_join(purchases, clicks, on="ts", by=["user_id"])


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each purchase matched to the user's NEXT click at or
    after it (oracled via DuckDB ASOF with the inequality flipped)."""
    from pyspark.sql import Window

    from patito_spark.operators.temporal import asof_join

    events = _t(spark, sf_dir, "events").withColumn(
        "ts", F.expr("ts div 1000")  # epoch-micros, see q_asof_purchases
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("click_id").desc())
    clicks = (
        clicks.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return asof_join(
        purchases, clicks, on="ts", by=["user_id"], direction="forward"
    )


def q_range_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: line items shipped within 30 days of any scoped
    order's date. Bucketed equi-join formulation (never a nested loop);
    the oracle is the plain inequality join."""
    from patito_spark.operators.temporal import range_join

    # unix_timestamp on TIMESTAMP_NTZ interprets wall time in the SESSION
    # timezone; the oracle's epoch() is UTC-based — pin the session so the
    # entry is correct regardless of the driver's default timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    day = 86_400
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("s"),
            (F.unix_timestamp("o_orderdate") + 30 * day).alias("e"),
        )
    )
    points = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 500)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.unix_timestamp("l_shipdate").alias("p"),
        )
    )
    out = range_join(points, orders, "p", "s", "e", bucket_width=30 * day)
    return out.select("l_orderkey", "l_linenumber", "p", "o_orderkey")


def q_cdc_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge: events replayed as a change stream onto user state.

    Each event upserts its user's row; 'error' events delete the user.
    The latest change by (ts, event_id) wins — Delta-style MERGE compiled
    to one window + anti-join, oracled as a QUALIFY in SQL.
    """
    from patito_spark.operators.temporal import apply_changes

    events = _t(spark, sf_dir, "events").withColumn(
        "ts", F.expr("ts div 1000")  # epoch-micros, see q_asof_purchases
    )
    changes = events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        "event_type",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    return apply_changes(
        None, changes, key_cols=["user_id"], seq_col=["ts", "event_id"]
    )


def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through the multimodal plumbing.

    Documents' text bytes stand in for image blobs (no media column in the
    test tables); the oracle value-checks the content-addressing outputs
    (sha256 hex + byte length) that are codec-independent — the decode
    kernel itself is deterministic-fake by default, PIL when installed.
    """
    from patito_spark.operators.multimodal import extract_image_features

    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("blob")
    )
    return extract_image_features(blobs).select("doc_id", "sha256", "n_bytes")


STRATA_FRACTIONS = {"en": 0.3, "de": 0.8, "fr": 0.5, "es": 0.5, "zh": 0.1}
#: cap_per_group limit for the union-tagged sampling entry — low enough
#: that every language is over-cap at sf0.01 (the cap path does work).
DOMAIN_CAP_MAX_ROWS = 40


def sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two sampling operators, union-tagged (one driver slot):

    * ``stratified`` — per-stratum deterministic sampling
      (portable-hash mode): the oracle recomputes every row's
      keep/drop decision from the same md5 fraction and per-language
      fraction table.
    * ``domain_cap`` — ``cap_per_group`` over the language column
      (portable tie hash): the oracle replays the exact kept K-subset
      with ``row_number() OVER (PARTITION BY lang ORDER BY hash)``.
    """
    from patito_spark.operators.sampling import cap_per_group, stratified_sample

    docs = _t(spark, sf_dir, "documents")
    strat = stratified_sample(
        docs,
        strata_col="lang",
        fractions=STRATA_FRACTIONS,
        key_col="doc_id",
        hash_mode="portable",
    ).select(F.lit("stratified").alias("part"), "doc_id", "lang")
    capped = cap_per_group(
        docs,
        "lang",
        DOMAIN_CAP_MAX_ROWS,
        key_col="doc_id",
        hash_mode="portable",
    ).select(F.lit("domain_cap").alias("part"), "doc_id", "lang")
    return strat.unionByName(capped)


def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token count (word runs + non-space punctuation chars).

    The Spark side splits on Java-regex lookarounds; RE2 (DuckDB) has no
    lookarounds, so the oracle uses the equivalent closed form:
    ``#[A-Za-z0-9_]+ runs + #[^A-Za-z0-9_ ] chars`` — an independent
    re-specification, which is a stronger check than a replay.
    """
    from patito_spark.operators.text import bpe_ish_token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens")
    )


def _parquet_footer_rows(path: str) -> Optional[int]:
    """Row count summed over the parquet footers of a file or a directory
    of part files (no scan); None when pyarrow is missing or any footer
    is unreadable, so callers fall back instead of failing."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:
        return None
    parts = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    try:
        return sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    except (OSError, pa.ArrowException):
        return None


def q_stream_cdc_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming CDC view under the value oracle.

    Replays events as a change stream through streaming_apply_changes'
    ``max_by`` state aggregation (latest change per user wins; errors are
    deletes) and returns the final state — the stateful streaming operator
    itself is what the DuckDB oracle checks, not a batch re-derivation.
    Robust to multi-batch execution: the memory sink's update rows are
    reduced to the max-sequence row per key before returning.
    """
    import uuid

    from pyspark.sql import Window

    from patito_spark.streaming import streaming_apply_changes

    stream = _events_stream(spark, sf_dir)
    changes = stream.select(
        "user_id",
        F.expr("ts div 1000").alias("ts"),  # epoch-micros
        "event_id",
        "value",
        "event_type",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    merged = streaming_apply_changes(changes, key_cols=["user_id"], seq_col="ts")
    name = f"pt_cdc_{uuid.uuid4().hex[:8]}"
    # State stores = shuffle.partitions at query start, scaled to the
    # stream's row volume (parquet footer, no scan): ~6k events per
    # partition, capped at defaultParallelism once the volume saturates
    # the cores. Each state partition pays a fixed per-batch cost (load,
    # commit and delta file of one state store) however few rows it
    # holds. Race on the JVM max_by aggregate (sf0.1, 4 cores,
    # `tools/race.py`, 10 pairs): this probe's 4 partitions 1.230 s
    # median against the session default's 8 at 1.328 s; the probe won
    # all 10 pairs. Results are partition-count-independent (the state
    # merge is per-key).
    n_events = _parquet_footer_rows(os.path.join(sf_dir, "events.parquet"))
    state_parts = spark.sparkContext.defaultParallelism
    if n_events is not None:
        state_parts = min(state_parts, max(8, n_events // 6250))
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
    try:
        query = (
            merged.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    sink = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc())
    return (
        sink.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


HOUR_US = 3_600_000_000
DAY_US = 86_400_000_000


def q_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (hour + day) over events.

    The day level re-aggregates the cached hour level, not the raw table
    (cascade_rollup); sums rounded for cross-engine double addition."""
    from patito_spark.operators.timeseries import cascade_rollup

    events = _t(spark, sf_dir, "events").withColumn(
        "ts", F.expr("ts div 1000")  # epoch-micros, see q_asof_purchases
    )
    rolled = cascade_rollup(
        events,
        "ts",
        widths=[HOUR_US, DAY_US],
        aggs={"n": ("value", "count"), "total": ("value", "sum")},
        group_cols=["event_type"],
    )
    return rolled.select(
        "resolution",
        "bucket_start",
        "event_type",
        "n",
        F.round("total", 2).alias("total"),
    )


def q_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly event counts per type (dense time axis, zeros in
    the holes) — the charting/interpolation shape."""
    from patito_spark.operators.timeseries import fill_gaps, time_bucket

    events = _t(spark, sf_dir, "events").withColumn(
        "ts", F.expr("ts div 1000")
    )
    hourly = events.groupBy(
        time_bucket("ts", HOUR_US).alias("bucket"), "event_type"
    ).agg(F.count("*").alias("n"))
    # materialize=False (default) deliberately: the hourly aggregate is
    # ~|buckets| rows, and a round-15 interleaved race measured the
    # persist COSTING more than the repeated agg at bench scale
    # (1.21 -> 1.39 s); materialize=True remains the operator's
    # documented 100 TB path where the input is a raw corpus.
    return fill_gaps(
        hourly, "bucket", HOUR_US, group_cols=["event_type"], fill={"n": 0}
    )


def url_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL pipeline: canonicalize_url -> dedup_urls
    (keep=min_id), driver-oracled end to end (round-10, verdict item 3).

    The documents table has no URL column, so both engines synthesize
    the same deterministic fetch records from (doc_id, source), chosen
    to exercise every canonicalization branch: uppercase scheme/host +
    www + trailing slash (branch 0), default-port strip + tracking-param
    removal with a kept param (branch 1), non-default port + fragment
    strip + subdomain preserved (branch 2). doc_id%40 page collisions
    create real refetches for the min-id keep. Mode 'canon' oracles the
    canonical form for EVERY row; mode 'dedup' oracles the surviving
    set."""
    from patito_spark.operators.urls import dedup_urls

    docs = _t(spark, sf_dir, "documents")
    page = (F.col("doc_id") % 40).cast("string")
    qid = (F.col("doc_id") % 5).cast("string")
    urls = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("HTTP://WWW.Example.COM/"), F.col("source"),
                F.lit("/Page"), page, F.lit("/"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("https://example.com:443/"), F.col("source"),
                F.lit("/page"), page,
                F.lit("?utm_source=feed&id="), qid,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://CDN.Example.com:8080/asset"), page,
                F.lit("#frag"),
            )
        )
        .alias("url"),
    )
    from patito_spark.operators.urls import canonicalize_url

    # ONE canonicalization projection serves both modes (the round-11
    # dedup_urls reuse contract) — the regex chain is the expensive
    # part and previously ran once per mode.
    with_canon = urls.withColumn("canon", canonicalize_url(F.col("url")))
    deduped = dedup_urls(
        with_canon, keep="min_id", canonical_col="canon"
    ).select(F.lit("dedup").alias("mode"), "doc_id", "url", "canon")
    all_rows = with_canon.select(
        F.lit("canon").alias("mode"), "doc_id", "url", "canon"
    )
    return all_rows.unionByName(deduped)


def paragraph_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet paragraph layer driver-oracled end to end (round-10,
    verdict item 3): split -> corpus keep-first dedup ('dedup' mode)
    and split -> boilerplate removal ('boiler' mode) over the same
    deterministically paragraph-structured corpus.

    Both engines wrap every document with a shared intro (7 variants ->
    cross-doc dup paragraphs with a known first occurrence) and a
    universal footer (appears in every doc -> boilerplate at
    min_docs=3); the document's own text rides in the middle, so real
    cross-doc text duplication is exercised too. The oracle replays
    split/normalize/rank/reassemble in SQL (the
    test_operators_paragraphs.py replay, promoted to the driver)."""
    from patito_spark.operators.paragraphs import paragraph_passes

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("Intro shared "),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("\n\n"),
            F.col("text"),
            F.lit("\n\nCommon Footer Follow Us"),
        ).alias("text"),
    )
    # The fused dual-pass operator (round 11): one split, one stacked
    # mergeable stats aggregate serving BOTH verdicts, one shared
    # (mode, id) reassembly shuffle — row-identical to composing
    # dedup_paragraphs + drop_boilerplate_paragraphs (equivalence
    # pinned in tests/test_operators_paragraphs.py).
    return paragraph_passes(docs, min_docs=3).select(
        "mode", "doc_id", "text"
    )


def mix_corpora_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing driver-oracled end to end (round-10, verdict item
    4): three language domains of documents mixed 1:2:3 to a budget of
    80% of their combined tokens (portable hash, seed 7), so
    upweighted small domains repeat (epochs > 0) and the partial-epoch
    membership is a replayable hash cut. Mode 'doc' oracles every
    selected (domain, doc, epoch) copy; mode 'stats' oracles
    mixture_stats' realized shares over the same mixture. The budget
    and every per-domain ratio are data-derived, so the plan scales
    with SF instead of degenerating (PATITO_ORACLE contract: the
    oracle recomputes them in SQL from the same token counts)."""
    from patito_spark.operators.mixing import mix_corpora, mixture_stats
    from patito_spark.operators.text import token_count

    langs = ("en", "de", "fr")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    pool = docs.filter(F.col("lang").isin(*langs))
    total = pool.agg(F.sum(token_count("text"))).first()[0] or 0
    budget = int(total * 0.8)
    out = mix_corpora(
        {l: pool.filter(F.col("lang") == l).select("doc_id", "text")
         for l in langs},
        weights={"en": 1.0, "de": 2.0, "fr": 3.0},
        token_budget=budget,
        hash_mode="portable",
        seed=7,
    )
    mixed = out["mixed"]
    null_l = F.lit(None).cast("long")
    null_d = F.lit(None).cast("double")
    doc_rows = mixed.select(
        F.lit("doc").alias("mode"),
        "mix_source",
        F.col("doc_id").cast("long"),
        F.col("epoch").cast("long"),
        null_l.alias("n_rows"),
        null_l.alias("n_tokens"),
        null_l.alias("n_epochs"),
        null_d.alias("token_share"),
        null_d.alias("row_share"),
    )
    stats = mixture_stats(mixed).select(
        F.lit("stats").alias("mode"),
        "mix_source",
        null_l.alias("doc_id"),
        null_l.alias("epoch"),
        F.col("n_rows").cast("long"),
        F.col("n_tokens").cast("long"),
        F.col("n_epochs").cast("long"),
        F.col("token_share").cast("double"),
        F.col("row_share").cast("double"),
    )
    return doc_rows.unionByName(stats)


def conversations_sft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat/SFT family driver-oracled in one slot (round-10, verdict
    item 5): render_conversations + conversation_stats over a
    deterministic message-list table synthesized from documents, then
    filter_conversations -> dedup_conversations as the 'kept' mode.

    Five structure variants per doc_id%5 exercise every gate branch:
    valid-with-system (0), valid duplicate of 0 differing only in case/
    whitespace/system prompt (1 — collapses with 0 under the normalized
    system-ignoring dedup key), empty assistant content (2), broken
    alternation (3), trailing user turn (4). The oracle reconstructs
    the rendered text and the structural stats analytically from the
    synthesis rule and replays the gate+dedup winner set — if Spark's
    render/stats/key logic mishandles any branch, the hash mismatches."""
    from patito_spark.operators.conversations import (
        conversation_stats,
        dedup_conversations,
        filter_conversations,
        render_conversations,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("conv_id"),
        (F.col("doc_id") % 5).alias("m"),
        (F.col("doc_id") % 40).cast("string").alias("g"),
    )

    def msg(role: str, content):
        return F.struct(
            F.lit(role).alias("role"), content.alias("content")
        )

    g = F.col("g")
    messages = (
        F.when(
            F.col("m") == 0,
            F.array(
                msg("system", F.lit("be helpful")),
                msg("user", F.concat(F.lit("question "), g)),
                msg("assistant", F.concat(F.lit("answer "), g)),
            ),
        )
        .when(
            F.col("m") == 1,
            F.array(
                msg("user", F.concat(F.lit("QUESTION  "), g)),
                msg("assistant", F.concat(F.lit("Answer "), g)),
            ),
        )
        .when(
            F.col("m") == 2,
            F.array(
                msg("user", F.concat(F.lit("hi "), g)),
                msg("assistant", F.lit("")),
            ),
        )
        .when(
            F.col("m") == 3,
            F.array(
                msg("user", F.concat(F.lit("a "), g)),
                msg("user", F.concat(F.lit("b "), g)),
                msg("assistant", F.concat(F.lit("c "), g)),
            ),
        )
        .otherwise(
            F.array(
                msg("user", F.concat(F.lit("q "), g)),
                msg("assistant", F.concat(F.lit("a "), g)),
                msg("user", F.concat(F.lit("followup "), g)),
            )
        )
    )
    convs = docs.select("conv_id", messages.alias("messages"))

    rendered = conversation_stats(render_conversations(convs)).select(
        F.lit("render").alias("mode"),
        F.col("conv_id").cast("long"),
        "text",
        F.col("n_turns").cast("long"),
        F.col("n_user").cast("long"),
        F.col("n_assistant").cast("long"),
        "first_role",
        "last_role",
        F.col("has_empty_content").cast("long"),
        F.col("alternates").cast("long"),
    )
    kept = dedup_conversations(filter_conversations(convs)).select(
        F.lit("kept").alias("mode"),
        F.col("conv_id").cast("long"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("long").alias("n_turns"),
        F.lit(None).cast("long").alias("n_user"),
        F.lit(None).cast("long").alias("n_assistant"),
        F.lit(None).cast("string").alias("first_role"),
        F.lit(None).cast("string").alias("last_role"),
        F.lit(None).cast("long").alias("has_empty_content"),
        F.lit(None).cast("long").alias("alternates"),
    )
    return rendered.unionByName(kept)


def q_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup + gap-filled hourly counts, union-tagged
    in one slot (round-10 merge freeing entries under the 50-slot cap;
    both modes keep independent value oracles through the tag)."""
    roll = q_rollup_multires(spark, sf_dir).select(
        F.lit("rollup").alias("mode"),
        F.col("resolution").cast("long"),
        F.col("bucket_start").cast("long"),
        "event_type",
        F.col("n").cast("long"),
        F.col("total").cast("double"),
    )
    gap = q_hourly_gapfill(spark, sf_dir).select(
        F.lit("gapfill").alias("mode"),
        F.lit(None).cast("long").alias("resolution"),
        F.col("bucket").cast("long").alias("bucket_start"),
        "event_type",
        F.col("n").cast("long"),
        F.lit(None).cast("double").alias("total"),
    )
    return roll.unionByName(gap)


def ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH, IVF, SQ8-asymmetric and PCA-reduced top-k union-tagged in
    one slot (round-10 merge + round-12 quantization family + round-13
    dimensionality reduction; same query set, all four methods fully
    value-oracled)."""
    from concurrent.futures import ThreadPoolExecutor

    # The four branches are independent until the union, but each
    # construction runs 1-2 small driver actions (the 8-query toPandas
    # batches), which serialize when called in sequence. A driver
    # thread pool overlaps those jobs (guide §2.6 — Spark's scheduler
    # runs concurrent jobs fine; job descriptions are thread-local);
    # the returned plan is byte-identical to the serial build.
    # Interleaved 7-pass race: serial median 2.023 s / threaded 1.330 s
    # at sf0.1 (`git show dccf085:tools/ab_ann_threads.py`).
    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = [
            pool.submit(fn, spark, sf_dir)
            for fn in (ann_lsh, ann_ivf, ann_sq8, ann_pca)
        ]
        built = [f.result() for f in futs]
    lsh, ivf, sq8, pca = (
        df.select(
            F.lit(m).alias("method"), "query_id", "neighbor_id",
            "cosine", "rank",
        )
        for m, df in zip(("lsh", "ivf", "sq8", "pca"), built)
    )
    return lsh.unionByName(ivf).unionByName(sq8).unionByName(pca)


def dedup_embedding_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (scoped brute-force) and LSH-bucketed embedding near-dup
    pairs union-tagged in one slot (round-10 merge)."""
    from concurrent.futures import ThreadPoolExecutor

    # Overlap the two branches' construction actions (guide §2.6, the
    # ann_search precedent): interleaved 7-pass race median
    # 0.573 -> 0.498 s at sf0.1
    # (`git show dccf085:tools/ab_branch_threads.py`).
    with ThreadPoolExecutor(max_workers=2) as pool:
        fe = pool.submit(dedup_embedding, spark, sf_dir)
        fl = pool.submit(dedup_embedding_lsh, spark, sf_dir)
        exact_raw, lsh_raw = fe.result(), fl.result()
    exact = exact_raw.select(
        F.lit("exact").alias("mode"), "id_a", "id_b", "cosine"
    )
    lsh = lsh_raw.select(
        F.lit("lsh").alias("mode"), "id_a", "id_b", "cosine"
    )
    return exact.unionByName(lsh)


def rel_setops_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation set ops + distinct/order/limit-offset pagination,
    union-tagged in one slot (round-10 merge)."""
    setops = rel_setops(spark, sf_dir).select(
        F.lit("setops").alias("mode"),
        F.col("nationkey").cast("long"),
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.lit(None).cast("long").alias("c_nationkey"),
    )
    page = rel_distinct_page(spark, sf_dir).select(
        F.lit("page").alias("mode"),
        F.lit(None).cast("long").alias("nationkey"),
        "c_mktsegment",
        F.col("c_nationkey").cast("long"),
    )
    return setops.unionByName(page)


def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch: approximate distinct users per event
    type. Portable hash makes sketch state AND estimate engine-exact, so
    the oracle value-checks an *approximate* algorithm bit-for-bit."""
    from patito_spark.operators.sketch import kmv_distinct

    events = _t(spark, sf_dir, "events")
    return kmv_distinct(events, "user_id", group_cols=["event_type"], k=32)


def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (codegen regexp_replace chain, no UDF).

    The synthetic documents contain no PII, so both engines inject the
    same deterministic email/IP/phone per row before redacting — the
    oracle then value-checks the full pattern chain non-vacuously.
    """
    from patito_spark.operators.text import redact

    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com ip 10.0.0."),
            F.col("doc_id") % 255,
            F.lit(" call +1-555-123-4567"),
        ).alias("text"),
    )
    return injected.select("doc_id", redact("text").alias("redacted"))


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: corpus docs sharing 5-grams with a
    held-out 'benchmark' slice (doc_id < 20). The oracle replays gram
    building + counting over portable gram hashes; the count does not
    depend on the hash, up to collisions."""
    from patito_spark.operators.contamination import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter(F.col("doc_id") >= 20)
    return ngram_contamination(corpus, benchmark, n=5)


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics, mode-tagged union (round 15):

    - ``bigram``: repetition_stats' duplicate/top bigram fractions
      (the round-12 rows, unchanged);
    - ``a2:<metric>``: the FULL Table-A2 battery
      (heuristics.gopher_repetition_rules) in long form — one row per
      (doc, metric) carrying the metric double, its rule boolean (as
      n_grams 0/1) and pass_repetition (as top_gram_frac 0.0/1.0).
      The oracle replays all thirteen metrics in DuckDB SQL: unit
      split + dedup counts for lines/paragraphs, list-slice gram
      counting with the (count DESC, gram ASC) tie-break for the top
      2-4-gram char fractions, and interval-union window sweeps over
      duplicate 5-10-gram spans — value-exact (integer-ratio doubles).
    """
    from patito_spark.operators.heuristics import (
        GOPHER_REPETITION_THRESHOLDS,
        gopher_repetition_rules,
    )
    from patito_spark.operators.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    bi = repetition_stats(docs, ngram=2).select(
        F.lit("bigram").alias("mode"),
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        "dup_gram_frac",
        "top_gram_frac",
    )
    metrics = list(GOPHER_REPETITION_THRESHOLDS)
    a2 = gopher_repetition_rules(docs)
    structs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.col(m).alias("v"),
                F.col(f"rule_rep_{m}").alias("r"),
            )
            for m in metrics
        ]
    )
    longd = a2.select(
        "doc_id", "pass_repetition", F.explode(structs).alias("x")
    ).select(
        F.concat(F.lit("a2:"), F.col("x.m")).alias("mode"),
        "doc_id",
        F.col("x.r").cast("long").alias("n_grams"),
        F.col("x.v").alias("dup_gram_frac"),
        F.col("pass_repetition").cast("double").alias("top_gram_frac"),
    )
    return bi.unionByName(longd)


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from patito_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_count("text").cast("long").alias("n_tokens"), "n_chars"
    )


def q_asof_bidirectional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward AND forward as-of join in one entry (merged so the suite
    stays within the driver's 50-entry budget with both directions still
    value-oracled). Each purchase carries its latest prior click and its
    next click; the two asof results join back on the purchase key."""
    from pyspark.sql import Window

    from patito_spark.operators.temporal import asof_join

    events = _t(spark, sf_dir, "events").withColumn(
        "ts", F.expr("ts div 1000")  # epoch-micros, see q_asof_purchases
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("click_id").desc())
    clicks = (
        clicks.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # direction="both": backward and forward matches from ONE union +
    # keyed shuffle (the forward window re-sorts the reused exchange) —
    # replaces two asof passes re-joined on the purchase key.
    out = asof_join(
        purchases, clicks, on="ts", by=["user_id"], direction="both"
    )
    return out.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.col("right_click_id").alias("prev_click_id"),
        F.col("right_click_value").alias("prev_click_value"),
        F.col("right_ts").alias("prev_ts"),
        F.col("fwd_click_id").alias("next_click_id"),
        F.col("fwd_ts").alias("next_ts"),
    )


def _tokenizer_artifacts_for(spark: SparkSession, sf_dir: str):
    """Session-trained tokenizer artifacts for the driver row — the
    ANN-index/arpa convention (train once, encode many).

    Both trainers run their REAL distributed paths (the
    bpe_word_frequencies corpus collapse; unigram's distributed EM
    E-step) over a deterministic corpus derived from the document
    vocabulary alone: each distinct word repeated 1 + (portable md5 %
    97) times. Training is therefore a pure function of the WORD SET
    (pinned deterministic across partitionings in
    test_operators_unigram/tokenizer), so the oracle's committed
    per-word segmentations stay valid as long as the testdata
    generator's vocabulary does."""
    from patito_spark.functions.hashing import portable_hash64
    from patito_spark.operators.tokenizer import build_bpe_vocab, train_bpe
    from patito_spark.operators.unigram import train_unigram

    key = ("tok", spark.sparkContext.applicationId, sf_dir)

    def _build():
        words = (
            _t(spark, sf_dir, "documents")
            .select(F.explode(F.split(F.col("text"), " ")).alias("w"))
            .distinct()
        )
        n = (F.lit(1) + portable_hash64(F.col("w")) % 97).cast("int")
        # vocabulary-sized by construction (31 rows) — one partition
        # keeps each EM E-step job at one task instead of 32
        corpus = words.select(
            F.array_join(F.array_repeat(F.col("w"), n), " ").alias("text")
        ).coalesce(1)
        # short prune ladder (seed 150, shrink 0.5, one EM pass): the
        # row gates trainer CORRECTNESS; the decade profiles cover the
        # long-ladder scale shape
        logp = train_unigram(
            corpus, vocab_size=48, seed_size=150, em_iters=1,
            shrink_factor=0.5,
        )
        merges = train_bpe(corpus, n_merges=24)
        return (logp, merges, build_bpe_vocab(merges))

    return _cache_get_or_build(key, _build)


def _fused_token_ids(base: DataFrame, logp, merges, vocab) -> DataFrame:
    """One Arrow pass emitting BOTH tokenizers' encodings as
    mode-tagged rows ('unigram_ids' / 'bpe_ids'; ids space-joined).
    Shares the GPT-2 pretokenize + byte-alphabet mapping across the
    two kernels and per-batch word memos for each."""
    from pyspark.sql import types as T

    from patito_spark.operators.tokenizer import (
        _bpe_word,
        _pretokenize,
        bytes_to_unicode,
    )
    from patito_spark.operators.unigram import (
        build_unigram_vocab,
        viterbi_segment,
    )

    uni_ids = build_unigram_vocab(logp)
    sc = base.sparkSession.sparkContext
    bc = sc.broadcast((dict(logp), uni_ids, dict(merges), dict(vocab)))
    schema = T.StructType(
        [
            T.StructField("mode", T.StringType(), False),
            T.StructField("doc_id", base.schema["doc_id"].dataType, True),
            T.StructField("token_ids", T.StringType(), True),
        ]
    )

    def encode(batches):
        import pandas as pd

        lp, u_ids, ranks, voc = bc.value
        b2u = bytes_to_unicode()
        memo_u: dict = {}
        memo_b: dict = {}

        def word_u(mapped: str) -> list:
            got = memo_u.get(mapped)
            if got is None:
                pieces, _ = viterbi_segment(mapped, lp, 8)
                got = [str(u_ids.get(p, 0)) for p in pieces]
                memo_u[mapped] = got
            return got

        def word_b(mapped: str) -> list:
            got = memo_b.get(mapped)
            if got is None:
                # out-of-vocab merge tokens are skipped, matching the
                # standalone encode's array_join-over-null behavior
                got = [
                    str(voc[t])
                    for t in _bpe_word(mapped, ranks)
                    if t in voc
                ]
                memo_b[mapped] = got
            return got

        for pdf in batches:
            modes, ids_col, out_ids = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    for m in ("unigram_ids", "bpe_ids"):
                        modes.append(m)
                        ids_col.append(doc_id)
                        out_ids.append(None)
                    continue
                us: list = []
                bs: list = []
                for w in _pretokenize(text):
                    mapped = "".join(b2u[c] for c in w.encode("utf-8"))
                    us.extend(word_u(mapped))
                    bs.extend(word_b(mapped))
                modes.extend(("unigram_ids", "bpe_ids"))
                ids_col.extend((doc_id, doc_id))
                out_ids.extend((" ".join(us), " ".join(bs)))
            yield pd.DataFrame(
                {"mode": modes, "doc_id": ids_col, "token_ids": out_ids}
            )

    return base.mapInPandas(encode, schema=schema)


def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-counting AND tokenizer-training family, union-tagged:

    - ``mode='counts'``: whitespace + BPE-ish token counts. The Spark
      side splits on Java-regex lookarounds for the BPE-ish count; RE2
      (DuckDB) has no lookarounds, so the oracle uses the equivalent
      closed form ``#[A-Za-z0-9_]+ runs + #[^A-Za-z0-9_ ] chars`` — an
      independent re-specification, stronger than a replay.
    - ``mode='unigram_ids'`` (round 14): every document's Viterbi piece
      ids under a unigram-LM vocabulary TRAINED THIS SESSION by the
      distributed trainer (operators/unigram.py — distributed EM over
      the word-frequency collapse). The oracle replays the encoding
      from the COMMITTED per-word segmentations of the deterministic
      artifact (_UNIGRAM_SEG; the GPT-2 pretokenize + byte-alphabet +
      Viterbi composition is precomputed per word — the vocabulary is
      31 words — and the document encoding is their in-order
      concatenation).
    - ``mode='bpe_ids'`` (round 14): same for the BPE trainer
      (operators/tokenizer.py train_bpe / with_bpe_token_ids) against
      _BPE_SEG.

    A changed EM/merge implementation, a changed pretokenizer, or a
    non-deterministic training order all flip the committed ids and
    fail the hash — this row is the trainers' driver gate.
    """
    from patito_spark.operators.text import bpe_ish_token_count, token_count

    docs = _t(spark, sf_dir, "documents")
    counts = docs.select(
        F.lit("counts").alias("mode"),
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.lit(None).cast("string").alias("token_ids"),
    )
    logp, merges, vocab = _tokenizer_artifacts_for(spark, sf_dir)
    base = docs.select("doc_id", "text")

    # BOTH encoders in ONE Arrow stage over ONE scan (two mode-tagged
    # rows per doc): the kernels share the pretokenize + byte-alphabet
    # pass, and a second mapInPandas stage would re-pay the scan and
    # the Python-stage constant. Values are pinned identical to the
    # standalone with_unigram_token_ids / with_bpe_token_ids encodes
    # (test_entry.py::test_text_token_counts_fused_encode).
    ids_df = _fused_token_ids(base, logp, merges, vocab)
    both = ids_df.select(
        "mode",
        "doc_id",
        F.lit(None).cast("long").alias("n_tokens"),
        F.lit(None).cast("long").alias("n_bpe_tokens"),
        F.lit(None).cast("long").alias("n_chars"),
        "token_ids",
    )
    return counts.unionByName(both)


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chunk_documents over the documents table (max 32 tokens, overlap
    8) — exactly replayable in DuckDB with list slicing over the same
    whitespace split."""
    from patito_spark.operators.packing import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, max_tokens=32, overlap=8).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk_text",
        "n_tokens",
    )


def corpus_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_stats dataset-card aggregate, grouped by language.

    The oracle covers the exactly-replayable columns: counts and
    long-sums, plus averages whose accumulation is exact in IEEE double
    (sums of small integers — representable exactly, so partial-agg
    order cannot change the bits). The approx-percentile sketch columns
    are order/implementation-defined by design and are pinned in unit
    tests instead (tests/test_operators_text.py)."""
    from patito_spark.operators.text import corpus_stats

    docs = _t(spark, sf_dir, "documents")
    stats = corpus_stats(docs, group_cols=["lang"])
    return stats.select(
        "lang",
        "n_docs",
        "n_tokens",
        "avg_tokens",
    )


def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile: quality score + fingerprint +
    language ID + the Gopher A1 and C4 rule columns.

    One entry exercising the whole fused profile
    (heuristics.document_profile: quality_score, fingerprint,
    detect_language marker votes, 13 rule booleans + both pass
    conjunctions + frac_terminal_punct) — merged so the suite fits the
    driver's 50-entry correctness budget with every column still
    value-oracled. Since round 15 it is ONE map-only Arrow stage; no
    join, no aggregate branch.
    """
    from patito_spark.operators.heuristics import document_profile

    docs = _t(spark, sf_dir, "documents")
    # Round-12 addition: the published Gopher + C4 rule sets ride the
    # same slot. Round 15: the whole profile moved into ONE Arrow
    # stage (heuristics.document_profile) — C-speed string counts + one
    # token pass for all language votes instead of the JVM regexp
    # battery; value-identical (bit-exact doubles, test-pinned vs the
    # codegen composition of the rule operators).
    per_doc = document_profile(docs).select(
        "doc_id",
        "quality",
        "fp",
        "lang_pred",
        "rule_word_count",
        "rule_mean_word_len",
        "rule_symbol_ratio",
        "rule_bullet_lines",
        "rule_ellipsis_lines",
        "rule_alpha_words",
        "rule_stop_words",
        "pass_gopher",
        "frac_terminal_punct",
        "rule_min_sentences",
        "rule_no_lorem",
        "rule_no_brace",
        "pass_c4",
    )
    return per_doc


def text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked corpus vocabulary via build_vocab(top_n=500).

    Exercises the two-stage (token, doc) → token aggregation cascade and
    the deterministic dense-rank tie-break (count desc, token asc) that
    makes the top-N reproducible across engines.
    """
    from patito_spark.operators.text import build_vocab

    return build_vocab(_t(spark, sf_dir, "documents"), top_n=500)


def _bm25_index(spark: SparkSession, sf_dir: str):
    """Session-lived Bm25Index (build-once/query-many — the
    _lsh_index/_ivf_index convention): the corpus postings aggregate
    persists across query batches; the bench therefore measures the
    production steady state (cache-read + broadcast prune + rank),
    and the driver compare covers the Index's cached-read path."""
    from patito_spark.operators.text import build_bm25_index

    key = ("bm25", spark.sparkContext.applicationId, sf_dir)
    return _cache_get_or_build(
        key, lambda: build_bm25_index(_t(spark, sf_dir, "documents"))
    )


def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 retrieval THROUGH the build-once Bm25Index
    (round-13 rotation: the cached-read path earns the driver
    CORRECTNESS row; scores are identical to bm25_scores under the
    shared posting-bearing-docs convention, so the oracle replay is
    unchanged). Every ~997th document's first three tokens stand in
    for a query batch. bm25_topk prunes to the exact-score top-30,
    then ranking re-orders by the ROUNDED score (4 dp) with a doc_id
    tie-break so the rank column is deterministic across engines
    despite float summation order (exact ties already order by id, so
    the margin only has to absorb near-ties at the boundary)."""
    from pyspark.sql import Window

    from patito_spark.operators.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") % 997 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 1, 3), " "
        ).alias("query"),
    )
    scored = bm25_topk(_bm25_index(spark, sf_dir), queries, k=30)
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 4).desc(), F.col("doc_id").asc()
    )
    return (
        scored.drop("rank")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 20)
        .select(
            "query_id",
            "doc_id",
            F.round("score", 4).alias("score_r"),
            "rank",
        )
    )


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF rows + BM25 retrieval union-tagged in one slot
    (round-12 merge: BM25 is the text-side retrieval twin and reuses
    the same corpus-aggregate shape).

    TF-IDF runs with the default broadcast-probe gate ON, so the oracle
    compare covers the persist-before-probe path (text.py: vocab cached
    across the count + join). ln() is not IEEE-determined, so idf/
    tf_idf are rounded to 6 dp and the BM25 score (a float sum) to 4 dp
    for the value-hash compare; tf is an exact division and passes
    through untouched.
    """
    from patito_spark.operators.text import tf_idf

    out = tf_idf(_t(spark, sf_dir, "documents"))
    tfidf = out.select(
        F.lit("tfidf").alias("mode"),
        "doc_id",
        "token",
        "tf",
        F.round("idf", 6).alias("idf_r"),
        F.round("tf_idf", 6).alias("tf_idf_r"),
        F.lit(None).cast("long").alias("query_id"),
        F.lit(None).cast("double").alias("score_r"),
        F.lit(None).cast("long").alias("rank"),
    )
    bm = text_bm25(spark, sf_dir).select(
        F.lit("bm25").alias("mode"),
        "doc_id",
        F.lit(None).cast("string").alias("token"),
        F.lit(None).cast("double").alias("tf"),
        F.lit(None).cast("double").alias("idf_r"),
        F.lit(None).cast("double").alias("tf_idf_r"),
        "query_id",
        "score_r",
        "rank",
    )
    return tfidf.unionByName(bm)


def text_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LM scores — the whole LM-gate family in one slot:
    the self-trained stack (fused two-pass ``lm_quality_scores``) plus
    the round-14 pretrained-.arpa branch (``operators/arpa.py``):

    - unigram_logloss self-LM (the corpus's own vocabulary, add-1
      smoothing): cross_entropy / perplexity;
    - selection.dsir_weights toward the deterministic in-corpus target
      ``doc_id % 17 == 0`` (stands in for a curated target corpus):
      log_ratio = H_raw − H_target per token, dsir_weight = exp of it;
    - bigram_logloss self-LM (stupid backoff 0.4): bigram_ce /
      bigram_ppl — the oracle replays the pair LM, the
      count(w1,w2)/count(w1) path, the backoff path and the
      document-initial unigram fallback.
    Double summation order differs between engines at ~1e-12 relative,
    so all scores are rounded to 4 dp for the hash compare.
    """
    from patito_spark.operators.text import lm_quality_scores

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 17 == 0)
    # lm_quality_scores fuses the whole stack into TWO corpus passes:
    # one positioned-pair aggregate builds BOTH LMs (the unigram LM is
    # derived from the pair table, not a second scan) and one scoring
    # pass feeds every lookup + the single per-doc aggregate. Same
    # numbers as the three separate operators to summation order
    # (pinned by test_lm_quality_scores_matches_three_operator_composition).
    # Round-12 addition: interpolated Kneser-Ney scores ride the same
    # slot via the FUSED path — the KN NLL is a pure function of the
    # (prev, w) pair, so it joins the fused score table and costs two
    # pair-table joins, zero extra corpus-stream joins (equivalence to
    # the standalone kneser_ney_logloss is pinned in
    # test_lm_quality_scores_kn_matches_standalone).
    # Round-13 addition: order-3 stupid-backoff scores ride the same
    # slot the same way — trigram=True widens the positioned stream to
    # triples, derives the pair table from the triple aggregate (still
    # two corpus passes) and appends trigram_ce/ppl to the one fused
    # score table (equivalence to the standalone trigram_logloss is
    # pinned in test_lm_quality_scores_trigram_matches_standalone).
    # Round-14 addition: the PRETRAINED .arpa gate (the CCNet filter's
    # actual production shape) earns its driver row here — an eighth
    # score pair scored by operators/arpa.py's Katz backoff chain
    # against the session-built deterministic artifact
    # (_arpa_lm_for: real subcorpus grams, portable-hash pseudo
    # log-probs). The model fits the broadcast gate, so this branch
    # exercises the SHUFFLE-FREE direct path; the oracle replays the
    # artifact construction AND the full longest-match cascade
    # (logp_k + skipped-context backoffs) in SQL.
    from concurrent.futures import ThreadPoolExecutor

    from patito_spark.operators.arpa import arpa_logloss

    # The fused-stack branch and the .arpa branch are independent until
    # the final join; overlap their construction-phase driver actions
    # (the arpa broadcast-gate count rides under lm_quality_scores'
    # stats aggregates — guide §2.6, the ann_search precedent). Plan
    # unchanged; interleaved 7-pass race median 4.097 -> 3.634 s at
    # sf0.1 (`git show dccf085:tools/ab_branch_threads.py`). The
    # artifact lookup stays on the caller thread: build-once mutation of
    # _ANN_INDEX_CACHE belongs to one thread.
    lm = _arpa_lm_for(spark, sf_dir)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fs = pool.submit(
            lm_quality_scores, docs, target, kneser_ney=True, trigram=True
        )
        fa = pool.submit(arpa_logloss, docs, lm, order=3, bos=True)
        s, a_raw = fs.result(), fa.result()
    a = a_raw.select(
        "doc_id",
        F.round("arpa_ce", 4).alias("arpa_ce_r"),
        F.round("arpa_ppl", 4).alias("arpa_ppl_r"),
    )
    return s.select(
        "doc_id",
        "n_tokens",
        F.round("cross_entropy", 4).alias("cross_entropy_r"),
        F.round("perplexity", 4).alias("perplexity_r"),
        F.round("log_ratio", 4).alias("log_ratio_r"),
        F.round("dsir_weight", 4).alias("dsir_weight_r"),
        F.round("bigram_ce", 4).alias("bigram_ce_r"),
        F.round("bigram_ppl", 4).alias("bigram_ppl_r"),
        F.round("kn_ce", 4).alias("kn_ce_r"),
        F.round("kn_ppl", 4).alias("kn_ppl_r"),
        F.round("trigram_ce", 4).alias("trigram_ce_r"),
        F.round("trigram_ppl", 4).alias("trigram_ppl_r"),
    ).join(a, "doc_id")


# ---------------------------------------------------------------------- #
# Driver contract                                                         #
# ---------------------------------------------------------------------- #


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q1_pricing_summary(spark, DEFAULT_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_local_supplier": q5_local_supplier,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q_top_events_window": q_top_events_window,
        "q_events_sessionize": q_events_sessionize,
        "q_stream_hourly_counts": q_stream_hourly_counts,
        "rel_pipeline": rel_pipeline,
        "rel_join": rel_join,
        "rel_setops_page": rel_setops_page,
        "q_semi_anti_customers": q_semi_anti_customers,
        "dedup_semantic": dedup_semantic,
        "rel_from_parquet_path": rel_from_parquet_path,
        "rel_left_join_coalesce": rel_left_join_coalesce,
        "q_pivot_events": q_pivot_events,
        "q_rollup_orders": q_rollup_orders,
        "validated_lineitem": validated_lineitem,
        "dedup_exact": dedup_exact,
        "dedup_spans": dedup_spans,
        "dedup_jaccard_pairs": dedup_jaccard_pairs,
        "dedup_clusters": dedup_clusters,
        "dedup_embedding": dedup_embedding_both,
        "dedup_minhash": dedup_minhash,
        "dedup_corpus_minhash": dedup_corpus_minhash,
        "dedup_simhash": dedup_simhash,
        "ann_topk": ann_topk,
        "ann_search": ann_search,
        "sample_split_documents": sample_split_documents,
        "q_asof_bidirectional": q_asof_bidirectional,
        "q_range_join_orders": q_range_join_orders,
        "q_cdc_user_state": q_cdc_user_state,
        "multimodal_image_features": multimodal_image_features,
        "sample_stratified_docs": sample_stratified_docs,
        "q_stream_cdc_state": q_stream_cdc_state,
        "q_timeseries": q_timeseries,
        "url_pipeline": url_pipeline,
        "paragraph_pipeline": paragraph_pipeline,
        "mix_corpora_stats": mix_corpora_stats,
        "conversations_sft": conversations_sft,
        "q_kmv_distinct_users": q_kmv_distinct_users,
        "text_redact": text_redact,
        "text_repetition": text_repetition,
        "contamination_check": contamination_check,
        "text_token_counts": text_token_counts,
        "doc_chunks": doc_chunks,
        "corpus_stats_by_lang": corpus_stats_by_lang,
        "text_profile": text_profile,
        "text_vocab": text_vocab,
        "text_tfidf": text_tfidf,
        "text_unigram_ppl": text_unigram_ppl,
    }


_LANG_MARKER_SQL = {
    "en": "('the','a','value','fast')",
    "de": "('der','und','table','merge')",
    "fr": "('le','et','query','window')",
    "es": "('el','y','data','row')",
    "zh": "('de5','shi4','join','batch')",
}


#: Committed per-word tokenizer segmentations (round 14): the output of
#: the DETERMINISTIC session-trained artifacts (_tokenizer_artifacts_for
#: — trainers are pure functions of the 31-word document vocabulary) for
#: every word in both pretoken variants (document-initial bare form and
#: the space-prefixed form; GPT-2 pretokenize + byte alphabet + Viterbi
#: or BPE merges are folded into the ids). The oracle concatenates these
#: in document order — any trainer/encoder change flips them and fails
#: the hash. PROVENANCE: generated once by the trainers themselves
#: (round 14) via `tools/regen_tokenizer_oracle.py`, which also VERIFIES
#: the committed tables against a fresh training run (both tables
#: re-derive bit-identically as of round 15); rerun it with --print if
#: the testdata generator's vocabulary ever changes.
_UNIGRAM_SEG = {
    'a': '2', ' a': '1 2',
    'agg': '2 28 28', ' agg': '14',
    'batch': '42', ' batch': '22',
    'big': '40', ' big': '16',
    'column': '23 35 7 21 18 9', ' column': '25',
    'customer': '19', ' customer': '1 19',
    'data': '10 2 3 2', ' data': '1 10 2 3 2',
    'dup': '10 21 33', ' dup': '24',
    'fast': '32 2 38 3', ' fast': '15',
    'filter': '32 11 7 3 4', ' filter': '1 32 11 7 3 4',
    'group': '28 29 35 21 33', ' group': '1 28 29 35 21 33',
    'hash': '26', ' hash': '1 26',
    'join': '27', ' join': '1 27',
    'key': '37 5 30', ' key': '13',
    'line': '7 11 9 5', ' line': '1 7 11 9 5',
    'merge': '18 4 28 5', ' merge': '1 18 4 28 5',
    'order': '8 10 4', ' order': '1 8 10 4',
    'part': '33 2 29 3', ' part': '1 33 2 29 3',
    'query': '31 21 4 30', ' query': '1 31 21 4 30',
    'row': '29 35 36', ' row': '17',
    'scan': '38 23 2 9', ' scan': '6 23 2 9',
    'slow': '38 7 35 36', ' slow': '6 7 35 36',
    'small': '38 18 2 7 7', ' small': '6 18 2 7 7',
    'sort': '38 8 3', ' sort': '6 8 3',
    'spark': '38 33 2 29 37', ' spark': '6 33 2 29 37',
    'stream': '38 3 29 5 2 18', ' stream': '6 3 29 5 2 18',
    'table': '41', ' table': '20',
    'the': '39', ' the': '12',
    'value': '34 2 7 21 5', ' value': '1 34 2 7 21 5',
    'vector': '34 5 23 3 8', ' vector': '1 34 5 23 3 8',
    'window': '36 11 9 10 35 36', ' window': '1 36 11 9 10 35 36',
}

_BPE_SEG = {
    'a': '97', ' a': '260',
    'agg': '97 274', ' agg': '275',
    'batch': '98 266 99 104', ' batch': '259 266 99 104',
    'big': '98 105 103', ' big': '259 105 103',
    'column': '99 111 279 109 110', ' column': '261 111 279 109 110',
    'customer': '99 117 257 111 263', ' customer': '261 117 257 111 263',
    'data': '100 266 97', ' data': '268 266 97',
    'dup': '100 117 112', ' dup': '268 117 112',
    'fast': '102 277', ' fast': '278',
    'filter': '102 105 108 116 256', ' filter': '267 105 108 116 256',
    'group': '103 114 111 117 112', ' group': '32 103 114 111 117 112',
    'hash': '104 97 115 104', ' hash': '32 104 97 115 104',
    'join': '106 111 265', ' join': '32 106 111 265',
    'key': '273', ' key': '276',
    'line': '108 265 101', ' line': '32 108 265 101',
    'merge': '263 103 101', ' merge': '32 263 103 101',
    'order': '264 100 256', ' order': '32 264 100 256',
    'part': '112 97 114 116', ' part': '32 112 97 114 116',
    'query': '113 117 256 121', ' query': '32 113 117 256 121',
    'row': '114 269', ' row': '32 114 269',
    'scan': '115 99 97 110', ' scan': '262 99 97 110',
    'slow': '115 108 269', ' slow': '262 108 269',
    'small': '115 109 97 108 108', ' small': '262 109 97 108 108',
    'sort': '115 264 116', ' sort': '262 264 116',
    'spark': '115 112 97 114 107', ' spark': '262 112 97 114 107',
    'stream': '257 114 101 97 109', ' stream': '32 257 114 101 97 109',
    'table': '116 97 98 108 101', ' table': '258 97 98 108 101',
    'the': '116 270', ' the': '271',
    'value': '118 97 279 101', ' value': '32 118 97 279 101',
    'vector': '118 101 99 116 264', ' vector': '32 118 101 99 116 264',
    'window': '119 265 100 269', ' window': '32 119 265 100 269',
}


def _tok_seg_values_sql() -> str:
    """VALUES list of the committed (mode, pretoken, ids) rows."""
    rows = []
    for mode, table in (
        ("unigram_ids", _UNIGRAM_SEG),
        ("bpe_ids", _BPE_SEG),
    ):
        for w, ids in table.items():
            rows.append(f"('{mode}', '{w}', '{ids}')")
    return ",\n                ".join(rows)


def _lang_scores_sql() -> str:
    return ", ".join(
        "len(list_filter(string_split(text, ' '), x -> x in "
        f"{markers})) as s_{lang}"
        for lang, markers in _LANG_MARKER_SQL.items()
    )


# --- SQL fragments that replay portable-hash / hyperplane pipelines ----- #


def _phash_sql(expr: str) -> str:
    """DuckDB fragment for the engine-portable 60-bit md5 hash."""
    from patito_spark.functions.hashing import portable_hash64_sql

    return portable_hash64_sql(expr)


def _bucket_sql(vec: str, n_planes: int, dim: int = 64, seed: int = 42) -> str:
    """Sign-random-projection bucket id from the SAME hyperplane constants
    the Spark operators use (full-precision repr round-trips exactly; both
    engines evaluate sequential-fold dots, so the sign bits agree
    bit-for-bit)."""
    from patito_spark.operators.similarity import _deterministic_hyperplanes

    planes = _deterministic_hyperplanes(dim, n_planes, seed)
    return " + ".join(
        "(CASE WHEN list_dot_product("
        f"{vec}, [{', '.join(repr(x) for x in row)}]"
        f") > 0 THEN {1 << i} ELSE 0 END)"
        for i, row in enumerate(planes)
    )


def _lsh_auto_planes_at_compare_sf() -> int:
    """The plane count dedup_embedding_lsh auto-sizes to at the SF the
    oracle is being run against — derived from the ACTUAL embeddings row
    count (parquet footer read, no data scan) so the oracle replays the
    same bucketing as the Spark side at any scale.

    The directory defaults to the driver's sf0.01 compare scale;
    benchmark harnesses that run the oracle at a different SF (e.g.
    tools/baseline_duckdb.py at sf1) export PATITO_ORACLE_SF_DIR before
    calling oracle_sql() so both engines bucket with the same plane
    count (verdict r8 what's-wrong #1: a sf0.01-pinned count handed
    DuckDB 2 planes vs Spark's 7 at sf1 — a fake 10x win)."""
    from patito_spark.operators.similarity import auto_n_planes

    path = os.path.join(
        os.environ.get("PATITO_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        "embeddings.parquet",
    )
    n = _parquet_footer_rows(path)
    if n is None:
        n = 500
        print(
            f"[oracle_sql] plane-count fallback n={n}: cannot read {path}",
            file=sys.stderr,
        )
    return auto_n_planes(n)


def _ivf_cells_at_compare_sf() -> int:
    """The quantizer size the fixed-centroid IVF entries use at the SF
    the oracle is being run against — same PATITO_ORACLE_SF_DIR contract
    as :func:`_lsh_auto_planes_at_compare_sf`, so both engines assign
    to the same cells at any scale."""
    return _ivf_cells_for(
        os.environ.get("PATITO_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    )


def _pca_fit_at_compare_sf(k: int = 16):
    """Independent numpy PCA fit over the embeddings at the SF the
    oracle is being run against (PATITO_ORACLE_SF_DIR contract): the
    same exact second moments, eigh, descending sort and
    largest-|coeff|-positive sign convention as fit_pca — but computed
    from a plain in-memory matrix, so the ann_search pca mode's oracle
    genuinely cross-checks the distributed fit, not a copy of its
    output. Returns (mean[d], components[k][d], d)."""
    import numpy as np
    import pyarrow.parquet as pq

    path = os.path.join(
        os.environ.get("PATITO_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        "embeddings.parquet",
    )
    mat = np.array(
        pq.read_table(path, columns=["embedding"])["embedding"]
        .to_pylist(),
        dtype="float64",
    )
    mean = mat.mean(axis=0)
    cov = (mat.T @ mat) / len(mat) - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    comps = evecs[:, order][:, :k].T.copy()
    for row in comps:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1.0
    return mean.tolist(), comps.tolist(), mat.shape[1]


# The portable hash is 60-bit (top 4 bits constant 0), so SimHash bits
# 60-63 can never win a vote — the oracle only materializes bits 0..59.
_SIMHASH_BITS = 60


def _minhash_pairs_sql_body() -> str:
    """Shared CTE chain replaying minhash_dedup_pairs at threshold 0.6.

    Replays densified one-permutation hashing (Shrivastava & Li 2014)
    exactly as dedup._minhash_doc_features_arrow does: each of the 64
    bins takes its own min hash when occupied, otherwise borrows from
    the next occupied bin at-or-after it (wrapping to the first occupied
    bin overall)."""
    return f"""sh AS ({_SHINGLE_SQL}),
            bin_mins AS (
                SELECT doc_id, h % 64 AS bin, min(h) AS mn
                FROM sh GROUP BY doc_id, h % 64
            ),
            bin_grid AS (
                SELECT d.doc_id, g.bin, bm.mn
                FROM (SELECT DISTINCT doc_id FROM bin_mins) d
                CROSS JOIN (SELECT unnest(range(0, 64)) AS bin) g
                LEFT JOIN bin_mins bm
                  ON bm.doc_id = d.doc_id AND bm.bin = g.bin
            ),
            dense AS (
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
                FROM bin_grid
            ),
            banded AS (
                SELECT doc_id, (bin // 4) AS band,
                       string_agg(bin || ':' || mn, ',' ORDER BY bin) AS bkey
                FROM dense GROUP BY doc_id, (bin // 4)
            ),
            kept AS (
                SELECT * FROM (
                    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS sz
                    FROM banded
                ) WHERE sz > 1 AND sz <= 1000
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM kept a JOIN kept b
                  ON a.band = b.band AND a.bkey = b.bkey
                 AND a.doc_id < b.doc_id
            ),
            toks AS (
                SELECT doc_id, list_sort(list(h)) AS hs FROM sh GROUP BY doc_id
            ),
            verified AS (
                SELECT id_a, id_b,
                       CASE WHEN len(a.hs) + len(b.hs)
                                 - len(list_intersect(a.hs, b.hs)) = 0 THEN 1.0
                            ELSE len(list_intersect(a.hs, b.hs))::DOUBLE
                                 / (len(a.hs) + len(b.hs)
                                    - len(list_intersect(a.hs, b.hs)))
                       END AS jaccard
                FROM cand JOIN toks a ON cand.id_a = a.doc_id
                          JOIN toks b ON cand.id_b = b.doc_id
                WHERE jaccard >= 0.6
            )"""


def _minhash_pairs_ctes() -> str:
    return _minhash_pairs_sql_body()


def _simhash_votes_sql() -> str:
    return ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(_SIMHASH_BITS)
    )


def _simhash_pack_sql() -> str:
    return " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    )


def _simhash_masks_sql() -> str:
    """The entry's combination masks (chunks=8, max_hamming=4) as BIGINT
    literals — same construction the Spark side uses."""
    from patito_spark.operators.dedup import hamming_combination_masks

    return ", ".join(
        f"({m})::BIGINT" for m in hamming_combination_masks(8, 4)
    )


def _split_frac_sql() -> str:
    """DuckDB fragment mirroring the portable train/test hash fraction."""
    from patito_spark.operators.sampling import sample_fraction_sql

    return sample_fraction_sql("doc_id", seed=42)


def _redact_sql(expr: str) -> str:
    """regexp_replace chain mirroring text.redact (same patterns, 'g')."""
    from patito_spark.operators.text import PII_PATTERNS

    for label, pattern in PII_PATTERNS.items():
        escaped = pattern.replace("'", "''")
        expr = f"regexp_replace({expr}, '{escaped}', '<{label}>', 'g')"
    return expr


def _shingle_sql(n: int = 3, source: str = "documents") -> str:
    """Distinct per-doc shingle hashes: word n-grams with the whole-text
    fallback for short docs (the shingle_hash_rows shape), portable
    hash."""
    gram = " || ' ' || ".join(
        f"t[i + {j}]" if j else "t[i]" for j in range(n)
    )
    return f"""
    SELECT DISTINCT doc_id, {_phash_sql('gram')} AS h
    FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(t) >= {n}
                      THEN list_transform(range(1, len(t) - {n - 2}),
                           i -> {gram})
                      ELSE [text] END) AS gram
        FROM (SELECT doc_id, text, string_split(text, ' ') AS t
              FROM {source})
    )
"""


_SHINGLE_SQL = _shingle_sql(3)


def _a2_oracle_sql() -> tuple:
    """DuckDB replay of the full Gopher Table-A2 battery in long form
    (`a2:<metric>` rows of the text_repetition entry). Mirrors
    heuristics._repetition_metrics' documented conventions exactly:
    blank units excluded from line/paragraph stats, space-excluded
    top-gram char sums with the (count DESC, gram ASC) list tie-break,
    and duplicate-gram char coverage as an interval UNION (window
    island sweep — overlapping spans never double-count)."""
    from patito_spark.operators.heuristics import (
        GOPHER_REPETITION_THRESHOLDS as THR,
    )

    # Python str.strip()'s FULL unicode whitespace set (the operator's
    # blank-unit test is `u.strip()`), not just the ASCII six — a
    # narrower oracle set would count unicode-whitespace-only units
    # (NBSP, U+2028, ideographic space, ...) as units the operator
    # excludes (round-15 review finding; bites the moment the testdata
    # generator emits any such character).
    strip = " || ".join(
        f"chr({c})" for c in range(0x10000) if chr(c).isspace()
    )
    ctes = [
        """a2base AS (
            SELECT doc_id,
                   CASE WHEN length(text) = 0 THEN 1.0
                        ELSE length(text)::DOUBLE END AS denom
            FROM documents
        )""",
        """a2tokl AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        )""",
        """a2tokpos AS (
            SELECT doc_id, i,
                   coalesce(sum(length(tok) + 1) OVER (
                       PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS tok_start
            FROM (SELECT doc_id, unnest(ts) AS tok,
                         unnest(range(1, len(ts) + 1)) AS i
                  FROM a2tokl)
        )""",
    ]
    for unit, splitter in (
        ("line", "string_split(text, chr(10))"),
        ("para", r"regexp_split_to_array(text, '\n{2,}')"),
    ):
        ctes.append(f"""a2{unit}c AS (
            SELECT doc_id, u, length(u) AS ln, count(*) AS n
            FROM (SELECT doc_id, unnest({splitter}) AS u FROM documents)
            WHERE trim(u, {strip}) <> ''
            GROUP BY doc_id, u, ln
        )""")
        ctes.append(f"""a2{unit}st AS (
            SELECT doc_id,
                   (sum(n) - count(*))::DOUBLE / sum(n)::DOUBLE AS dup_frac,
                   sum(CASE WHEN n > 1 THEN (n - 1) * ln ELSE 0 END
                       )::DOUBLE AS dup_chars
            FROM a2{unit}c GROUP BY doc_id
        )""")
    for n in (2, 3, 4):
        ctes.append(f"""a2top{n} AS (
            SELECT doc_id,
                   cnt * length(array_to_string(gram, '')) AS chars
            FROM (SELECT doc_id, gram, cnt, row_number() OVER (
                      PARTITION BY doc_id ORDER BY cnt DESC, gram ASC
                  ) AS rn
                  FROM (SELECT doc_id, gram, count(*) AS cnt
                        FROM (SELECT doc_id,
                                     unnest(list_transform(
                                         range(1, len(ts) - {n} + 2),
                                         i -> list_slice(ts, i, i + {n} - 1)
                                     )) AS gram
                              FROM a2tokl WHERE len(ts) >= {n})
                        GROUP BY doc_id, gram))
            WHERE rn = 1
        )""")
    for n in range(5, 11):
        ctes.append(f"""a2d{n} AS (
            SELECT doc_id, unnest(range(1, len(ts) - {n} + 2)) AS i,
                   unnest(list_transform(
                       range(1, len(ts) - {n} + 2),
                       i -> array_to_string(list_slice(ts, i, i + {n} - 1), ' ')
                   )) AS gram
            FROM a2tokl WHERE len(ts) >= {n}
        )""")
        ctes.append(f"""a2d{n}sp AS (
            SELECT s.doc_id, p.tok_start AS lo, p.tok_start + s.glen AS hi
            FROM (SELECT o.doc_id, o.i, length(o.gram) AS glen
                  FROM a2d{n} o
                  JOIN (SELECT doc_id, gram FROM a2d{n}
                        GROUP BY doc_id, gram HAVING count(*) > 1) r
                  USING (doc_id, gram)) s
            JOIN a2tokpos p ON s.doc_id = p.doc_id AND s.i = p.i
        )""")
        ctes.append(f"""a2d{n}isl AS (
            SELECT doc_id, lo, hi, sum(nw) OVER (
                PARTITION BY doc_id ORDER BY lo, hi
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS isl
            FROM (SELECT doc_id, lo, hi,
                         CASE WHEN lo >= coalesce(max(hi) OVER (
                             PARTITION BY doc_id ORDER BY lo, hi
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING
                         ), -1) THEN 1 ELSE 0 END AS nw
                  FROM a2d{n}sp)
        )""")
        ctes.append(f"""a2d{n}cov AS (
            SELECT doc_id, sum(mx - mn)::DOUBLE AS chars
            FROM (SELECT doc_id, isl, max(hi) AS mx, min(lo) AS mn
                  FROM a2d{n}isl GROUP BY doc_id, isl)
            GROUP BY doc_id
        )""")
    vals = [
        "SELECT b.doc_id, 'dup_line_frac' AS metric, "
        "coalesce(l.dup_frac, 0.0) AS v "
        "FROM a2base b LEFT JOIN a2linest l USING (doc_id)",
        "SELECT b.doc_id, 'dup_line_char_frac', "
        "coalesce(l.dup_chars, 0.0) / b.denom "
        "FROM a2base b LEFT JOIN a2linest l USING (doc_id)",
        "SELECT b.doc_id, 'dup_para_frac', coalesce(l.dup_frac, 0.0) "
        "FROM a2base b LEFT JOIN a2parast l USING (doc_id)",
        "SELECT b.doc_id, 'dup_para_char_frac', "
        "coalesce(l.dup_chars, 0.0) / b.denom "
        "FROM a2base b LEFT JOIN a2parast l USING (doc_id)",
    ]
    for n in (2, 3, 4):
        vals.append(
            f"SELECT b.doc_id, 'top_{n}_gram_char_frac', "
            f"coalesce(t.chars, 0)::DOUBLE / b.denom "
            f"FROM a2base b LEFT JOIN a2top{n} t USING (doc_id)"
        )
    for n in range(5, 11):
        vals.append(
            f"SELECT b.doc_id, 'dup_{n}_gram_char_frac', "
            f"coalesce(d.chars, 0.0) / b.denom "
            f"FROM a2base b LEFT JOIN a2d{n}cov d USING (doc_id)"
        )
    ctes.append("a2vals AS (" + " UNION ALL ".join(vals) + ")")
    thr_rows = ", ".join(
        f"('{m}', {t!r}::DOUBLE)" for m, t in THR.items()
    )
    ctes.append(f"a2thr(metric, t) AS (SELECT * FROM (VALUES {thr_rows}))")
    ctes.append(
        """a2j AS (
            SELECT v.doc_id, v.metric, v.v, (v.v <= th.t) AS ok
            FROM a2vals v JOIN a2thr th ON v.metric = th.metric
        )"""
    )
    ctes.append(
        """a2p AS (
            SELECT doc_id, CAST(bool_and(ok) AS DOUBLE) AS pass
            FROM a2j GROUP BY doc_id
        )"""
    )
    select = (
        "SELECT 'a2:' || a.metric AS mode, a.doc_id, "
        "CAST(a.ok AS BIGINT) AS n_grams, a.v AS dup_gram_frac, "
        "p.pass AS top_gram_frac "
        "FROM a2j a JOIN a2p p USING (doc_id)"
    )
    return ",\n".join(ctes), select


def oracle_sql() -> dict[str, str]:
    segment_case = " ".join(
        f"when '{seg}' then {code}" for seg, code in SEGMENT_CODES.items()
    )
    ivf_k = _ivf_cells_at_compare_sf()
    _a2_ctes, _a2_select = _a2_oracle_sql()
    d = {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
              AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q5_local_supplier": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name
        """,
        "q6_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q_top_events_window": """
            SELECT user_id, event_id, value, rank FROM (
                SELECT user_id, event_id, value,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY value DESC, event_id ASC
                       ) AS rank
                FROM events
            ) WHERE rank <= 3
        """,
        "q_events_sessionize": """
            WITH flagged AS (
                SELECT user_id, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            )
            SELECT user_id,
                   count(*) FILTER (new_session = 1) AS n_sessions,
                   count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM flagged GROUP BY user_id
        """,
        "q_stream_hourly_counts": """
            SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket,
                   event_type,
                   count(*) AS n,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "rel_pipeline": f"""
            SELECT segment_code, c_nationkey,
                   count(*) AS n_customers,
                   round(sum(bal), 3) AS total_bal,
                   round(avg(name_len), 2) AS avg_name_len
            FROM (
                SELECT case c_mktsegment {segment_case} else 0 end
                           AS segment_code,
                       c_nationkey,
                       c_acctbal * 1.1 AS bal,
                       length(c_name)::BIGINT AS name_len
                FROM customer
                WHERE c_acctbal > 100.0
            )
            GROUP BY segment_code, c_nationkey
        """,
        "rel_join": """
            SELECT s_suppkey, s_name, n_name, r_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
        """,
        "rel_setops": """
            SELECT * FROM (
                SELECT * FROM (
                    SELECT c_nationkey AS nationkey FROM customer
                    INTERSECT
                    SELECT s_nationkey AS nationkey FROM supplier
                )
                EXCEPT
                SELECT n_nationkey AS nationkey FROM nation
                WHERE n_regionkey = 0
            )
            UNION ALL
            SELECT (r_regionkey + 100)::BIGINT AS nationkey FROM region
        """,
        "q_semi_anti_customers": """
            WITH w AS (
                SELECT c_mktsegment, count(*) AS n_with_orders
                FROM customer
                WHERE EXISTS (
                    SELECT 1 FROM orders WHERE o_custkey = c_custkey
                )
                GROUP BY c_mktsegment
            ),
            wo AS (
                SELECT c_mktsegment, count(*) AS n_without_orders
                FROM customer
                WHERE NOT EXISTS (
                    SELECT 1 FROM orders WHERE o_custkey = c_custkey
                )
                GROUP BY c_mktsegment
            )
            SELECT coalesce(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
                   coalesce(n_with_orders, 0) AS n_with_orders,
                   coalesce(n_without_orders, 0) AS n_without_orders
            FROM w FULL JOIN wo ON w.c_mktsegment = wo.c_mktsegment
        """,
        "rel_distinct_page": """
            SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
            ORDER BY c_mktsegment, c_nationkey
            LIMIT 20 OFFSET 5
        """,
        "dedup_semantic": f"""
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       sqrt(list_dot_product(
                           embedding::DOUBLE[], embedding::DOUBLE[]
                       )) AS norm
                FROM embeddings
            ),
            cent AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                       v AS cv, norm AS cnorm
                FROM e WHERE vec_id < {ivf_k}
            ),
            scored AS (
                SELECT vec_id, v, norm, cell, cs,
                       row_number() OVER (
                           PARTITION BY vec_id
                           ORDER BY cs DESC, cell ASC
                       ) AS rn
                FROM (
                    SELECT e.vec_id, e.v, e.norm, cent.cell,
                           list_dot_product(e.v, cent.cv)
                               / (e.norm * cent.cnorm) AS cs
                    FROM e, cent
                )
            ),
            assign AS (
                SELECT vec_id, v, norm, cell, cs AS cent_sim
                FROM scored WHERE rn = 1
            )
            SELECT id_a, id_b, cosine, cent_sim_a, cent_sim_b FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       list_dot_product(a.v, b.v) / (a.norm * b.norm)
                           AS cosine,
                       a.cent_sim AS cent_sim_a, b.cent_sim AS cent_sim_b
                FROM assign a JOIN assign b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
            ) WHERE cosine >= 0.3
        """,
        "rel_from_parquet_path": """
            SELECT * FROM region ORDER BY r_regionkey
        """,
        "rel_left_join_coalesce": """
            SELECT c_custkey,
                   coalesce(round(sum(o_totalprice), 2), 0.0) AS total_spent,
                   count(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        """,
        "q_pivot_events": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click') AS click,
                   count(*) FILTER (event_type = 'error') AS error,
                   count(*) FILTER (event_type = 'purchase') AS purchase,
                   count(*) FILTER (event_type = 'signup') AS signup,
                   count(*) FILTER (event_type = 'view') AS view
            FROM events GROUP BY user_id
        """,
        "q_rollup_orders": """
            SELECT o_orderpriority, o_orderstatus,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        """,
        "validated_lineitem": """
            SELECT l_returnflag,
                   count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "dedup_exact": """
            SELECT 'keys' AS mode, min(doc_id) AS doc_id, lang, source,
                   NULL::BIGINT AS n_chars
            FROM documents GROUP BY lang, source
            UNION ALL
            SELECT 'rows' AS mode, doc_id, lang, source, n_chars::BIGINT
            FROM documents
            QUALIFY row_number() OVER (
                PARTITION BY lang, source ORDER BY doc_id ASC
            ) = 1
        """,
        "dedup_spans": f"""
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ),
            grams AS (
                SELECT doc_id, u.s['pos'] AS pos, u.s['h'] AS h FROM toks,
                UNNEST([{{'pos': i - 1,
                          'h': {_phash_sql("array_to_string(t[i:i+3], ' ')")}}}
                        for i in generate_series(1, len(t) - 3)]) AS u(s)
            ),
            marked AS (
                SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY h) AS cnt,
                       row_number() OVER (
                           PARTITION BY h ORDER BY doc_id, pos
                       ) AS rn
                FROM grams
            ),
            removable AS (
                SELECT doc_id, pos AS s, pos + 3 AS e
                FROM marked WHERE cnt >= 2 AND rn > 1
            ),
            pre AS (
                SELECT doc_id, s, e,
                       max(e) OVER (
                           PARTITION BY doc_id ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ) AS prev_e
                FROM removable
            ),
            islands AS (
                SELECT doc_id, s, e,
                       sum(CASE WHEN prev_e IS NULL OR s > prev_e + 1
                                THEN 1 ELSE 0 END) OVER (
                           PARTITION BY doc_id ORDER BY s
                           ROWS UNBOUNDED PRECEDING
                       ) AS gid
                FROM pre
            )
            SELECT doc_id, min(s) AS span_start, max(e) AS span_end
            FROM islands GROUP BY doc_id, gid
        """,
        "dedup_jaccard_pairs": """
            WITH toks AS (
                SELECT doc_id,
                       list_distinct(string_split(text, ' ')) AS grams
                FROM documents WHERE doc_id < 150
            ),
            -- winnow branch (round 13): full MOSS replay under the
            -- portable md5 gram hash. 5-gram hashes, windows of 4,
            -- rightmost-min selection per window (list_max over the
            -- argmin positions), distinct fingerprints per doc, bucket
            -- guard (>1, <=1000), candidate pairs sharing >=2 guarded
            -- fingerprints, exact shared recount from UNPRUNED sets,
            -- containment = shared / min(|fps|).
            win_toks AS (
                SELECT doc_id, string_split(text, ' ') AS t
                FROM documents
                WHERE doc_id < 2000 AND text IS NOT NULL
            ),
            win_grams AS (
                SELECT doc_id,
                       [('0x' || substring(
                            md5(array_to_string(t[i:i+4], ' ')), 1, 15
                        ))::BIGINT
                        for i in generate_series(1, len(t) - 4)] AS g
                FROM win_toks WHERE len(t) >= 5
            ),
            win_sel AS (
                SELECT doc_id,
                       list_distinct([
                           g[list_max([
                               j for j in generate_series(
                                   s, least(s + 3, len(g)))
                               if g[j] = list_aggregate(
                                   g[s:least(s + 3, len(g))], 'min')
                           ])]
                           for s in generate_series(
                               1, greatest(1, len(g) - 3))
                       ]) AS fps
                FROM win_grams
            ),
            win_fps AS (
                SELECT doc_id, unnest(fps) AS fp FROM win_sel
            ),
            win_eligible AS (
                SELECT fp FROM win_fps GROUP BY fp
                HAVING count(*) > 1 AND count(*) <= 1000
            ),
            win_surv AS (
                SELECT f.doc_id, f.fp
                FROM win_fps f JOIN win_eligible e USING (fp)
            ),
            win_cand AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM win_surv a
                JOIN win_surv b
                  ON a.fp = b.fp AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
                HAVING count(*) >= 2
            ),
            win_exact AS (
                SELECT c.id_a, c.id_b, count(*) AS shared_fps
                FROM win_cand c
                JOIN win_fps fa ON fa.doc_id = c.id_a
                JOIN win_fps fb
                  ON fb.doc_id = c.id_b AND fb.fp = fa.fp
                GROUP BY c.id_a, c.id_b
            ),
            win_sizes AS (
                SELECT doc_id, count(*) AS n_fps
                FROM win_fps GROUP BY doc_id
            )
            SELECT 'jaccard' AS mode, a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.grams, b.grams))::DOUBLE
                   / (len(a.grams) + len(b.grams)
                      - len(list_intersect(a.grams, b.grams))) AS jaccard,
                   NULL::BIGINT AS shared_fps,
                   NULL::DOUBLE AS containment
            FROM toks a JOIN toks b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
                  / (len(a.grams) + len(b.grams)
                     - len(list_intersect(a.grams, b.grams))) >= 0.82
            UNION ALL
            SELECT 'winnow', e.id_a, e.id_b, NULL::DOUBLE,
                   e.shared_fps,
                   e.shared_fps / least(sa.n_fps, sb.n_fps)::DOUBLE
            FROM win_exact e
            JOIN win_sizes sa ON sa.doc_id = e.id_a
            JOIN win_sizes sb ON sb.doc_id = e.id_b
        """,
        "dedup_clusters": """
            WITH RECURSIVE toks AS (
                SELECT doc_id,
                       list_distinct(string_split(text, ' ')) AS grams
                FROM documents WHERE doc_id < 150
            ),
            raw_pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM toks a JOIN toks b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
                      / (len(a.grams) + len(b.grams)
                         - len(list_intersect(a.grams, b.grams))) >= 0.82
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM raw_pairs
                UNION
                SELECT id_b AS src, id_a AS dst FROM raw_pairs
            ),
            reach(src, dst) AS (
                SELECT src, src FROM edges
                UNION
                SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            )
            SELECT src AS doc_id, min(dst) AS component
            FROM reach GROUP BY src
        """,
        "dedup_embedding": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       sqrt(list_dot_product(
                           embedding::DOUBLE[], embedding::DOUBLE[]
                       )) AS norm
                FROM embeddings WHERE vec_id < 500
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   list_dot_product(a.v, b.v) / (a.norm * b.norm) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) / (a.norm * b.norm) >= 0.35
        """,
        # Replays embedding_dedup_pairs_lsh end-to-end: bucket = sign bits
        # of sequential-fold dots against the seed-42 hyperplanes, exact
        # cosine within each bucket.
        "dedup_embedding_lsh": f"""
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       sqrt(list_dot_product(
                           embedding::DOUBLE[], embedding::DOUBLE[]
                       )) AS norm
                FROM embeddings
            ),
            b AS (
                SELECT vec_id, v, norm,
                       {_bucket_sql(
                           'v', n_planes=_lsh_auto_planes_at_compare_sf()
                       )} AS bucket
                FROM e
            )
            SELECT a.vec_id AS id_a, c.vec_id AS id_b,
                   list_dot_product(a.v, c.v) / (a.norm * c.norm) AS cosine
            FROM b a JOIN b c
              ON a.bucket = c.bucket AND a.vec_id < c.vec_id
            WHERE list_dot_product(a.v, c.v) / (a.norm * c.norm) >= 0.35
        """,
        # Replays the FULL MinHash pipeline over portable hashes:
        # shingle hashes -> one-permutation bin-mins (h mod 64) -> band key
        # (bins 4-per-band, '<bin>:<min>' joined in bin order) -> bucket
        # equi-join with the >1 / <=1000 size guard -> exact Jaccard over
        # the shared shingle-hash sets. Spark joins on xxhash64(band key);
        # the oracle joins on the key string itself — identical pairs
        # short of a 64-bit hash collision.
        "dedup_minhash": f"""
            WITH {_minhash_pairs_ctes()}
            SELECT id_a, id_b, jaccard FROM verified
        """,
        # The full composition: verified pairs -> transitive closure ->
        # min-id representatives -> anti-join the drops out.
        "dedup_corpus_minhash": f"""
            WITH RECURSIVE {_minhash_pairs_ctes()},
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM verified
                UNION
                SELECT id_b AS src, id_a AS dst FROM verified
            ),
            reach(src, dst) AS (
                SELECT src, src FROM edges
                UNION
                SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            comp AS (
                SELECT src AS node, min(dst) AS component
                FROM reach GROUP BY src
            ),
            dropped AS (SELECT node FROM comp WHERE node <> component)
            SELECT doc_id, lang, source, n_chars
            FROM documents
            WHERE doc_id NOT IN (SELECT node FROM dropped)
        """,
        # Replays SimHash in portable-hash mode: per-token ±1 bit votes in
        # one grouped aggregate, sign-packed signature, then the
        # Manku-2007 combination-keyed pigeonhole (C(8,4)=70 masked
        # 32-bit keys — recall is EXACT for hamming <= 4, so this also
        # equals the brute-force pair set), bit_count(xor) verify.
        "dedup_simhash": f"""
            WITH tok AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents
            ),
            th AS (SELECT doc_id, {_phash_sql('t')} AS h FROM tok),
            votes AS (
                SELECT doc_id, {_simhash_votes_sql()}
                FROM th GROUP BY doc_id
            ),
            sigs AS (
                SELECT doc_id, ({_simhash_pack_sql()})::BIGINT AS sig
                FROM votes
            ),
            chunked AS (
                SELECT doc_id, sig, m.mask, sig & m.mask AS key
                FROM sigs, (SELECT unnest([{_simhash_masks_sql()}])
                            AS mask) m
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                       a.sig AS sig_a, b.sig AS sig_b
                FROM chunked a JOIN chunked b
                  ON a.mask = b.mask
                 AND a.key = b.key
                 AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b,
                   bit_count(xor(sig_a, sig_b))::BIGINT AS hamming
            FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 4
        """,
        # Replays ann_lsh_topk: 6-plane buckets on corpus AND queries;
        # multi-probe(1) = the query also probes every bucket one bit-flip
        # away, i.e. candidates are buckets within Hamming distance 1.
        "ann_lsh": f"""
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       sqrt(list_dot_product(
                           embedding::DOUBLE[], embedding::DOUBLE[]
                       )) AS norm
                FROM embeddings
            ),
            b AS (
                SELECT vec_id, v, norm,
                       {_bucket_sql('v', n_planes=6)} AS bucket
                FROM e
            )
            SELECT query_id, neighbor_id, cosine, rank FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_dot_product(q.v, c.v) / (q.norm * c.norm)
                           AS cosine,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.v, c.v)
                                    / (q.norm * c.norm) DESC,
                                    c.vec_id ASC
                       ) AS rank
                FROM b q JOIN b c
                  ON bit_count(xor(q.bucket, c.bucket)) <= 1
                WHERE q.vec_id < 8
            ) WHERE rank <= 10
        """,
        # Replays ann_ivf with the deterministic quantizer: centroids
        # are the first auto_n_centroids(n) corpus points (cell = id
        # rank, count derived from the benchmarked SF's embeddings
        # footer), cosine assignment with (score desc, cell asc) ties,
        # 3-probe search, exact ranking in the probed cells.
        "ann_ivf": f"""
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       sqrt(list_dot_product(
                           embedding::DOUBLE[], embedding::DOUBLE[]
                       )) AS norm
                FROM embeddings
            ),
            cent AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                       v AS cv, norm AS cnorm
                FROM e WHERE vec_id < {ivf_k}
            ),
            scored AS (
                SELECT vec_id, v, norm, cell, cs,
                       row_number() OVER (
                           PARTITION BY vec_id
                           ORDER BY cs DESC, cell ASC
                       ) AS rn
                FROM (
                    SELECT e.vec_id, e.v, e.norm, cent.cell,
                           list_dot_product(e.v, cent.cv)
                               / (e.norm * cent.cnorm) AS cs
                    FROM e, cent
                )
            ),
            assign AS (
                SELECT vec_id, v, norm, cell FROM scored WHERE rn = 1
            ),
            probes AS (
                SELECT vec_id AS query_id, v AS qv, norm AS qnorm, cell
                FROM scored WHERE vec_id < 8 AND rn <= 3
            )
            SELECT query_id, neighbor_id, cosine, rank FROM (
                SELECT p.query_id, a.vec_id AS neighbor_id,
                       list_dot_product(p.qv, a.v) / (p.qnorm * a.norm)
                           AS cosine,
                       row_number() OVER (
                           PARTITION BY p.query_id
                           ORDER BY list_dot_product(p.qv, a.v)
                                    / (p.qnorm * a.norm) DESC,
                                    a.vec_id ASC
                       ) AS rank
                FROM probes p JOIN assign a ON p.cell = a.cell
            ) WHERE rank <= 10
        """,
        # Recomputes every row's split membership from the portable hash
        # fraction (md5 of '<doc_id>:42' mod 1e6 over 1e6) — totals AND
        # boundary behavior are value-checked, not just disjointness.
        "sample_split_documents": f"""
            WITH f AS (
                SELECT doc_id, {_split_frac_sql()} AS frac,
                       {_phash_sql("(doc_id)::VARCHAR || ':42'")} AS h
                FROM documents
            )
            SELECT 'split' AS mode,
                   CASE WHEN frac >= 0.2 THEN 'train' ELSE 'test' END
                       AS split,
                   count(*) AS n, NULL::BIGINT AS doc_id
            FROM f GROUP BY 2
            UNION ALL
            SELECT 'exact_n', NULL::VARCHAR, NULL::BIGINT, doc_id
            FROM (SELECT doc_id FROM f ORDER BY h, doc_id LIMIT 25)
            UNION ALL
            SELECT 'weighted', NULL::VARCHAR, NULL::BIGINT, doc_id
            FROM f
            WHERE (doc_id % 10) / 10.0 > 0
              AND frac < least((doc_id % 10) / 10.0, 1.0)
        """,
        "ann_topk": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       sqrt(list_dot_product(
                           embedding::DOUBLE[], embedding::DOUBLE[]
                       )) AS norm
                FROM embeddings
            )
            SELECT query_id, neighbor_id, cosine, rank
            FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_dot_product(q.v, c.v) / (q.norm * c.norm)
                           AS cosine,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.v, c.v)
                                    / (q.norm * c.norm) DESC,
                                    c.vec_id ASC
                       ) AS rank
                FROM e q, e c
                WHERE q.vec_id < 8
            ) WHERE rank <= 10
        """,
        "q_asof_bidirectional": """
            WITH purchases AS (
                SELECT user_id, epoch_ns(ts) // 1000 AS ts, event_id, value
                FROM events WHERE event_type = 'purchase'
            ),
            clicks AS (
                SELECT user_id, epoch_ns(ts) // 1000 AS ts,
                       event_id AS click_id, value AS click_value
                FROM events WHERE event_type = 'click'
                QUALIFY row_number() OVER (
                    PARTITION BY user_id, epoch_ns(ts) // 1000
                    ORDER BY event_id DESC
                ) = 1
            ),
            back AS (
                SELECT p.user_id, p.ts, p.event_id, p.value,
                       c.click_id AS prev_click_id,
                       c.click_value AS prev_click_value,
                       c.ts AS prev_ts
                FROM purchases p ASOF LEFT JOIN clicks c
                  ON p.user_id = c.user_id AND p.ts >= c.ts
            ),
            fwd AS (
                SELECT p.user_id, p.ts, p.event_id,
                       c.click_id AS next_click_id, c.ts AS next_ts
                FROM purchases p ASOF LEFT JOIN clicks c
                  ON p.user_id = c.user_id AND p.ts <= c.ts
            )
            SELECT b.user_id, b.ts, b.event_id, b.value,
                   b.prev_click_id, b.prev_click_value, b.prev_ts,
                   f.next_click_id, f.next_ts
            FROM back b JOIN fwd f
              ON b.user_id = f.user_id AND b.ts = f.ts
             AND b.event_id = f.event_id
        """,
        "q_range_join_orders": """
            SELECT l_orderkey, l_linenumber,
                   epoch(l_shipdate)::BIGINT AS p, o_orderkey
            FROM (SELECT l_orderkey, l_linenumber, l_shipdate
                  FROM lineitem WHERE l_orderkey < 500) l
            JOIN (SELECT o_orderkey,
                         epoch(o_orderdate)::BIGINT AS s,
                         epoch(o_orderdate)::BIGINT + 30 * 86400 AS e
                  FROM orders WHERE o_orderkey < 100) o
              ON epoch(l.l_shipdate)::BIGINT >= o.s
             AND epoch(l.l_shipdate)::BIGINT < o.e
        """,
        "q_cdc_user_state": """
            SELECT user_id, ts, event_id, value, event_type FROM (
                SELECT user_id, epoch_ns(ts) // 1000 AS ts, event_id,
                       value, event_type,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC
                       ) AS rn
                FROM events
            ) WHERE rn = 1 AND event_type <> 'error'
        """,
        "multimodal_image_features": """
            SELECT doc_id, sha256(text) AS sha256,
                   strlen(text)::BIGINT AS n_bytes
            FROM documents
        """,
        # Union-tagged: stratified keep/drop replay + the cap_per_group
        # kept set (exact row_number over the same portable tie hash).
        "sample_stratified_docs": f"""
            WITH f AS (
                SELECT doc_id, lang, {_split_frac_sql()} AS frac
                FROM documents
            )
            SELECT 'stratified' AS part, doc_id, lang FROM f
            WHERE frac < CASE lang {' '.join(
                f"WHEN '{lang}' THEN {frac}"
                for lang, frac in STRATA_FRACTIONS.items()
            )} ELSE 0.0 END
            UNION ALL
            SELECT 'domain_cap' AS part, doc_id, lang FROM (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY {_phash_sql(
                               "doc_id::VARCHAR || ':42'")}
                       ) AS rn
                FROM documents
            ) WHERE rn <= {DOMAIN_CAP_MAX_ROWS}
        """,
        "q_stream_cdc_state": """
            SELECT user_id, ts, event_id, value, event_type,
                   (event_type = 'error') AS is_deleted
            FROM (
                SELECT user_id, epoch_ns(ts) // 1000 AS ts, event_id,
                       value, event_type,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY epoch_ns(ts) DESC
                       ) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "q_rollup_multires": f"""
            SELECT {HOUR_US} AS resolution,
                   (epoch_ns(ts) // 1000 // {HOUR_US}) * {HOUR_US}
                       AS bucket_start,
                   event_type, count(value) AS n,
                   round(sum(value), 2) AS total
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT {DAY_US},
                   (epoch_ns(ts) // 1000 // {DAY_US}) * {DAY_US},
                   event_type, count(value), round(sum(value), 2)
            FROM events GROUP BY 2, 3
        """,
        "q_hourly_gapfill": f"""
            WITH hourly AS (
                SELECT (epoch_ns(ts) // 1000 // {HOUR_US}) * {HOUR_US}
                           AS bucket,
                       event_type, count(*) AS n
                FROM events GROUP BY 1, 2
            ),
            bounds AS (
                SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
                FROM hourly GROUP BY 1
            ),
            axis AS (
                SELECT event_type,
                       unnest(range(lo, hi + 1, {HOUR_US})) AS bucket
                FROM bounds
            )
            SELECT a.event_type, a.bucket, coalesce(h.n, 0) AS n
            FROM axis a LEFT JOIN hourly h USING (event_type, bucket)
        """,
        "q_kmv_distinct_users": f"""
            WITH h AS (
                SELECT DISTINCT event_type,
                       {_phash_sql('user_id::VARCHAR')} AS h
                FROM events
            ),
            kept AS (
                SELECT event_type, h,
                       row_number() OVER (
                           PARTITION BY event_type ORDER BY h ASC
                       ) AS rn
                FROM h
            )
            SELECT event_type, count(*) AS n_kept,
                   max(h)::DOUBLE AS kth_hash,
                   CASE WHEN count(*) < 32 THEN count(*)::DOUBLE
                        ELSE 31.0 * {float(1 << 60)!r} / max(h)::DOUBLE
                   END AS distinct_est
            FROM kept WHERE rn <= 32 GROUP BY event_type
        """,
        "text_repetition": f"""
            WITH grams AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i + 1])) AS gram
                FROM (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents)
                WHERE len(t) >= 2
            ),
            per_gram AS (
                SELECT doc_id, gram, count(*) AS n
                FROM grams GROUP BY doc_id, gram
            ),
            {_a2_ctes}
            SELECT 'bigram' AS mode, doc_id,
                   sum(n)::BIGINT AS n_grams,
                   1.0 - count(*)::DOUBLE / sum(n)::DOUBLE AS dup_gram_frac,
                   max(n)::DOUBLE / sum(n)::DOUBLE AS top_gram_frac
            FROM per_gram GROUP BY doc_id
            UNION ALL
            {_a2_select}
        """,
        "text_redact": f"""
            WITH injected AS (
                SELECT doc_id,
                       text || ' contact user' || doc_id
                            || '@example.com ip 10.0.0.' || (doc_id % 255)
                            || ' call +1-555-123-4567' AS text
                FROM documents
            )
            SELECT doc_id, {_redact_sql('text')} AS redacted
            FROM injected
        """,
        "contamination_check": f"""
            WITH cg AS ({_shingle_sql(5, '(SELECT doc_id, text FROM documents WHERE doc_id >= 20)')}),
            bg AS (
                SELECT DISTINCT h
                FROM ({_shingle_sql(5, '(SELECT doc_id, text FROM documents WHERE doc_id < 20)')})
            )
            SELECT cg.doc_id, count(DISTINCT cg.h) AS n_shared_grams
            FROM cg JOIN bg ON cg.h = bg.h
            GROUP BY cg.doc_id
            HAVING count(DISTINCT cg.h) >= 1
        """,
        "text_token_counts": f"""
            WITH tok_toks AS (
                SELECT doc_id, string_split(text, ' ') AS t
                FROM documents
            ),
            -- GPT-2 pretokens of this corpus (space-separated simple
            -- words): the document-initial word stays bare, every
            -- later word carries its leading space
            tok_pos AS (
                SELECT doc_id, u.i,
                       CASE WHEN u.i = 1 THEN t[u.i]
                            ELSE ' ' || t[u.i] END AS w
                FROM tok_toks,
                UNNEST(generate_series(1, len(t))) AS u(i)
            ),
            tok_seg AS (
                SELECT * FROM (VALUES
                {_tok_seg_values_sql()}
                ) s(mode, w, ids)
            ),
            tok_enc AS (
                SELECT s.mode, p.doc_id,
                       string_agg(s.ids, ' ' ORDER BY p.i) AS token_ids
                FROM tok_pos p JOIN tok_seg s ON s.w = p.w
                GROUP BY s.mode, p.doc_id
            )
            SELECT 'counts' AS mode, doc_id,
                   len(string_split(text, ' '))::BIGINT AS n_tokens,
                   (len(regexp_extract_all(text, '[A-Za-z0-9_]+'))
                    + len(regexp_extract_all(text, '[^A-Za-z0-9_ ]'))
                   )::BIGINT AS n_bpe_tokens,
                   n_chars::BIGINT AS n_chars,
                   NULL::VARCHAR AS token_ids
            FROM documents
            UNION ALL
            SELECT mode, doc_id, NULL::BIGINT, NULL::BIGINT,
                   NULL::BIGINT, token_ids
            FROM tok_enc
        """,
        # Replays chunk_documents(max_tokens=32, overlap=8): starts are
        # 0, 24, 48, ... capped so every chunk past the first adds at
        # least one novel token (start + overlap < n); each chunk is a
        # 1-based inclusive list slice of the whitespace split.
        "doc_chunks": """
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS t,
                       len(string_split(text, ' ')) AS n
                FROM documents
            ),
            starts AS (
                SELECT doc_id, t, n,
                       unnest(range(0, greatest(n - 1 - 8, 0) + 1, 24))
                           AS s
                FROM toks
            )
            SELECT doc_id,
                   (s // 24)::BIGINT AS chunk_id,
                   array_to_string(t[s + 1 : s + 32], ' ') AS chunk_text,
                   len(t[s + 1 : s + 32])::BIGINT AS n_tokens
            FROM starts
        """,
        # Exactly-replayable dataset-card columns: counts, long sums, and
        # an average whose double accumulation is exact (integer-valued
        # terms). The approx-percentile sketches are pinned in unit tests
        # instead — sketch output is implementation-defined by design.
        "corpus_stats_by_lang": """
            SELECT lang,
                   count(*) AS n_docs,
                   sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
                   round(sum(len(string_split(text, ' ')))::DOUBLE
                         / count(*), 2) AS avg_tokens
            FROM documents
            GROUP BY lang
        """,
        "text_profile": f"""
            WITH feats AS (
                SELECT doc_id,
                       len(string_split(text, ' '))::DOUBLE AS n,
                       list_sum(list_transform(
                           string_split(text, ' '), x -> length(x)
                       ))::DOUBLE AS total_len,
                       length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))::DOUBLE
                           / length(text)::DOUBLE AS punct
                FROM documents
            ),
            q AS (
                SELECT doc_id,
                       least(n / 100.0, 1.0) * 0.5
                       + (1.0 - least(abs(total_len / n - 5.0) / 5.0, 1.0)) * 0.5
                       - least(punct * 4.0, 1.0) * 0.25 AS quality
                FROM feats
            ),
            scores AS (
                SELECT doc_id, {_lang_scores_sql()}
                FROM documents
            ),
            l AS (
                SELECT doc_id,
                       CASE
                           WHEN s_en >= s_de AND s_en >= s_fr
                                AND s_en >= s_es AND s_en >= s_zh THEN 'en'
                           WHEN s_de >= s_fr AND s_de >= s_es
                                AND s_de >= s_zh THEN 'de'
                           WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
                           WHEN s_es >= s_zh THEN 'es'
                           ELSE 'zh'
                       END AS lang_pred
                FROM scores
            )
            ,
            -- Gopher (Rae et al. 2021) + C4 (Raffel et al. 2020) rule
            -- replays (round 12): counts via regexp_extract_all where
            -- Spark uses regexp_count, list_distinct+list_intersect for
            -- Spark's set-semantics array_intersect.
            r AS (
                SELECT doc_id,
                       len(string_split(text, ' ')) AS nw,
                       len(string_split(text, chr(10))) AS nl,
                       length(replace(text, ' ', ''))::DOUBLE
                           / len(string_split(text, ' ')) AS mwl,
                       (length(text) - length(replace(text, '#', '')))
                       + len(regexp_extract_all(text, '\\.\\.\\.'))
                           AS nsym,
                       len(regexp_extract_all(text,
                           '(?m)^[ \\t]*(?:[-*•]|\\d+[.)])[ \\t]'))
                           AS bullets,
                       len(regexp_extract_all(text,
                           '(?m)(?:\\.\\.\\.|…)[ \\t]*$')) AS ellip,
                       len(regexp_extract_all(text,
                           '(?:^| )[^ ]*[A-Za-z]')) AS alphaw,
                       len(list_distinct(list_intersect(
                           string_split(text, ' '),
                           ['the','be','to','of','and','that','have','with']
                       ))) AS stop_hits,
                       len(regexp_extract_all(text,
                           '(?m)[.!?"][ \\t]*$')) AS termlines,
                       len(regexp_extract_all(text, '[.!?]')) AS sents,
                       contains(lower(text), 'lorem ipsum') AS has_lorem,
                       contains(text, '{{') AS has_brace
                FROM documents
            ),
            rules AS (
                SELECT doc_id,
                       (nw >= 50 AND nw <= 100000) AS rule_word_count,
                       (nw > 0 AND mwl >= 3.0 AND mwl <= 10.0)
                           AS rule_mean_word_len,
                       (nw > 0 AND nsym::DOUBLE / nw <= 0.1)
                           AS rule_symbol_ratio,
                       (nl > 0 AND bullets::DOUBLE / nl <= 0.9)
                           AS rule_bullet_lines,
                       (nl > 0 AND ellip::DOUBLE / nl <= 0.3)
                           AS rule_ellipsis_lines,
                       (nw > 0 AND alphaw::DOUBLE / nw >= 0.8)
                           AS rule_alpha_words,
                       (stop_hits >= 2) AS rule_stop_words,
                       CASE WHEN nl > 0
                            THEN termlines::DOUBLE / nl ELSE 0.0 END
                           AS frac_terminal_punct,
                       (nl > 0 AND termlines = nl) AS rule_terminal_punct,
                       (sents >= 3) AS rule_min_sentences,
                       NOT has_lorem AS rule_no_lorem,
                       NOT has_brace AS rule_no_brace
                FROM r
            )
            SELECT d.doc_id, q.quality, md5(lower(d.text)) AS fp,
                   l.lang_pred,
                   ru.rule_word_count, ru.rule_mean_word_len,
                   ru.rule_symbol_ratio, ru.rule_bullet_lines,
                   ru.rule_ellipsis_lines, ru.rule_alpha_words,
                   ru.rule_stop_words,
                   (ru.rule_word_count AND ru.rule_mean_word_len
                    AND ru.rule_symbol_ratio AND ru.rule_bullet_lines
                    AND ru.rule_ellipsis_lines AND ru.rule_alpha_words
                    AND ru.rule_stop_words) AS pass_gopher,
                   ru.frac_terminal_punct, ru.rule_min_sentences,
                   ru.rule_no_lorem, ru.rule_no_brace,
                   (ru.rule_terminal_punct AND ru.rule_min_sentences
                    AND ru.rule_no_lorem AND ru.rule_no_brace
                    AND NOT contains(lower(d.text), 'javascript'))
                       AS pass_c4
            FROM documents d
            JOIN q USING (doc_id)
            JOIN l USING (doc_id)
            JOIN rules ru USING (doc_id)
        """,
        # Replays build_vocab(top_n=500): two-stage (token, doc) → token
        # aggregate, deterministic top-N tie-break (count desc, token asc).
        "text_vocab": """
            WITH pairs AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents
            ),
            per_doc AS (
                SELECT token, doc_id, count(*) AS n
                FROM pairs GROUP BY token, doc_id
            ),
            vocab AS (
                SELECT token, sum(n)::BIGINT AS count,
                       count(*) AS doc_freq
                FROM per_doc GROUP BY token
            )
            SELECT token, count, doc_freq,
                   row_number() OVER (
                       ORDER BY count DESC, token ASC
                   ) AS rank
            FROM vocab
            ORDER BY count DESC, token ASC
            LIMIT 500
        """,
        # Replays tf_idf: tf = within-doc count / doc token count (exact
        # IEEE division, hash-exact), idf = ln((N+1)/(doc_freq+1)) + 1
        # (smoothed, scikit-learn convention). ln() differs by ~1 ulp
        # across engines, so idf/tf_idf compare at 6 dp — mirroring the
        # rounding in the Spark entry.
        "text_tfidf": """
            WITH pairs AS (
                SELECT doc_id,
                       len(string_split(text, ' ')) AS total,
                       unnest(string_split(text, ' ')) AS token
                FROM documents
            ),
            counts AS (
                SELECT doc_id, token, total, count(*) AS n
                FROM pairs GROUP BY doc_id, token, total
            ),
            vocab AS (
                SELECT token, count(DISTINCT doc_id) AS doc_freq
                FROM pairs GROUP BY token
            ),
            n_docs AS (SELECT count(*)::DOUBLE AS nd FROM documents),
            -- BM25 branch: every ~997th doc's first three tokens as the
            -- query batch; Lucene IDF ln(1 + (N - df + .5)/(df + .5));
            -- rank over the ROUNDED score with doc_id tie-break.
            qterms AS (
                SELECT DISTINCT doc_id AS query_id,
                       unnest(string_split(text, ' ')[1:3]) AS token
                FROM documents WHERE doc_id % 997 = 0
            ),
            -- posting-bearing docs only (the build_bm25_index
            -- convention, now shared by bm25_scores): null-text docs
            -- carry no postings and are excluded from N and avgdl
            stats AS (
                SELECT count(*)::DOUBLE AS nd,
                       avg(len(string_split(text, ' '))) AS avgdl
                FROM documents WHERE text IS NOT NULL
            ),
            dfreq AS (
                SELECT token, count(*) AS df
                FROM counts
                WHERE token IN (SELECT token FROM qterms)
                GROUP BY token
            ),
            bm25 AS (
                SELECT q.query_id, c.doc_id,
                       round(sum(
                           ln(1 + (s.nd - f.df + 0.5) / (f.df + 0.5))
                           * c.n * 2.2
                           / (c.n + 1.2 * (1 - 0.75
                                           + 0.75 * c.total / s.avgdl))
                       ), 4) AS score_r
                FROM counts c
                JOIN qterms q USING (token)
                JOIN dfreq f USING (token)
                CROSS JOIN stats s
                GROUP BY q.query_id, c.doc_id
            ),
            bm25_ranked AS (
                SELECT query_id, doc_id, score_r,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY score_r DESC, doc_id ASC
                       ) AS rank
                FROM bm25
            )
            SELECT 'tfidf' AS mode, c.doc_id, c.token,
                   c.n / c.total AS tf,
                   round(ln((nd + 1.0) / (v.doc_freq + 1.0)) + 1.0, 6)
                       AS idf_r,
                   round((c.n / c.total)
                         * (ln((nd + 1.0) / (v.doc_freq + 1.0)) + 1.0), 6)
                       AS tf_idf_r,
                   NULL::BIGINT AS query_id,
                   NULL::DOUBLE AS score_r,
                   NULL::BIGINT AS rank
            FROM counts c
            JOIN vocab v USING (token)
            CROSS JOIN n_docs
            UNION ALL
            SELECT 'bm25', doc_id, NULL, NULL, NULL, NULL,
                   query_id, score_r, rank
            FROM bm25_ranked WHERE rank <= 20
        """,
        # Replays unigram_logloss (self-LM, add-1 smoothing):
        # p(t) = (count(t) + 1) / (total + V + 1), per-doc mean NLL and
        # exp() of it — PLUS dsir_weights toward the deterministic
        # target subset doc_id % 17 == 0: a second add-1 LM from the
        # subset (unseen tokens fall to the count=0 floor, hence the
        # LEFT JOIN + coalesce), log_ratio = avg raw NLL − avg target
        # NLL, weight = exp(log_ratio). Summation order differs across
        # engines at ~1e-12 relative, so scores compare at 4 dp.
        "text_unigram_ppl": """
            WITH pairs AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents
            ),
            lm AS (
                SELECT token, count(*)::BIGINT AS count
                FROM pairs GROUP BY token
            ),
            tot AS (
                SELECT sum(count)::DOUBLE AS total,
                       count(*)::BIGINT AS v
                FROM lm
            ),
            t_lm AS (
                SELECT token, count(*)::BIGINT AS count
                FROM pairs WHERE doc_id % 17 = 0 GROUP BY token
            ),
            t_tot AS (
                SELECT sum(count)::DOUBLE AS total,
                       count(*)::BIGINT AS v
                FROM t_lm
            ),
            nll AS (
                SELECT p.doc_id,
                       -ln((lm.count + 1.0)
                           / (tot.total + 1.0 * (tot.v + 1))) AS nll_raw,
                       -ln((coalesce(t_lm.count, 0) + 1.0)
                           / (t_tot.total + 1.0 * (t_tot.v + 1))) AS nll_t
                FROM pairs p
                JOIN lm USING (token)
                LEFT JOIN t_lm USING (token)
                CROSS JOIN tot
                CROSS JOIN t_tot
            ),
            uni_scores AS (
                SELECT doc_id, count(*) AS n_tokens,
                       avg(nll_raw) AS h_raw,
                       avg(nll_raw) - avg(nll_t) AS lr
                FROM nll GROUP BY doc_id
            ),
            -- bigram stupid backoff replay: pair LM from adjacent
            -- tokens, p = cnt(w1,w2)/cnt(w1) when the pair is in the
            -- LM, else 0.4 * add-1 unigram; document-initial token
            -- scores the unigram alone (w_prev IS NULL).
            toks AS (
                SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ),
            bpairs AS (
                SELECT doc_id, u.s['w1'] AS w1, u.s['w2'] AS w2
                FROM toks,
                UNNEST([{'w1': t[i], 'w2': t[i + 1]}
                        for i in generate_series(1, len(t) - 1)]) AS u(s)
            ),
            bi_lm AS (
                SELECT w1, w2, count(*)::BIGINT AS cnt
                FROM bpairs GROUP BY w1, w2
            ),
            pos AS (
                SELECT doc_id, NULL AS w_prev, t[1] AS w FROM toks
                UNION ALL
                SELECT doc_id, w1 AS w_prev, w2 AS w FROM bpairs
            ),
            bi_nll AS (
                SELECT p.doc_id,
                       CASE
                         WHEN bi.cnt IS NOT NULL
                              AND prev.count IS NOT NULL
                           THEN -ln(bi.cnt / prev.count::DOUBLE)
                         WHEN p.w_prev IS NOT NULL
                           THEN -ln(0.4 * (coalesce(cur.count, 0) + 1.0)
                                    / (tot.total + 1.0 * (tot.v + 1)))
                         ELSE -ln((coalesce(cur.count, 0) + 1.0)
                                  / (tot.total + 1.0 * (tot.v + 1)))
                       END AS nll
                FROM pos p
                LEFT JOIN bi_lm bi
                  ON p.w_prev = bi.w1 AND p.w = bi.w2
                LEFT JOIN lm cur ON p.w = cur.token
                LEFT JOIN lm prev ON p.w_prev = prev.token
                CROSS JOIN tot
            ),
            bi_scores AS (
                SELECT doc_id,
                       round(avg(nll), 4) AS bigram_ce_r,
                       round(exp(avg(nll)), 4) AS bigram_ppl_r
                FROM bi_nll GROUP BY doc_id
            ),
            -- interpolated Kneser-Ney replay (round 12): discount 0.75,
            -- continuation distribution over distinct-bigram types with
            -- the add-1 floor; doc-initial / unseen history -> p_cont.
            kn_hist AS (
                SELECT w1, sum(cnt)::DOUBLE AS c_prev,
                       count(*)::DOUBLE AS n1p_prev
                FROM bi_lm GROUP BY w1
            ),
            kn_cont AS (
                SELECT w2, count(*)::DOUBLE AS n1p_cont
                FROM bi_lm GROUP BY w2
            ),
            kn_b AS (SELECT count(*)::DOUBLE AS b FROM bi_lm),
            kn_nll AS (
                SELECT p.doc_id,
                       CASE WHEN p.w_prev IS NOT NULL
                                 AND h.c_prev IS NOT NULL
                         THEN -ln(greatest(coalesce(bi.cnt, 0) - 0.75, 0)
                                      / h.c_prev
                                  + 0.75 * h.n1p_prev / h.c_prev
                                    * ((coalesce(c.n1p_cont, 0) + 1.0)
                                       / (kb.b + 1.0 * (tot.v + 1))))
                         ELSE -ln((coalesce(c.n1p_cont, 0) + 1.0)
                                  / (kb.b + 1.0 * (tot.v + 1)))
                       END AS nll
                FROM pos p
                LEFT JOIN bi_lm bi ON p.w_prev = bi.w1 AND p.w = bi.w2
                LEFT JOIN kn_hist h ON p.w_prev = h.w1
                LEFT JOIN kn_cont c ON p.w = c.w2
                CROSS JOIN kn_b kb
                CROSS JOIN tot
            ),
            kn_scores AS (
                SELECT doc_id,
                       round(avg(nll), 4) AS kn_ce_r,
                       round(exp(avg(nll)), 4) AS kn_ppl_r
                FROM kn_nll GROUP BY doc_id
            ),
            -- order-3 stupid backoff replay (round 13): trigram LM from
            -- (p2, p1, w) positions, context counts reuse bi_lm;
            -- p = c(p2,p1,w)/c(p2,p1) when the trigram is in the LM,
            -- else 0.4 * the bigram score (itself backing off to
            -- 0.4 * add-1 unigram); first/second tokens fall through
            -- the null history slots naturally.
            tpos AS (
                SELECT doc_id,
                       CASE WHEN u.i >= 3 THEN t[u.i - 2] END AS p2,
                       CASE WHEN u.i >= 2 THEN t[u.i - 1] END AS p1,
                       t[u.i] AS w
                FROM toks,
                UNNEST(generate_series(1, len(t))) AS u(i)
            ),
            tri_lm AS (
                SELECT p2, p1, w, count(*)::BIGINT AS cnt
                FROM tpos WHERE p2 IS NOT NULL GROUP BY p2, p1, w
            ),
            tri_nll AS (
                SELECT p.doc_id,
                       CASE
                         WHEN tl.cnt IS NOT NULL AND cx.cnt IS NOT NULL
                           THEN -ln(tl.cnt / cx.cnt::DOUBLE)
                         WHEN p.p2 IS NOT NULL
                           THEN -ln(0.4 * (CASE
                             WHEN bi.cnt IS NOT NULL
                                  AND prev.count IS NOT NULL
                               THEN bi.cnt / prev.count::DOUBLE
                             WHEN p.p1 IS NOT NULL
                               THEN 0.4 * (coalesce(cur.count, 0) + 1.0)
                                    / (tot.total + 1.0 * (tot.v + 1))
                             ELSE (coalesce(cur.count, 0) + 1.0)
                                  / (tot.total + 1.0 * (tot.v + 1))
                           END))
                         ELSE -ln(CASE
                             WHEN bi.cnt IS NOT NULL
                                  AND prev.count IS NOT NULL
                               THEN bi.cnt / prev.count::DOUBLE
                             WHEN p.p1 IS NOT NULL
                               THEN 0.4 * (coalesce(cur.count, 0) + 1.0)
                                    / (tot.total + 1.0 * (tot.v + 1))
                             ELSE (coalesce(cur.count, 0) + 1.0)
                                  / (tot.total + 1.0 * (tot.v + 1))
                           END)
                       END AS nll
                FROM tpos p
                LEFT JOIN tri_lm tl
                  ON p.p2 = tl.p2 AND p.p1 = tl.p1 AND p.w = tl.w
                LEFT JOIN bi_lm cx ON p.p2 = cx.w1 AND p.p1 = cx.w2
                LEFT JOIN bi_lm bi ON p.p1 = bi.w1 AND p.w = bi.w2
                LEFT JOIN lm cur ON p.w = cur.token
                LEFT JOIN lm prev ON p.p1 = prev.token
                CROSS JOIN tot
            ),
            tri_scores AS (
                SELECT doc_id,
                       round(avg(nll), 4) AS trigram_ce_r,
                       round(exp(avg(nll)), 4) AS trigram_ppl_r
                FROM tri_nll GROUP BY doc_id
            )
        """ + f"""
            -- pretrained-.arpa replay (round 14): rebuild the
            -- deterministic artifact (_arpa_lm_for — distinct
            -- '<s>'-prefixed 1/2/3-grams of the doc_id%23 subcorpus,
            -- portable-md5 pseudo log-probs, <unk> at -3.5), then the
            -- full Katz longest-match cascade: logp_k plus the backoff
            -- of every skipped longer context, natural-log CE per doc.
            ,
            arpa_sub AS (
                SELECT string_split('<s> ' || text, ' ') AS t
                FROM documents WHERE doc_id % 23 = 0
            ),
            arpa_v1 AS (
                SELECT DISTINCT unnest(t) AS gram FROM arpa_sub
            ),
            arpa_g1 AS (
                SELECT gram,
                       -1.0 - ({_phash_sql("gram")} % 1000) / 1000.0
                           AS logp,
                       -({_phash_sql("gram")} % 500) / 1000.0 AS bo
                FROM arpa_v1 WHERE gram != '<unk>'
                UNION ALL SELECT '<unk>', -3.5, NULL::DOUBLE
            ),
            arpa_v2 AS (
                SELECT DISTINCT t[u.i] || ' ' || t[u.i + 1] AS gram
                FROM arpa_sub,
                UNNEST(generate_series(1, len(t) - 1)) AS u(i)
            ),
            arpa_g2 AS (
                SELECT gram,
                       -1.0 - ({_phash_sql("gram")} % 1000) / 1000.0
                           AS logp,
                       -({_phash_sql("gram")} % 500) / 1000.0 AS bo
                FROM arpa_v2
            ),
            arpa_v3 AS (
                SELECT DISTINCT
                       t[u.i] || ' ' || t[u.i + 1] || ' ' || t[u.i + 2]
                           AS gram
                FROM arpa_sub,
                UNNEST(generate_series(1, len(t) - 2)) AS u(i)
            ),
            arpa_g3 AS (
                SELECT gram,
                       -1.0 - ({_phash_sql("gram")} % 1000) / 1000.0
                           AS logp
                FROM arpa_v3
            ),
            arpa_toks AS (
                SELECT doc_id, string_split('<s> ' || text, ' ') AS t
                FROM documents
            ),
            arpa_pos AS MATERIALIZED (
                SELECT doc_id,
                       CASE WHEN u.i >= 3 THEN t[u.i - 2] END AS h2,
                       t[u.i - 1] AS h1,
                       t[u.i] AS w
                FROM arpa_toks,
                UNNEST(generate_series(2, len(t))) AS u(i)
            ),
            -- score DISTINCT (h2, h1, w) tuples, then join back — the
            -- operator's own corpus-scale fallback shape, and the
            -- honest DuckDB formulation: scoring every position pushed
            -- the 5-way lookup join into the full-query join graph,
            -- where the optimizer picked a catastrophic order (366 s
            -- at sf1 vs 15 s for this shape; MATERIALIZED isolates the
            -- lookup subgraph)
            arpa_tuples AS MATERIALIZED (
                SELECT DISTINCT h2, h1, w FROM arpa_pos
            ),
            arpa_tuple_nll AS MATERIALIZED (
                SELECT tu.h2, tu.h1, tu.w,
                       -(CASE
                           WHEN g3.logp IS NOT NULL THEN g3.logp
                           WHEN g2.logp IS NOT NULL
                             THEN g2.logp + coalesce(c2.bo, 0)
                           WHEN g1.logp IS NOT NULL
                             THEN g1.logp + coalesce(c2.bo, 0)
                                  + coalesce(c1.bo, 0)
                           ELSE -3.5 + coalesce(c2.bo, 0)
                                + coalesce(c1.bo, 0)
                         END) * ln(10) AS nll
                FROM arpa_tuples tu
                -- the arity guard lives INSIDE the key expression
                -- (NULL key never matches), not as an extra join
                -- conjunct: 'h2 IS NOT NULL AND expr = gram' reads as
                -- a non-equi condition and planned as a blockwise NL
                -- join (38.7 s at sf1 for 38k x 250k rows); the CASE
                -- form is a plain hash join
                LEFT JOIN arpa_g3 g3
                  ON g3.gram = (CASE WHEN tu.h2 IS NOT NULL
                       THEN tu.h2 || ' ' || tu.h1 || ' ' || tu.w END)
                LEFT JOIN arpa_g2 g2 ON g2.gram = tu.h1 || ' ' || tu.w
                LEFT JOIN arpa_g2 c2
                  ON c2.gram = (CASE WHEN tu.h2 IS NOT NULL
                       THEN tu.h2 || ' ' || tu.h1 END)
                LEFT JOIN arpa_g1 g1 ON g1.gram = tu.w
                LEFT JOIN arpa_g1 c1 ON c1.gram = tu.h1
            ),
            arpa_scores AS MATERIALIZED (
                SELECT p.doc_id, round(avg(s.nll), 4) AS arpa_ce_r,
                       round(exp(avg(s.nll)), 4) AS arpa_ppl_r
                FROM arpa_pos p JOIN arpa_tuple_nll s
                  ON p.h1 = s.h1 AND p.w = s.w
                 AND p.h2 IS NOT DISTINCT FROM s.h2
                GROUP BY p.doc_id
            )
            SELECT u.doc_id, u.n_tokens,
                   round(u.h_raw, 4) AS cross_entropy_r,
                   round(exp(u.h_raw), 4) AS perplexity_r,
                   round(u.lr, 4) AS log_ratio_r,
                   round(exp(u.lr), 4) AS dsir_weight_r,
                   b.bigram_ce_r, b.bigram_ppl_r,
                   k.kn_ce_r, k.kn_ppl_r,
                   t.trigram_ce_r, t.trigram_ppl_r,
                   a.arpa_ce_r, a.arpa_ppl_r
            FROM uni_scores u
            JOIN bi_scores b USING (doc_id)
            JOIN kn_scores k USING (doc_id)
            JOIN tri_scores t USING (doc_id)
            JOIN arpa_scores a USING (doc_id)
        """,
    }
    # ---- round-10 union-tagged slot merges (frees entries under the ----
    # ---- 50-slot cap; each mode's values stay independently oracled) ----
    d["q_timeseries"] = f"""
        SELECT 'rollup' AS mode, resolution::BIGINT AS resolution,
               bucket_start::BIGINT AS bucket_start, event_type,
               n::BIGINT AS n, total
        FROM ({d.pop("q_rollup_multires")})
        UNION ALL
        SELECT 'gapfill', NULL::BIGINT, bucket::BIGINT, event_type,
               n::BIGINT, NULL::DOUBLE
        FROM ({d.pop("q_hourly_gapfill")})
    """
    # sq8 branch: replays the WHOLE quantization pipeline from the raw
    # parquet — per-dim min/max fit, floor((x-lo)*inv+0.5)-127 encode
    # (identical IEEE op sequence to the numpy kernel; inv is the
    # precomputed reciprocal of span/254), lo+(c+127)*scale decode,
    # then asymmetric cosine top-k of full-precision queries against
    # the reconstructed corpus.
    sq8_sql = """
        WITH elems AS (
            SELECT vec_id, u.x, u.i FROM embeddings,
                 LATERAL (SELECT unnest(embedding::DOUBLE[]) AS x,
                          generate_subscripts(embedding, 1) AS i) u
        ),
        qparams AS (
            SELECT i, min(x) AS lo, max(x) AS hi FROM elems GROUP BY i
        ),
        coded AS (
            SELECT vec_id, e.i, p.lo, p.hi,
                   CASE WHEN p.hi = p.lo THEN -127
                        ELSE greatest(-127, least(127,
                             floor((e.x - p.lo)
                                   * (1.0 / ((p.hi - p.lo) / 254.0))
                                   + 0.5) - 127))
                   END AS c
            FROM elems e JOIN qparams p ON e.i = p.i
        ),
        decoded AS (
            SELECT vec_id,
                   list(lo + (c + 127)
                        * (CASE WHEN hi = lo THEN 0.0
                                ELSE (hi - lo) / 254.0 END)
                        ORDER BY i) AS v
            FROM coded GROUP BY vec_id
        ),
        dnorm AS (
            SELECT vec_id, v,
                   sqrt(list_dot_product(v, v)) AS norm
            FROM decoded
        ),
        qn AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(
                       embedding::DOUBLE[], embedding::DOUBLE[]
                   )) AS norm
            FROM embeddings WHERE vec_id < 8
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(q.v, c.v) / (q.norm * c.norm)
                       AS cosine,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(q.v, c.v)
                                / (q.norm * c.norm) DESC,
                                c.vec_id ASC
                   ) AS rank
            FROM qn q CROSS JOIN dnorm c
        ) WHERE rank <= 10
    """
    # pca mode (round 13): independent numpy fit embedded as literals;
    # projection, cosine and the rounded-score rank window replay in
    # SQL. Reduced-space cosine is basis-invariant, so the two
    # independent eigendecompositions agree to float noise and the 4-dp
    # rounding + id tie-break absorbs it (see ann_pca docstring).
    pca_mean, pca_comps, pca_d = _pca_fit_at_compare_sf(k=16)
    pca_k = len(pca_comps)
    mean_lit = "[" + ", ".join(repr(x) for x in pca_mean) + "]"
    comps_lit = (
        "["
        + ", ".join(
            "[" + ", ".join(repr(x) for x in row) + "]"
            for row in pca_comps
        )
        + "]"
    )
    pca_sql = f"""
        WITH pm AS (
            SELECT {mean_lit}::DOUBLE[] AS mu,
                   {comps_lit}::DOUBLE[][] AS w
        ),
        proj AS (
            SELECT vec_id,
                   [list_dot_product(
                        [embedding[i]::DOUBLE - mu[i]
                         for i in generate_series(1, {pca_d})],
                        w[j])
                    for j in generate_series(1, {pca_k})] AS v
            FROM embeddings, pm
        ),
        pn AS (
            SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm
            FROM proj
        ),
        qn AS (SELECT vec_id, v, norm FROM pn WHERE vec_id < 8)
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_dot_product(q.v, c.v)
                         / (q.norm * c.norm), 4) AS cosine,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_dot_product(q.v, c.v)
                                      / (q.norm * c.norm), 4) DESC,
                                c.vec_id ASC
                   ) AS rank
            FROM qn q CROSS JOIN pn c
        ) WHERE rank <= 10
    """
    d["ann_search"] = f"""
        SELECT 'lsh' AS method, query_id, neighbor_id, cosine, rank
        FROM ({d.pop("ann_lsh")})
        UNION ALL
        SELECT 'ivf', query_id, neighbor_id, cosine, rank
        FROM ({d.pop("ann_ivf")})
        UNION ALL
        SELECT 'sq8', query_id, neighbor_id, cosine, rank::BIGINT
        FROM ({sq8_sql})
        UNION ALL
        SELECT 'pca', query_id, neighbor_id, cosine, rank::BIGINT
        FROM ({pca_sql})
    """
    d["dedup_embedding"] = f"""
        SELECT 'exact' AS mode, id_a, id_b, cosine
        FROM ({d.pop("dedup_embedding")})
        UNION ALL
        SELECT 'lsh', id_a, id_b, cosine
        FROM ({d.pop("dedup_embedding_lsh")})
    """
    # conversations_sft: rendered text, structural stats, and the
    # gate+dedup winner set reconstructed ANALYTICALLY from the
    # synthesis rule (doc_id%5 structure variants, doc_id%40 content
    # groups) — variants 0 and 1 must collapse under the normalized
    # system-ignoring dedup key, variants 2/3/4 must fall to the
    # empty-content / alternation / trailing-user gate branches.
    d["conversations_sft"] = """
        WITH base AS (
            SELECT doc_id AS conv_id, (doc_id % 5) AS m,
                   (doc_id % 40)::VARCHAR AS g
            FROM documents
        ),
        sep AS (SELECT chr(10) || chr(10) AS s),
        render AS (
            SELECT conv_id, m, g,
                CASE m
                  WHEN 0 THEN 'system: be helpful' || s
                              || 'user: question ' || g || s
                              || 'assistant: answer ' || g
                  WHEN 1 THEN 'user: QUESTION  ' || g || s
                              || 'assistant: Answer ' || g
                  WHEN 2 THEN 'user: hi ' || g || s || 'assistant: '
                  WHEN 3 THEN 'user: a ' || g || s
                              || 'user: b ' || g || s
                              || 'assistant: c ' || g
                  ELSE 'user: q ' || g || s
                       || 'assistant: a ' || g || s
                       || 'user: followup ' || g
                END AS text,
                CASE m WHEN 0 THEN 3 WHEN 1 THEN 2 WHEN 2 THEN 2
                       WHEN 3 THEN 3 ELSE 3 END AS n_turns,
                CASE m WHEN 3 THEN 2 WHEN 4 THEN 2 ELSE 1 END AS n_user,
                1 AS n_assistant,
                CASE m WHEN 0 THEN 'system' ELSE 'user' END AS first_role,
                CASE m WHEN 4 THEN 'user' ELSE 'assistant' END AS last_role,
                (m = 2)::BIGINT AS has_empty_content,
                (m <> 3)::BIGINT AS alternates
            FROM base, sep
        ),
        kept AS (
            SELECT min(conv_id) AS conv_id
            FROM base WHERE m IN (0, 1) GROUP BY g
        )
        SELECT 'render' AS mode, conv_id, text,
               n_turns::BIGINT AS n_turns, n_user::BIGINT AS n_user,
               n_assistant::BIGINT AS n_assistant, first_role,
               last_role, has_empty_content, alternates
        FROM render
        UNION ALL
        SELECT 'kept', conv_id, NULL::VARCHAR, NULL::BIGINT,
               NULL::BIGINT, NULL::BIGINT, NULL::VARCHAR,
               NULL::VARCHAR, NULL::BIGINT, NULL::BIGINT
        FROM kept
    """
    # mix_corpora_stats: the full mixing plan recomputed in SQL from the
    # same token counts — budget, per-domain ratio/epochs/remainder, the
    # portable-hash partial-epoch cut, the epoch fan-out, and the
    # realized-share audit.
    from patito_spark.operators.sampling import sample_fraction_sql

    _mix_frac = sample_fraction_sql("doc_id", seed=7)
    d["mix_corpora_stats"] = f"""
        WITH dd AS (
            SELECT doc_id, lang,
                   len(string_split(text, ' '))::BIGINT AS ntok
            FROM documents WHERE lang IN ('en', 'de', 'fr')
        ),
        tot AS (SELECT lang, sum(ntok) AS t FROM dd GROUP BY lang),
        budget AS (
            SELECT CAST(floor(sum(t) * 0.8) AS BIGINT) AS b FROM tot
        ),
        plan AS (
            SELECT lang, t,
                   ((CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 2.0
                               ELSE 3.0 END / 6.0)
                    * (SELECT b FROM budget)) / t AS ratio
            FROM tot
        ),
        member AS (
            SELECT dd.doc_id, dd.lang, dd.ntok,
                   CAST(floor(p.ratio) AS BIGINT)
                   + (CASE WHEN {_mix_frac} < p.ratio - floor(p.ratio)
                           THEN 1 ELSE 0 END) AS n_copies
            FROM dd JOIN plan p USING (lang)
        ),
        mixed AS (
            SELECT doc_id, lang AS mix_source, ntok,
                   unnest(range(n_copies)) AS epoch
            FROM member WHERE n_copies > 0
        ),
        stats AS (
            SELECT mix_source, count(*) AS n_rows,
                   sum(ntok) AS n_tokens, max(epoch) + 1 AS n_epochs
            FROM mixed GROUP BY mix_source
        ),
        tots AS (
            SELECT sum(n_tokens) AS tt, sum(n_rows) AS tr FROM stats
        )
        SELECT 'doc' AS mode, mix_source, doc_id,
               epoch::BIGINT AS epoch, NULL::BIGINT AS n_rows,
               NULL::BIGINT AS n_tokens, NULL::BIGINT AS n_epochs,
               NULL::DOUBLE AS token_share, NULL::DOUBLE AS row_share
        FROM mixed
        UNION ALL
        SELECT 'stats', mix_source, NULL::BIGINT, NULL::BIGINT,
               n_rows, n_tokens, n_epochs::BIGINT,
               n_tokens / tt, n_rows / tr
        FROM stats, tots
    """
    # paragraph_pipeline: the test-suite DuckDB replay promoted to the
    # driver — split on \n{2,}, normalized key, corpus keep-first rank
    # / >=3-distinct-doc boilerplate cut, reassembly in original order.
    d["paragraph_pipeline"] = """
        WITH src AS (
            SELECT doc_id,
                   'Intro shared ' || (doc_id % 7) || chr(10) || chr(10)
                   || text || chr(10) || chr(10)
                   || 'Common Footer Follow Us' AS text
            FROM documents
        ),
        p AS (
            SELECT doc_id, unnest(ps) AS paragraph,
                   generate_subscripts(ps, 1) AS idx
            FROM (
                SELECT doc_id,
                       string_split_regex(text, '\\n{2,}') AS ps
                FROM src
            )
        ),
        keyed AS (
            SELECT doc_id, idx, paragraph,
                   lower(regexp_replace(trim(paragraph),
                                        '\\s+', ' ', 'g')) AS k
            FROM p
            WHERE length(lower(regexp_replace(trim(paragraph),
                                              '\\s+', ' ', 'g'))) >= 1
        ),
        ranked AS (
            SELECT doc_id, idx, paragraph,
                   row_number() OVER (
                       PARTITION BY k ORDER BY doc_id, idx
                   ) AS occ
            FROM keyed
        ),
        dedup AS (
            SELECT doc_id,
                   string_agg(paragraph, chr(10) || chr(10)
                              ORDER BY idx) AS text
            FROM ranked WHERE occ = 1 GROUP BY doc_id
        ),
        common AS (
            SELECT k FROM keyed
            GROUP BY k HAVING count(DISTINCT doc_id) >= 3
        ),
        boiler AS (
            SELECT doc_id,
                   string_agg(paragraph, chr(10) || chr(10)
                              ORDER BY idx) AS text
            FROM keyed WHERE k NOT IN (SELECT k FROM common)
            GROUP BY doc_id
        )
        SELECT 'dedup' AS mode, doc_id, text FROM dedup
        UNION ALL
        SELECT 'boiler', doc_id, text FROM boiler
    """
    # url_pipeline: the canonical form is computed ANALYTICALLY from the
    # synthesis rule (no string-surgery replay) — if Spark's
    # canonicalize_url chain mishandles any exercised feature (case,
    # www, default port, tracking params, fragment, trailing slash),
    # the hash mismatches. min-id keep replayed with a window.
    d["url_pipeline"] = """
        WITH u AS (
            SELECT doc_id,
                CASE (doc_id % 3)
                  WHEN 0 THEN 'HTTP://WWW.Example.COM/' || source
                              || '/Page' || (doc_id % 40) || '/'
                  WHEN 1 THEN 'https://example.com:443/' || source
                              || '/page' || (doc_id % 40)
                              || '?utm_source=feed&id=' || (doc_id % 5)
                  ELSE 'https://CDN.Example.com:8080/asset'
                       || (doc_id % 40) || '#frag'
                END AS url,
                CASE (doc_id % 3)
                  WHEN 0 THEN 'http://example.com/' || source
                              || '/Page' || (doc_id % 40)
                  WHEN 1 THEN 'https://example.com/' || source
                              || '/page' || (doc_id % 40)
                              || '?id=' || (doc_id % 5)
                  ELSE 'https://cdn.example.com:8080/asset'
                       || (doc_id % 40)
                END AS canon
            FROM documents
        ),
        kept AS (
            SELECT doc_id, url, canon FROM (
                SELECT u.*, row_number() OVER (
                    PARTITION BY canon ORDER BY doc_id
                ) AS rn FROM u
            ) WHERE rn = 1
        )
        SELECT 'canon' AS mode, doc_id, url, canon FROM u
        UNION ALL
        SELECT 'dedup', doc_id, url, canon FROM kept
    """
    d["rel_setops_page"] = f"""
        SELECT 'setops' AS mode, nationkey::BIGINT AS nationkey,
               NULL::VARCHAR AS c_mktsegment, NULL::BIGINT AS c_nationkey
        FROM ({d.pop("rel_setops")})
        UNION ALL
        SELECT 'page', NULL::BIGINT, c_mktsegment, c_nationkey::BIGINT
        FROM ({d.pop("rel_distinct_page")})
    """
    return d
