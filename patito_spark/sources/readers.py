"""Model-aware readers/writers (ref polars.py:614-679 generalized).

Scale notes: parquet/ORC reads keep the file's own schema (so validation
sees its dtypes) and project to the model's columns, so scans prune to
them (``ReadSchema`` in the plan). The schema is inferred once per file
version per session (:func:`read_inferred`); for parquet that inference is
a Spark job, which later reads of the unchanged file skip. CSV/JSON
parsing skips schema inference (which costs an extra full pass at 100 TB).
"""

from __future__ import annotations

from typing import Any, Optional, Sequence, TYPE_CHECKING

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame as SparkDataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.sql.utils import to_str

if TYPE_CHECKING:
    from patito_spark.dataframe import DataFrame
    from patito_spark.model import Model


def _session(spark: Optional[SparkSession]) -> SparkSession:
    from patito_spark.session import active_session

    return spark or active_session()


# Session confs that change what schema inference returns for a path.
_INFERENCE_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.legacy.timeParserPolicy",
    "spark.sql.orc.mergeSchema",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType",
)

# Inferred schemas by file version; emptied by release_caches().
_SCHEMAS: dict[tuple, StructType] = {}


def _schema_key(
    spark: SparkSession, fmt: str, path: str, options: dict[str, str]
) -> Optional[tuple]:
    """Everything an inferred schema depends on: the application, format,
    qualified path or glob, reader options, inference confs, and
    (file, size, mtime) of every leaf file the path covers.

    The files are listed through Hadoop's ``FileSystem`` with the conf
    Spark's own read builds (session conf plus reader options), so any
    scheme Spark reads is fingerprinted the way Spark will list it.
    Returns None when nothing matches or the listing fails; the caller
    then reads uncached and Spark reports the error, if any.
    """
    try:
        jsession = spark._jsparkSession
        hadoop_conf = jsession.sessionState().newHadoopConf()
        for k, v in options.items():
            if k not in ("path", "paths"):
                hadoop_conf.set(k, v)
        # A JavaClass by name skips the per-package py4j lookups of
        # spark._jvm.org.apache... (6.6 ms a read on a 4-core host).
        jpath = JavaClass(
            "org.apache.hadoop.fs.Path", spark.sparkContext._gateway._gateway_client
        )(path)
        fs = jpath.getFileSystem(hadoop_conf)
        todo = list(fs.globStatus(jpath) or ())
        files = []
        while todo:
            status = todo.pop()
            if status.isDirectory():
                todo.extend(fs.listStatus(status.getPath()))
            else:
                files.append(
                    (
                        status.getPath().toString(),
                        status.getLen(),
                        status.getModificationTime(),
                    )
                )
        if not files:
            return None
        sql_conf = jsession.sessionState().conf()
        return (
            spark.sparkContext.applicationId,
            fmt,
            fs.makeQualified(jpath).toString(),
            tuple(sorted(options.items())),
            tuple(sql_conf.getConfString(k) for k in _INFERENCE_CONFS),
            tuple(sorted(files)),
        )
    except Py4JError:
        return None


def read_inferred(
    spark: SparkSession, fmt: str, path: str, **options: Any
) -> SparkDataFrame:
    """``spark.read.format(fmt).options(**options).load(path)``, inferring
    the schema once per file version per session.

    A miss reads as Spark does and keeps ``df.schema``; a hit reads with
    ``.schema(kept)``, which runs no inference job (a parquet inference
    is one Spark job). The kept schema is the file's own, so ``validate()``
    still sees its dtypes. A file rewritten with the same size inside the
    filesystem's mtime resolution keeps the old schema until
    ``release_caches()``.
    """
    options = {k: to_str(v) for k, v in options.items()}
    reader = spark.read.format(fmt).options(**options)
    key = _schema_key(spark, fmt, path, options)
    schema = _SCHEMAS.get(key) if key is not None else None
    if schema is not None:
        return reader.schema(schema).load(path)
    df = reader.load(path)
    if key is not None:
        _SCHEMAS[key] = df.schema
    return df


def _finalize(sdf, model: type["Model"]) -> "DataFrame":
    from patito_spark.dataframe import DataFrame as PatitoDataFrame

    return PatitoDataFrame(sdf, model=model).derive()


def read_csv(
    path: str,
    model: type["Model"],
    spark: Optional[SparkSession] = None,
    header: bool = True,
    **options: Any,
) -> "DataFrame":
    """Read CSV with the model's schema.

    With ``header=False`` the model's field order provides the column names
    (ref polars.py:614-679). ``derived_from`` fields are populated.
    """
    spark = _session(spark)
    derived = set(model.derived_columns)
    reader = spark.read.options(**options)
    if header:
        # Derived columns may be sourced from arbitrarily-named raw columns,
        # so only force dtypes of direct model columns after the read.
        sdf = reader.csv(path, header=True, inferSchema=False)
        from pyspark.sql import functions as F

        casts = [
            F.col(name).cast(spec.spark_type).alias(name)
            if name in sdf.columns and name not in derived
            else F.col(name)
            for name, spec in model.column_specs.items()
            if name in sdf.columns
        ]
        others = [F.col(c) for c in sdf.columns if c not in model.columns]
        sdf = sdf.select(*casts, *others)
    else:
        schema_fields = [
            spec.struct_field
            for name, spec in model.column_specs.items()
            if name not in derived
        ]
        sdf = reader.csv(path, header=False, schema=StructType(schema_fields))
    return _finalize(sdf, model)


def read_parquet(
    path: str,
    model: type["Model"],
    spark: Optional[SparkSession] = None,
    prune: bool = True,
    **options: Any,
) -> "DataFrame":
    """Read parquet; project to the model's columns so the scan prunes."""
    return _read_pruned("parquet", path, model, spark, prune, options)


def read_orc(
    path: str,
    model: type["Model"],
    spark: Optional[SparkSession] = None,
    prune: bool = True,
    **options: Any,
) -> "DataFrame":
    """Read ORC; project to the model's columns so the scan prunes."""
    return _read_pruned("orc", path, model, spark, prune, options)


def _read_pruned(
    fmt: str,
    path: str,
    model: type["Model"],
    spark: Optional[SparkSession],
    prune: bool,
    options: dict[str, Any],
) -> "DataFrame":
    sdf = read_inferred(_session(spark), fmt, path, **options)
    derived = set(model.derived_columns)
    if prune:
        keep = [c for c in model.columns if c in sdf.columns and c not in derived]
        extra_sources = {
            src for src in model.derived_columns.values() if isinstance(src, str)
        }
        keep += [c for c in sdf.columns if c in extra_sources and c not in keep]
        if keep:
            sdf = sdf.select(*keep)
    return _finalize(sdf, model)


def write_orc(
    df,
    path: str,
    partition_by: Optional[list[str]] = None,
    mode: str = "error",
    validate: bool = False,
    **options: Any,
) -> None:
    """Write a (model-)DataFrame to ORC, optionally validating first."""
    from patito_spark.dataframe import DataFrame as PatitoDataFrame

    if isinstance(df, PatitoDataFrame):
        if validate:
            df.validate()
        sdf = df.inner
    else:
        sdf = df
    writer = sdf.write.mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_json(
    path: str,
    model: type["Model"],
    spark: Optional[SparkSession] = None,
    **options: Any,
) -> "DataFrame":
    """Read JSON-lines with the model schema (no inference pass)."""
    spark = _session(spark)
    derived = set(model.derived_columns)
    schema = StructType(
        [
            spec.struct_field
            for name, spec in model.column_specs.items()
            if name not in derived
        ]
    )
    sdf = spark.read.options(**options).json(path, schema=schema)
    return _finalize(sdf, model)


def write_clustered(
    df,
    path: str,
    cluster_by: "Sequence[str]",
    num_files: Optional[int] = None,
    mode: str = "error",
) -> None:
    """Range-clustered parquet write: the file-skipping layout.

    ``repartitionByRange(cluster_by)`` + ``sortWithinPartitions`` gives
    each output file a narrow, non-overlapping min/max range on the
    cluster keys, so selective reads skip whole files/row-groups via
    parquet statistics — the single biggest lever for selective scans
    over an unpartitioned 100 TB table (cheaper than directory
    partitioning when the key is high-cardinality, and composable with
    it). The sort is partition-local: one range shuffle, no global sort.
    """
    cluster_by = list(cluster_by)
    out = (
        df.repartitionByRange(num_files, *cluster_by)
        if num_files
        else df.repartitionByRange(*cluster_by)
    )
    out.sortWithinPartitions(*cluster_by).write.mode(mode).parquet(path)


def read_binary_files(
    path: str,
    glob: Optional[str] = None,
    spark: Optional[SparkSession] = None,
    with_metadata: bool = True,
    **options: Any,
):
    """Ingest raw files (images/audio/video/docs) as binary rows.

    Spark's ``binaryFile`` source: each file becomes one row of
    ``path, modificationTime, length, content (binary)`` — the input
    shape for :mod:`patito_spark.operators.multimodal` (decode /
    feature-extract run as Arrow-batched ``mapInPandas`` over
    ``content``). ``with_metadata`` appends ``file_name`` and
    ``file_ext`` columns parsed from the path (codegen projection).

    Scale notes: the source parallelizes per file and supports
    ``pathGlobFilter`` pushdown (pass ``glob``); files larger than
    ``spark.sql.sources.binaryFile.maxLength`` (default 2 GiB) raise —
    shard such assets upstream.
    """
    from pyspark.sql import functions as F

    spark = _session(spark)
    reader = spark.read.format("binaryFile").options(**options)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    sdf = reader.load(path)
    if with_metadata:
        name = F.element_at(F.split(F.col("path"), "/"), -1)
        sdf = sdf.withColumn("file_name", name).withColumn(
            "file_ext",
            F.when(
                name.contains("."),
                F.element_at(F.split(name, r"\."), -1),
            ).otherwise(F.lit(None).cast("string")),
        )
    return sdf


def write_parquet(
    df,
    path: str,
    partition_by: Optional[list[str]] = None,
    mode: str = "error",
    validate: bool = False,
    **options: Any,
) -> None:
    """Write a (model-)DataFrame to parquet, optionally validating first."""
    from patito_spark.dataframe import DataFrame as PatitoDataFrame

    if isinstance(df, PatitoDataFrame):
        if validate:
            df.validate()
        sdf = df.inner
    else:
        sdf = df
    writer = sdf.write.mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df,
    table: str,
    bucket_by: list[str],
    num_buckets: int = 32,
    sort_by: Optional[list[str]] = None,
    mode: str = "overwrite",
    validate: bool = False,
    **options: Any,
) -> None:
    """Write as a bucketed (and optionally sorted) catalog table.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle (and without even a sort if ``sort_by`` matches) —
    the co-located-join strategy for fact-to-fact joins repeated across a
    pipeline, where re-shuffling 100 TB per join is the dominant cost.
    """
    from patito_spark.dataframe import DataFrame as PatitoDataFrame

    if isinstance(df, PatitoDataFrame):
        if validate:
            df.validate()
        sdf = df.inner
    else:
        sdf = df
    writer = (
        sdf.write.mode(mode)
        .options(**options)
        .bucketBy(num_buckets, *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(table)


def write_training_shards(
    df,
    path: str,
    target_tokens_per_shard: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_count_col: Optional[str] = None,
    shuffle_docs: bool = True,
    seed: int = 0,
    mode: str = "error",
    **options: Any,
) -> dict:
    """Write a corpus as ~equal-token parquet shards + a manifest.

    The layout step between corpus prep and the training loader: data
    loaders want many same-sized shards (one per reader worker), sized
    by TOKENS, not rows — a shard of long documents must not carry 10x
    the work of a shard of short ones. Output:
    ``<path>/shard=<k>/...parquet`` (one directory per shard) and a
    ``<path>/_manifest`` parquet of per-shard ``n_docs`` / ``n_tokens``
    for loader bookkeeping and dataset cards.

    Scale shape: ONE aggregate computes the corpus token total, which
    fixes ``n_shards = ceil(total / target)``; each document is then
    assigned ``shard = hash(id, seed) % n_shards`` — a map-only,
    deterministic projection. Shards are equal in expectation and
    concentrate tightly at training scale (a 100M-token shard of ~1k-
    token docs is a 100k-document sample; relative spread ~ 1/sqrt(k)),
    and nothing resembles the global running-sum a "pack shards
    greedily in order" layout would need (that's a single-partition
    window — the one shape that cannot scale). ``shuffle_docs`` keeps
    hash order (i.e. a deterministic global shuffle — the usual
    prerequisite for sequential-read training); ``shuffle_docs=False``
    preserves no particular order either way (hash assignment already
    decorrelates), it merely skips the within-shard sort.

    Returns ``{"n_shards", "total_tokens", "manifest"}`` (manifest as a
    list of Rows, already written to ``_manifest``).
    """
    from pyspark.sql import functions as F

    from patito_spark.dataframe import DataFrame as PatitoDataFrame
    from patito_spark.operators.text import token_count

    if isinstance(df, PatitoDataFrame):
        df = df.inner
    if target_tokens_per_shard <= 0:
        raise ValueError("target_tokens_per_shard must be positive")
    toks = (
        F.col(token_count_col)
        if token_count_col
        else token_count(text_col)
    )
    counted = df.withColumn("__n_tok", toks.cast("long"))
    total = counted.agg(F.sum("__n_tok")).first()[0] or 0
    n_shards = max(1, -(-total // target_tokens_per_shard))
    sharded = counted.withColumn(
        "shard",
        F.pmod(
            F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)),
            F.lit(n_shards),
        ).cast("int"),
    )
    out = sharded.repartition(int(n_shards), "shard")
    if shuffle_docs:
        # Deterministic within-shard order by (shard, hash, id): the
        # global shuffle training loaders want, reproducible under seed.
        # 'shard' MUST lead the sort keys — the dynamic-partition writer
        # requires its partition column sorted and would otherwise
        # insert its own (non-stable once spilling) sort on top,
        # discarding this one and breaking run-to-run row order.
        out = out.sortWithinPartitions(
            "shard",
            F.xxhash64(F.col(id_col).cast("string"), F.lit(seed + 1)),
            F.col(id_col),
        )
    (
        out.drop("__n_tok")
        .write.mode(mode)
        .options(**options)
        .partitionBy("shard")
        .parquet(path)
    )
    # Manifest from the WRITTEN shards (a cheap local codegen scan), not
    # from the upstream lineage — the input is typically the tail of an
    # expensive pipeline, and this function already evaluates it twice
    # (token total + write); callers with costly upstreams should
    # persist()/checkpoint() before calling either way.
    written = out.sparkSession.read.parquet(path)
    manifest = (
        written.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(toks.cast("long")).alias("n_tokens"),
        )
        .orderBy("shard")
    )
    rows = manifest.collect()
    manifest.coalesce(1).write.mode("overwrite").parquet(f"{path}/_manifest")
    return {"n_shards": int(n_shards), "total_tokens": int(total), "manifest": rows}
