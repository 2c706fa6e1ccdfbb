"""Table loading for the driver's testdata layout.

The driver's parquet files carry nanosecond-precision timestamps
(TIMESTAMP(NANOS)), which Spark's vectorized parquet reader rejects.
We read nanos as raw longs (``spark.sql.legacy.parquet.nanosAsLong`` —
runtime-settable) and rebuild microsecond TIMESTAMP_NTZ columns with
integer arithmetic (``DIV 1000`` — no double round-trip, no precision
loss). DuckDB performs the identical ns→µs truncation when casting to its
native TIMESTAMP, so both engines see byte-identical values.

All timestamp columns are normalised to TIMESTAMP_NTZ: the engine pins
``spark.sql.session.timeZone=UTC`` so NTZ wall clocks equal the UTC
instants, matching DuckDB's naive TIMESTAMP semantics.

Pushdown caveat: because the rebuilt column is derived (``DIV 1000`` over
the raw ns long), range predicates on it cannot reach the parquet scan —
only IsNotNull pushes. This is a property of the ns-fixture workaround,
not the engine: on native µs/INT96 parquet (any production layout, incl.
everything this engine writes) timestamp filters push down as usual.

This module only reads and writes through Spark.  Driver-side metadata
operations on a table path (exists, listing, sizes, the rename-aside
swap that rewrites a directory in place) go through the package's one
Hadoop FileSystem boundary, ``streaming/fsio.HadoopFs``.
"""

from __future__ import annotations

import os
from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@lru_cache(maxsize=256)
def _nano_ts_columns(path: str) -> tuple[str, ...]:
    import glob

    import pyarrow as pa

    if os.path.isdir(path):
        # Spark-written dataset: all parts share a schema; probe one.
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return ()
        path = parts[0]
    schema = pq.read_schema(path)
    return tuple(
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


_STREAM_SCHEMA_CACHE: dict = {}


def stream_source_schema(spark: SparkSession, source_dir: str):
    """Spark schema of a parquet file-stream source dir, cached per path.

    File-stream sources require an explicit schema; inferring one is a
    driver-side footer-listing read (~0.1s) paid on every pipeline
    START.  Every source dir driven here is schema-stable once created
    (staged dirs are immutable; live-appended dirs only ever append
    files of the same schema), so the inferred StructType — a plain
    session-independent value — is cached for the process lifetime.
    Callers whose dir may be REWRITTEN with a different schema at the
    same path must bypass this and infer directly."""
    schema = _STREAM_SCHEMA_CACHE.get(source_dir)
    if schema is None:
        if len(_STREAM_SCHEMA_CACHE) > 1024:  # bound long-lived processes
            _STREAM_SCHEMA_CACHE.clear()
        schema = spark.read.parquet(source_dir).schema
        _STREAM_SCHEMA_CACHE[source_dir] = schema
    return schema


_TABLE_SCHEMA_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; ns-timestamps come back as TIMESTAMP_NTZ(µs).

    The testdata tables are immutable fixtures, so their raw Spark read
    schema is cached per path (``cache_schema=True``): without it every
    ``load_table`` call pays a driver-side footer-inference job (~80-100
    ms measured here; on an object store at production scale it is a
    listing plus remote footer reads per referencing query)."""
    return load_parquet(
        spark, os.path.join(sf_dir, f"{name}.parquet"), cache_schema=True
    )


def load_parquet(
    spark: SparkSession, path: str, *, cache_schema: bool = False
) -> DataFrame:
    """Read any parquet path with the same ns→µs timestamp normalisation
    as ``load_table`` (config-driven sources point at raw paths).

    ``cache_schema`` must stay False for MUTABLE paths (pipeline sinks,
    work dirs — ``runner.py`` re-reads sinks it just wrote); only
    immutable inputs such as the testdata tables may opt in.  The cached
    value is the RAW read schema (pre ns→µs rebuild), a plain
    session-independent StructType."""
    ns_cols = _nano_ts_columns(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _TABLE_SCHEMA_CACHE.get(path) if cache_schema else None
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if cache_schema:
            if len(_TABLE_SCHEMA_CACHE) > 1024:  # bound long-lived processes
                _TABLE_SCHEMA_CACHE.clear()
            _TABLE_SCHEMA_CACHE[path] = df.schema
    # Rebuild only columns Spark actually surfaced as raw ns longs —
    # pyarrow reports Spark's own INT96 timestamps as timestamp[ns] too,
    # but Spark reads those back as proper TIMESTAMP already.
    from pyspark.sql import types as T

    dtypes = {f.name: f.dataType for f in df.schema.fields}
    for c in ns_cols:
        if isinstance(dtypes.get(c), T.LongType):
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")).cast("timestamp_ntz")
            )
    return df


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the cluster's default parallelism when
    the input arrives in fewer partitions.

    Small parquet files (one row group) scan as ONE partition, serializing
    any CPU-heavy per-row pipeline on a single core. At real scale inputs
    arrive in thousands of partitions and this is a no-op — the check
    keeps it from ever adding a shuffle to an already-parallel input."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Temp views for SQL-first operator definitions."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols,
    *,
    n_buckets: int = 32,
    sort_cols=None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a hash-bucketed (optionally sort-ordered) external
    parquet table.

    Bucketing is the shuffle-you-pay-once layout: two tables bucketed by
    the same key into the same bucket count join with NO Exchange on
    either side (the bucketed scan already satisfies the join's
    distribution), and aggregations grouped on the bucket key skip their
    shuffle the same way. At 100 TB this converts every repeated
    fact⋈fact join on the bucket key from a full network shuffle into a
    local merge — the single biggest repeated-query win after partition
    pruning. ``sort_cols`` additionally pre-sorts each bucket file so a
    sort-merge join reads pre-ordered runs.
    """
    if isinstance(bucket_cols, str):
        bucket_cols = [bucket_cols]
    w = (
        df.write.format("parquet")
        .mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        if isinstance(sort_cols, str):
            sort_cols = [sort_cols]
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
