"""``io.py``: the schema caches behind ``stream_source_schema`` (read
by ``streaming/stateful.read_event_stream``) and ``load_table``."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_stream_source_schema_cached_per_path(spark, tmp_path):
    """Round-13 optimization law: the stream-source schema helper infers
    once per path (the per-start footer read is gone) and returns the
    real schema; a schema-preserving append does not invalidate it."""
    from dvh_airflow_kafka_spark import io as dio

    src = str(tmp_path / "src")
    spark.range(5).select(F.col("id").alias("a")).write.parquet(src)
    s1 = dio.stream_source_schema(spark, src)
    assert [f.name for f in s1.fields] == ["a"]
    # second call must be a cache hit (no Spark read): poison the reader
    # to prove the path is not re-inferred
    import pyspark.sql.readwriter as rw

    orig = rw.DataFrameReader.parquet
    def boom(self, *p):  # pragma: no cover - would fail the test if hit
        raise AssertionError("schema re-inferred despite cache")
    rw.DataFrameReader.parquet = boom
    try:
        s2 = dio.stream_source_schema(spark, src)
    finally:
        rw.DataFrameReader.parquet = orig
    assert s2 is s1
    dio._STREAM_SCHEMA_CACHE.pop(src, None)


def test_load_table_schema_cached_per_path(spark, sf_dir):
    """Round-13 optimization law: ``load_table`` reads the immutable
    testdata tables with a cached raw schema — the per-call driver-side
    footer-inference job is gone — and the cached-read frame is
    row-identical to a fresh inferred read.  Mutable-path reads
    (``load_parquet`` without ``cache_schema``) must NOT populate or
    consult the cache."""
    import pyspark.sql.readwriter as rw

    from dvh_airflow_kafka_spark import io as dio

    path = f"{sf_dir}/region.parquet"
    dio._TABLE_SCHEMA_CACHE.pop(path, None)
    fresh = dio.load_table(spark, sf_dir, "region")
    assert path in dio._TABLE_SCHEMA_CACHE
    # second call must route through DataFrameReader.schema(...) with
    # the cached StructType (no inference): spy on it to prove it
    seen = {}
    orig_schema = rw.DataFrameReader.schema

    def spy_schema(self, s):
        seen["schema"] = s
        return orig_schema(self, s)

    rw.DataFrameReader.schema = spy_schema
    try:
        cached = dio.load_table(spark, sf_dir, "region")
    finally:
        rw.DataFrameReader.schema = orig_schema
    assert seen.get("schema") is dio._TABLE_SCHEMA_CACHE[path]
    assert cached.schema == fresh.schema
    assert sorted(map(tuple, cached.collect())) == sorted(
        map(tuple, fresh.collect())
    )
    # mutable-path reads stay cache-free
    before = set(dio._TABLE_SCHEMA_CACHE)
    dio.load_parquet(spark, path)
    assert set(dio._TABLE_SCHEMA_CACHE) == before
