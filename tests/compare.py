"""Order-insensitive Spark-vs-DuckDB result comparison — mirrors the
driver's correctness gate (row-count + column names + value equality after
sorting columns by name and rows canonically)."""

from __future__ import annotations

import datetime as dt
import math
from typing import Any

import duckdb

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


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_value(v: Any) -> Any:
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — bit-identity check
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_value(x)) for k, x in v.items()))
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return str(v.normalize())
    except ImportError:
        pass
    return v


def canonical_rows(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    return sorted(canon, key=repr)


def compare_query(spark, name: str, fn, sql: str, sf_dir: str) -> dict:
    sdf = fn(spark, sf_dir)
    # The driver's compare sorts a pandas frame; array/map cells are
    # unhashable there and fail the row (token_inverted_index, round 6).
    # Fail loudly here so an oracled query never ships a nested column.
    nested = [
        f.name
        for f in sdf.schema.fields
        if "array" in f.dataType.simpleString()
        or "map" in f.dataType.simpleString()
    ]
    if nested:
        return {
            "name": name,
            "match": False,
            "cols_match": False,
            "spark_rows": -1,
            "duck_rows": -1,
            "error": f"nested result columns break the driver compare: {nested}",
        }
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    con = duck_connection(sf_dir)
    # Fetch through Arrow so DuckDB's wider integer types surface as
    # distinct Python types (HUGEINT -> decimal128 -> Decimal) — the
    # driver's value hash is type-sensitive and plain fetchall() hides
    # exactly the BIGINT-vs-HUGEINT mismatches it catches.
    tbl = con.execute(sql).fetch_arrow_table()
    d_cols = tbl.column_names
    d_rows = [tuple(d[c] for c in d_cols) for d in tbl.to_pylist()]
    con.close()

    out = {
        "name": name,
        "spark_rows": len(s_rows),
        "duck_rows": len(d_rows),
        "cols_match": sorted(s_cols) == sorted(d_cols),
        "spark_cols": s_cols,
        "duck_cols": d_cols,
    }
    if not out["cols_match"] or len(s_rows) != len(d_rows):
        out["match"] = False
        return out
    cs = canonical_rows(s_cols, s_rows)
    cd = canonical_rows(d_cols, d_rows)
    out["match"] = cs == cd
    if not out["match"]:
        diffs = [(a, b) for a, b in zip(cs, cd) if a != b]
        out["first_diffs"] = diffs[:3]
    return out


# --------------------------------------------------------------------------
# Shared by the catalog family tests
# --------------------------------------------------------------------------


def run_query(spark, sf_dir: str, name: str):
    """The catalog query ``name`` over the tables in ``sf_dir``."""
    from dvh_airflow_kafka_spark.catalog import REGISTRY

    return REGISTRY[name].fn(spark, sf_dir)


def twin_rows(spark, sf_dir: str, batch: str, stream: str) -> list:
    """The sorted result rows of the batch query ``batch`` and of its
    streaming twin ``stream``, which share one oracle."""
    return [
        sorted(map(tuple, run_query(spark, sf_dir, n).collect()))
        for n in (batch, stream)
    ]
