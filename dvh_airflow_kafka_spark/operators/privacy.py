"""P4 — kode 6/7 privacy scrub (the reference's k6-filter).

Reference behaviour (src/oracle_target.py:46-93, spec
test_oracle_target.py:73-128): extract a (possibly nested) person-id per
row, probe a lookup table for ids with ``skjermet_kode IN (6, 7)`` whose
validity interval contains the row's date, and NULL the payload of every
hit. Rows are never dropped. The reference probes Oracle with a batched
IN-list (the ``(1, x) IN`` trick lifting the 1000-item limit,
src/oracle_target.py:63-66) — structurally a semi-join.

Spark design: ONE broadcast hash join, no row duplication, no second scan.
The lookup is pre-aggregated per person-id into an array of validity
intervals, so the join key is unique and the temporal predicate becomes an
``exists()`` higher-order function over the interval array. At 100 TB the
fact side streams through a single codegen stage; the lookup (person
registry — small by definition) broadcasts once per executor.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

INTERVALS_COL = "__k6_intervals"


def scrub_flagged_persons(
    df: DataFrame,
    lookup: DataFrame,
    person_id: Column,
    event_ts: Column,
    payload_cols: Sequence[str] = ("kafka_message",),
    lookup_id_col: str = "off_id",
    valid_from_col: str = "gyldig_fra_dato",
    valid_to_col: str = "gyldig_til_dato",
    code_col: str = "skjermet_kode",
    codes: Sequence[int] = (6, 7),
) -> DataFrame:
    """NULL ``payload_cols`` on rows whose ``person_id`` is flagged with one
    of ``codes`` at ``date(event_ts)`` (reference predicate
    ``TRUNC(ts) BETWEEN gyldig_fra_dato AND gyldig_til_dato``,
    src/oracle_target.py:71-77). Row count and all other columns are
    preserved exactly.
    """
    probe = (
        lookup.filter(F.col(code_col).isin(list(codes)))
        .groupBy(F.col(lookup_id_col).alias("__k6_id"))
        .agg(
            F.collect_list(
                F.struct(
                    F.to_date(F.col(valid_from_col)).alias("f"),
                    F.to_date(F.col(valid_to_col)).alias("t"),
                )
            ).alias(INTERVALS_COL)
        )
    )
    event_date = F.to_date(event_ts)
    joined = df.join(
        F.broadcast(probe), person_id.cast("string") == F.col("__k6_id").cast("string"), "left"
    )
    hit = F.when(
        F.col(INTERVALS_COL).isNotNull(),
        F.exists(
            F.col(INTERVALS_COL),
            lambda iv: (event_date >= iv["f"]) & (event_date <= iv["t"]),
        ),
    ).otherwise(F.lit(False))
    out = joined.withColumns(
        {c: F.when(hit, F.lit(None)).otherwise(F.col(c)) for c in payload_cols}
    )
    return out.drop("__k6_id", INTERVALS_COL)
