"""The ingest family: the catalog queries that certify the reference's
production duty (src/mapping.py:35-47) as ``streaming/ingest.py`` runs
it — read, envelope, allow-filter, scrub kode-6/7, skip duplicates,
insert, commit — together with the storage duties that duty leaves
behind (erasure, compaction).

- ``streaming_ingest_capstone`` — the duty as ONE resumable streaming
  drain with its resident sketch monitors;
- ``streaming_erasure_cascade`` — a late kode-6 flag cascaded into the
  sink and the monitors;
- ``streaming_multi_topic_ingest`` — two topics fanned into one sink;
- ``weekly_ops_capstone`` — the weekly rebalance and drift reports off
  the drained sink;
- ``ingest_lifecycle_capstone`` — drain, compact, drain again, erase;
- ``auto_compaction_policy`` — the OPTIMIZE-style policy loop over the
  sink;
- ``erasure_key_purge`` — the ``purge_keys`` erasure stance end to end.

Every query drains through ``_ingest_drains`` (the temp work and
checkpoint dirs plus the catalog's drain defaults) and reports through
``_report``, which collects the report before those dirs are removed.
Each hash-checks against a DuckDB oracle that replays the whole
composition relationally; the oracles share their lookup, replayed-log,
erasure-audit and monitor-readout CTEs.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager
from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.catalog._core import (
    _staged_file_write,
    _staged_range_write,
    _staged_stream_src,
    register,
)

# the flagship allow-filter rules (P3), shared with q01_reference
from dvh_airflow_kafka_spark.catalog.q01_reference import (
    _FLAGSHIP_FILTERS as _INGEST_FILTERS,
)
from dvh_airflow_kafka_spark.catalog.q03_curation import _ddsketch_sql
from dvh_airflow_kafka_spark.catalog.q10_funnel_privacy import (
    _hll_estimate_sql,
    _hll_registers_sql,
)
from dvh_airflow_kafka_spark.ext.sketch import (
    ddsketch_report,
    hll_estimate_report,
    verify_candidate_counts,
)
from dvh_airflow_kafka_spark.io import load_table

_INGEST_MG_K = 64

# the kode-6 cohort of the certified privacy fixture (FIXTURES.md F-5):
# the erasure request that arrives AFTER these persons' rows were
# ingested
_ERASE_SQL = "c_custkey % 10 = 0 AND c_custkey <= 50"

_REPORT_NX = "section string, dim string, n long, x double"
_REPORT_N = "section string, dim string, n long"


# --------------------------------------------------------------------------
# Inputs: the events log, its staged replays, the lookup, the erasure
# --------------------------------------------------------------------------


def _ingest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def _ingest_staged_src(
    spark: SparkSession,
    sf_dir: str,
    events: DataFrame,
    kind: str = "stream_ingest",
) -> str:
    """Stage an incoming log: originals as 16 ranged files (16 per
    trigger → ONE original micro-batch with 16-way read parallelism),
    then the two exact-copy replay slices appended (current mtimes sort
    after, arriving as the second micro-batch — the at-least-once
    redelivery the dedup state must absorb).  The admitted set is
    key-dedup'd, so batch composition cannot change it."""

    def _write(src: str) -> None:
        _staged_range_write(events, src, 16)
        for bound in (400, 100):
            events.filter(F.col("event_id") < bound).coalesce(1).write.mode(
                "append"
            ).parquet(src)

    return _staged_stream_src(kind, sf_dir, _write)


def _fan_in_staged_src(
    spark: SparkSession, sf_dir: str, events: DataFrame
) -> str:
    """Stage the two-topic log: every event splits into topic
    'events_a' (even ids) or 'events_b' (odd ids) with offset =
    event_id // 2 — so the SAME offset exists on both topics (the
    collision the composite key must keep apart).  Originals as 8
    ranged files, then one exact-copy replay slice per topic."""
    two = events.select(
        F.when(F.col("event_id") % 2 == 0, F.lit("events_a"))
        .otherwise(F.lit("events_b"))
        .alias("src_topic"),
        (F.col("event_id") / 2).cast("long").alias("event_id"),
        "ts",
        "user_id",
        "event_type",
        "value",
        "props",
    )

    def _write(src: str) -> None:
        _staged_range_write(two, src, 8)
        for topic in ("events_a", "events_b"):
            two.filter(
                (F.col("src_topic") == topic) & (F.col("event_id") < 150)
            ).coalesce(1).write.mode("append").parquet(src)

    return _staged_stream_src("fan_in_ingest", sf_dir, _write)


def _lifecycle_staged(
    spark: SparkSession, sf_dir: str, events: DataFrame
) -> tuple[str, str]:
    """Two ingest epochs staged as separate sources: epoch A = the
    standing feed (event_id % 5 != 4, with the capstone's two replay
    slices), epoch B = the next week's increment (event_id % 5 == 4)
    plus an at-least-once REDELIVERY of part of epoch A."""

    def _write_b(src: str) -> None:
        inc = events.filter(F.col("event_id") % 5 == 4)
        red = events.filter(
            (F.col("event_id") % 5 != 4) & (F.col("event_id") < 200)
        )
        _staged_range_write(inc.unionByName(red), src, 4)

    src_a = _ingest_staged_src(
        spark, sf_dir, events.filter(F.col("event_id") % 5 != 4), "lifecycle_a"
    )
    return src_a, _staged_stream_src("lifecycle_b", sf_dir, _write_b)


def _id_slice(df: DataFrame, s: int, w: int) -> DataFrame:
    """The ``s``-th fixed-width event-id slice ``[s·w, (s+1)·w)`` — the
    oracles replay the assignment as ``event_id // w``."""
    return df.filter(
        (F.col("event_id") >= s * w) & (F.col("event_id") < (s + 1) * w)
    )


def _ingest_shared_initial(
    spark: SparkSession, sf_dir: str, events: DataFrame, lookup: DataFrame
) -> tuple[str, str]:
    """The initial sink (every third event) and its Bloom bits, staged
    once per sf_dir in the staging cache: the "already in Oracle" side
    is deterministic, so repeated runs (bench's two passes, the oracle
    compare) share one build."""
    from dvh_airflow_kafka_spark.streaming.ingest import stage_initial

    def _write(base: str) -> None:
        stage_initial(
            spark,
            events.filter(F.col("event_id") % 3 == 0),
            lookup,
            _INGEST_FILTERS,
            os.path.join(base, "rows"),
            os.path.join(base, "bits"),
        )

    base = _staged_stream_src("ingest_init", sf_dir, _write)
    return os.path.join(base, "rows"), os.path.join(base, "bits")


def _ingest_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kode-6/7 lookup, verbatim the certified ``privacy_scrub_k6``
    fixture (FIXTURES.md F-5)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.filter((F.col("c_custkey") % 10) == 0).select(
        F.col("c_custkey").alias("off_id"),
        F.lit("1900-01-01").cast("date").alias("gyldig_fra_dato"),
        F.when(F.col("c_custkey") <= 75, F.lit("2024-06-30"))
        .otherwise(F.lit("9999-12-31"))
        .cast("date")
        .alias("gyldig_til_dato"),
        F.when(F.col("c_custkey") <= 50, F.lit(6)).otherwise(F.lit(7)).alias(
            "skjermet_kode"
        ),
    )


def _erased_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The erasure request ``_ERASE_SQL`` as a ``user_id`` frame."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.filter(
        ((F.col("c_custkey") % 10) == 0) & (F.col("c_custkey") <= 50)
    ).select(F.col("c_custkey").alias("user_id"))


def _reference_duty(
    spark: SparkSession, sf_dir: str, events: DataFrame
) -> dict:
    """``run_ingest_pipeline`` inputs of the reference duty: every third
    event already in the sink (staged once per sf_dir), the kode-6/7
    lookup and the flagship allow-filters."""
    lookup = _ingest_lookup(spark, sf_dir)
    return {
        "initial_sink": events.filter(F.col("event_id") % 3 == 0),
        "lookup": lookup,
        "message_filters": _INGEST_FILTERS,
        "shared_initial": _ingest_shared_initial(
            spark, sf_dir, events, lookup
        ),
    }


def _storage_duty(
    spark: SparkSession, sf_dir: str, events: DataFrame
) -> dict:
    """``run_ingest_pipeline`` inputs of the storage-maintenance chains:
    an empty initial sink, an EMPTY kode-6 lookup and no allow-filters —
    the privacy path is certified by the reference-duty queries; these
    chains certify what the drain leaves on disk."""
    return {
        "initial_sink": events.filter(F.lit(False)),
        "lookup": _ingest_lookup(spark, sf_dir).filter(F.lit(False)),
        "message_filters": [],
    }


# --------------------------------------------------------------------------
# The drain scaffold and the report
# --------------------------------------------------------------------------


@contextmanager
def _ingest_drains(spark: SparkSession, prefix: str):
    """The temp-dir lifecycle of one catalog ingest chain.  Yields
    ``drain(src, files_per_trigger, **kw)``, which runs
    ``run_ingest_pipeline`` over the staged file source ``src`` into the
    chain's one work dir, under a fresh checkpoint per call (a follow-up
    drain is a new epoch whose offset the pipeline derives), with the
    catalog's defaults (``_INGEST_MG_K``, 8 shuffle partitions: the
    staged batches carry ~10⁴-10⁵ rows).  Every dir is removed on exit,
    also when a drain raises — so a report must be collected inside the
    block (``_report``)."""
    from dvh_airflow_kafka_spark.streaming.ingest import run_ingest_pipeline
    from dvh_airflow_kafka_spark.streaming.stateful import read_event_stream

    made = [tempfile.mkdtemp(prefix=prefix)]

    def drain(src: str, files_per_trigger: int, **kw):
        made.append(tempfile.mkdtemp(prefix=f"{prefix}ckpt_"))
        return run_ingest_pipeline(
            spark,
            read_event_stream(
                spark, src, max_files_per_trigger=files_per_trigger
            ),
            work_dir=made[0],
            checkpoint_dir=made[-1],
            mg_k=_INGEST_MG_K,
            shuffle_partitions=8,
            **kw,
        )

    try:
        yield drain
    finally:
        for d in made:
            shutil.rmtree(d, ignore_errors=True)


def _section(
    df: DataFrame,
    section: str | Column,
    dim: str | Column,
    n: Column,
    x: Column | None = None,
) -> DataFrame:
    """One report section: per row of ``df``, the ``section`` name and
    the ``dim`` key (each a Column, or a literal string), ``n`` as a
    long and the double ``x`` (NULL unless given)."""
    return df.select(
        (F.lit(section) if isinstance(section, str) else section).alias(
            "section"
        ),
        (F.lit(dim) if isinstance(dim, str) else dim).alias("dim"),
        n.cast("long").alias("n"),
        (F.lit(None).cast("double") if x is None else x).alias("x"),
    )


def _report(
    spark: SparkSession,
    frames: list[DataFrame],
    rows: Sequence[tuple] = (),
    ddl: str = _REPORT_NX,
) -> DataFrame:
    """The chain's report under ``ddl``: the ``frames`` unioned, cut to
    the ddl's columns and collected, plus the driver-side ``rows``.
    Collected HERE, inside ``_ingest_drains``: the frames read dirs the
    scaffold removes on exit."""
    cols = [c.split()[0] for c in ddl.split(",")]
    got = reduce(DataFrame.unionByName, frames).select(*cols).collect()
    return spark.createDataFrame([tuple(r) for r in got] + list(rows), ddl)


def _sink_total(init: DataFrame, admitted: DataFrame) -> DataFrame:
    return _section(
        init.agg(F.count(F.lit(1)).alias("a")).crossJoin(
            admitted.agg(F.count(F.lit(1)).alias("b"))
        ),
        "sink",
        "total_rows",
        F.col("a") + F.col("b"),
    )


def _admitted_by_partition(admitted: DataFrame) -> DataFrame:
    return _section(
        admitted.groupBy(
            "kafka_partition", F.col("kafka_message").isNull().alias("__nl")
        ).agg(F.count(F.lit(1)).alias("n")),
        "sink",
        F.concat(
            F.lit("admitted|p"),
            F.col("kafka_partition").cast("string"),
            F.lit("|null"),
            F.col("__nl").cast("int").cast("string"),
        ),
        F.col("n"),
    )


def _monitor_sections(spark: SparkSession, dirs, admitted: DataFrame) -> list:
    """The resident monitors' readout off the drain's partials, merged by
    ``ingest.merged_partials``: the HLL estimate with its exact audit,
    the ddsketch percentiles, and the verified heavy users."""
    from dvh_airflow_kafka_spark.streaming.ingest import merged_partials

    merged = merged_partials(spark, dirs)
    exact = admitted.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    # one pass over the estimate emits both HLL rows per event type
    hll = hll_estimate_report(merged["hll"], exact).select(
        "event_type",
        F.explode(
            F.array(
                F.struct(
                    F.lit("hll").alias("s"),
                    F.col("n_nonzero_regs").alias("n"),
                    F.col("hll_estimate").alias("x"),
                ),
                F.struct(
                    F.lit("hll_exact").alias("s"),
                    F.col("n_exact").alias("n"),
                    F.lit(None).cast("double").alias("x"),
                ),
            )
        ).alias("r"),
    )
    dd = ddsketch_report(spark, merged["dd"])
    mg = verify_candidate_counts(
        admitted.select(F.col("user_id").cast("string").alias("__text")),
        merged["mg"],
        k_state=_INGEST_MG_K,
    )
    et = F.col("event_type")
    return [
        _section(hll, F.col("r.s"), et, F.col("r.n"), F.col("r.x")),
        _section(
            dd,
            "ddsketch",
            F.concat(et, F.lit("|p"), F.col("q_pct").cast("string")),
            F.col("value_micro_hi"),
        ),
        _section(mg, "mg_user", F.col("token"), F.col("n_occurrences")),
    ]


def _erasure_rows(stats: dict) -> list:
    return [
        ("erasure", k, stats[k], None)
        for k in ("rows_erased", "initial_rows_erased")
    ]


# --------------------------------------------------------------------------
# Oracle fragments: the relational replay shared by the oracles below
# --------------------------------------------------------------------------

# the capstone's staged log: originals plus the two replay slices,
# deduplicated on the whole row
_REPLAYED_LOG_SQL = """incoming AS (
        SELECT * FROM events
        UNION ALL SELECT * FROM events WHERE event_id < 400
        UNION ALL SELECT * FROM events WHERE event_id < 100
    ), ded AS (
        SELECT DISTINCT event_id, ts, user_id, event_type, "value", props
        FROM incoming
    )"""

# the kode-6/7 lookup (``_ingest_lookup``) as an interval table
_LOOKUP_SQL = """lookup AS (
        SELECT c_custkey AS off_id,
               DATE '1900-01-01' AS f,
               CASE WHEN c_custkey <= 75 THEN DATE '2024-06-30'
                    ELSE DATE '9999-12-31' END AS t
        FROM customer WHERE c_custkey % 10 = 0
    )"""

# the scrub: a flagged person's message is NULLed inside the interval
_SCRUB_SQL = f"""{_LOOKUP_SQL}, adm AS (
        SELECT e.*,
               CASE WHEN l.off_id IS NOT NULL THEN NULL
                    ELSE e.msg0 END AS kafka_message
        FROM env e
        LEFT JOIN lookup l ON e.user_id = l.off_id
                          AND CAST(e.ts AS DATE) BETWEEN l.f AND l.t
    )"""

# the erasure applied to ``adm`` and to the initial sink, with its audit
_ERASED_SQL = """adm_e AS (
        SELECT * FROM adm
        WHERE user_id NOT IN (SELECT uid FROM erased)
    ), s_audit AS (
        SELECT 'erasure' AS section, 'rows_erased' AS dim,
               CAST((SELECT COUNT(*) FROM adm
                     WHERE user_id IN (SELECT uid FROM erased))
                    AS BIGINT) AS n,
               CAST(NULL AS DOUBLE) AS x
        UNION ALL
        SELECT 'erasure', 'initial_rows_erased',
               CAST((SELECT COUNT(*) FROM events
                     WHERE event_id % 3 = 0
                       AND user_id IN (SELECT uid FROM erased))
                    AS BIGINT),
               CAST(NULL AS DOUBLE)
    ), s_total AS (
        SELECT 'sink' AS section, 'total_rows' AS dim,
               CAST((SELECT COUNT(*) FROM events
                     WHERE event_id % 3 = 0
                       AND user_id NOT IN (SELECT uid FROM erased))
                    + (SELECT COUNT(*) FROM adm_e) AS BIGINT) AS n,
               CAST(NULL AS DOUBLE) AS x
    )"""


def _adm_by_partition_sql(src: str) -> str:
    return f"""s_adm AS (
        SELECT 'sink' AS section,
               'admitted|p' || kafka_partition || '|null'
                   || CASE WHEN kafka_message IS NULL
                           THEN 1 ELSE 0 END AS dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(NULL AS DOUBLE) AS x
        FROM {src} GROUP BY kafka_partition, kafka_message IS NULL
    )"""


def _hll_exact_sql(src: str) -> str:
    return f"""s_hllx AS (
        SELECT 'hll_exact' AS section, event_type AS dim,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n,
               CAST(NULL AS DOUBLE) AS x
        FROM {src} GROUP BY event_type
    )"""


def _monitor_sql(src: str) -> str:
    """The monitor readout (``_monitor_sections``) replayed over the
    admitted rows ``src``: the HLL and ddsketch arithmetic of the
    certified standalone queries, exact heavy users above N/k."""
    return f"""{_hll_registers_sql(src, "event_type")},
    {_hll_estimate_sql("hll_regs", "event_type")}, s_hll AS (
        SELECT 'hll' AS section, event_type AS dim,
               CAST(n_nonzero AS BIGINT) AS n, hll_estimate AS x
        FROM hll_readout
    ), {_hll_exact_sql(src)}, {_ddsketch_sql(src, "event_type")}, s_dd AS (
        SELECT 'ddsketch' AS section,
               event_type || '|p' || q_pct AS dim,
               CAST(value_micro_hi AS BIGINT) AS n,
               CAST(NULL AS DOUBLE) AS x
        FROM dd_quantiles
    ), s_mg AS (
        SELECT 'mg_user' AS section,
               CAST(user_id AS VARCHAR) AS dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(NULL AS DOUBLE) AS x
        FROM {src} GROUP BY user_id
        HAVING COUNT(*) * {_INGEST_MG_K} > (SELECT COUNT(*) FROM {src})
    )"""


# --------------------------------------------------------------------------
# streaming_ingest_capstone
# --------------------------------------------------------------------------


@register(
    "streaming_ingest_capstone",
    sql=f"""
    WITH {_REPLAYED_LOG_SQL}, adm0 AS (
        SELECT * FROM ded WHERE event_id % 3 <> 0
    ), env AS (
        SELECT CAST(user_id AS VARCHAR) AS kafka_key,
               epoch_ms(ts) AS kafka_timestamp,
               event_id AS kafka_offset,
               CAST(user_id % 2 AS INT) AS kafka_partition,
               'events' AS kafka_topic,
               sha256(props) AS kafka_hash,
               CASE WHEN json_extract_string(props, '$.k') IN ('87', '12')
                    THEN props ELSE NULL END AS msg0,
               user_id, ts, event_type, "value"
        FROM adm0
    ), {_SCRUB_SQL}, s_total AS (
        SELECT 'sink' AS section, 'total_rows' AS dim,
               CAST((SELECT COUNT(*) FROM events WHERE event_id % 3 = 0)
                    + (SELECT COUNT(*) FROM adm) AS BIGINT) AS n,
               CAST(NULL AS DOUBLE) AS x
    ), {_adm_by_partition_sql("adm")}, {_monitor_sql("adm")}
    SELECT * FROM s_total
    UNION ALL SELECT * FROM s_adm
    UNION ALL SELECT * FROM s_hll
    UNION ALL SELECT * FROM s_hllx
    UNION ALL SELECT * FROM s_dd
    UNION ALL SELECT * FROM s_mg
    """,
)
def streaming_ingest_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] THE REFERENCE'S PRODUCTION DUTY AS ONE STREAMING PIPELINE
    (VERDICT r10 item 3): the Kafka-shaped event log — including
    re-delivered messages, the at-least-once reality S2 commits against
    — drains through envelope (S3/S6/F9/F10) → allow-filter (P3) →
    kode-6/7 scrub (P4/J2) → Bloom-gated J1 dedup against the sink →
    per-batch committed sink writes (ST4 write-then-commit), with the
    RESIDENT sketch monitors (HLL distinct-users, ddsketch value
    quantiles, Misra-Gries heavy users) maintained over the admitted
    rows in the SAME drain (``streaming/ingest.py``).  Reference spine:
    src/mapping.py:35-47; dedup src/oracle_target.py:97-104.

    The result is one operations report: final sink size, admitted-row
    counts by (partition, payload-nulled), and the three monitor
    readouts — hash-checked against a DuckDB oracle that replays the
    ENTIRE duty relationally (distinct-union dedup + envelope CASE +
    interval scrub join + the HLL/ddsketch/MG readout arithmetic of the
    certified standalone queries).

    Cross-engine equality rests on three merge laws, each pinned in
    pytest: admitted rows are batch-composition-invariant (exact-copy
    replays + key dedup); HLL register max-merge and ddsketch count
    sum-merge over per-batch partials equal the one-pass sketches; and
    the union of per-batch Misra-Gries candidate sets is a superset of
    every global heavy hitter (if freq_i ≤ N_i/k in every batch then
    Σfreq ≤ N/k — averaging), so the exact verify pass equals the
    batch MG readout.  The laws have one owner,
    ``ingest.merged_partials``, which this readout and ``compact_sink``
    both read through.

    Scale: the dedup state is the m-bounded Bloom bit frame + the
    sink's key index (probed only on bloom-positives); monitor state is
    O(types·256) registers + O(types·buckets) counts + O(k) candidates
    per batch partial; every per-batch artifact lands in an
    idempotently-overwritten ``b{batch_id}`` dir BEFORE the
    checkpoint commits, so crash/replay is byte-identical
    (tests/test_ingest.py injects the worst-case tear)."""
    events = _ingest_events(spark, sf_dir)
    src = _ingest_staged_src(spark, sf_dir, events)
    with _ingest_drains(spark, "ingest_cap_") as drain:
        dirs = drain(src, 16, **_reference_duty(spark, sf_dir, events))
        init = spark.read.parquet(dirs.initial)
        admitted = dirs.admitted(spark, init).localCheckpoint()
        return _report(
            spark,
            [
                _sink_total(init, admitted),
                _admitted_by_partition(admitted),
                *_monitor_sections(spark, dirs, admitted),
            ],
        )


# --------------------------------------------------------------------------
# streaming_erasure_cascade
# --------------------------------------------------------------------------


@register(
    "streaming_erasure_cascade",
    sql=f"""
    WITH {_REPLAYED_LOG_SQL}, erased AS (
        SELECT c_custkey AS uid FROM customer WHERE {_ERASE_SQL}
    ), adm0 AS (
        SELECT * FROM ded WHERE event_id % 3 <> 0
    ), env AS (
        SELECT event_id AS kafka_offset,
               CAST(user_id % 2 AS INT) AS kafka_partition,
               CASE WHEN json_extract_string(props, '$.k') IN ('87', '12')
                    THEN props ELSE NULL END AS msg0,
               user_id, ts, event_type, "value"
        FROM adm0
    ), {_SCRUB_SQL}, {_ERASED_SQL}, {_monitor_sql("adm_e")}
    SELECT * FROM s_audit
    UNION ALL SELECT * FROM s_total
    UNION ALL SELECT * FROM s_hll
    UNION ALL SELECT * FROM s_hllx
    UNION ALL SELECT * FROM s_dd
    UNION ALL SELECT * FROM s_mg
    """,
)
def streaming_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] STREAMING ERASURE PROPAGATION (VERDICT r11 item 4): the
    kode-6 flag arrives AFTER the ingest pipeline ran — the reference
    applies kode-6/7 only at ingest time (src/oracle_target.py:46-93);
    the GDPR duty a 100 TB sink actually faces is retroactive.  This
    query runs the FULL capstone drain (envelope → allow-filter → scrub
    → Bloom-gated J1 → resident HLL/ddsketch/MG monitors), then
    ``streaming/ingest.erase_users`` cascades the late flag: one
    input_file_name semi-join finds the affected batch dirs, ONLY those
    sink dirs are rewritten and ONLY their monitor partials rebuilt —
    because HLL register maxima are NOT subtractable, the monitors'
    per-batch re-aggregatable-partials layout is precisely what makes
    retroactive erasure an O(affected-batches) rebuild instead of a
    full-corpus repass.  The readout (erasure audit + post-erasure sink
    totals + the three monitor readouts FROM THE PARTIALS) hash-matches
    a DuckDB oracle replaying the duty relationally over
    events-minus-erased.

    Scale: affected-dir discovery is one keys-only projection +
    broadcast semi-join; rebuild cost ∝ erased persons' data locality,
    not corpus size; the Bloom bits / key sidecar deliberately stay
    superset so a re-delivered erased message remains rejected
    (conservative GDPR semantics, pinned in tests/test_ingest.py)."""
    from dvh_airflow_kafka_spark.streaming.ingest import erase_users

    events = _ingest_events(spark, sf_dir)
    src = _ingest_staged_src(spark, sf_dir, events)
    with _ingest_drains(spark, "erase_cap_") as drain:
        dirs = drain(src, 16, **_reference_duty(spark, sf_dir, events))
        stats = erase_users(
            spark, dirs, _erased_users(spark, sf_dir), mg_k=_INGEST_MG_K
        )
        init = spark.read.parquet(dirs.initial)
        admitted = dirs.admitted(spark, init).localCheckpoint()
        return _report(
            spark,
            [
                _sink_total(init, admitted),
                *_monitor_sections(spark, dirs, admitted),
            ],
            _erasure_rows(stats),
        )


# --------------------------------------------------------------------------
# streaming_multi_topic_ingest
# --------------------------------------------------------------------------


@register(
    "streaming_multi_topic_ingest",
    sql=f"""
    WITH two AS (
        SELECT CASE WHEN event_id % 2 = 0 THEN 'events_a'
                    ELSE 'events_b' END AS src_topic,
               event_id // 2 AS off,
               ts, user_id, event_type, "value", props
        FROM events
    ), incoming AS (
        SELECT * FROM two
        UNION ALL SELECT * FROM two
            WHERE src_topic = 'events_a' AND off < 150
        UNION ALL SELECT * FROM two
            WHERE src_topic = 'events_b' AND off < 150
    ), received AS (
        SELECT src_topic, COUNT(*) AS n_received FROM incoming GROUP BY 1
    ), ded AS (
        SELECT DISTINCT src_topic, off, ts, user_id, event_type,
                        "value", props
        FROM incoming
    ), env AS (
        SELECT src_topic,
               CAST(user_id % 2 AS INT) AS kafka_partition,
               CASE WHEN json_extract_string(props, '$.k') IN ('87', '12')
                    THEN props ELSE NULL END AS msg0,
               user_id, ts, "value"
        FROM ded
    ), {_LOOKUP_SQL}, adm AS (
        SELECT e.src_topic, e.kafka_partition, e.user_id, e."value",
               CASE WHEN l.off_id IS NOT NULL THEN NULL
                    ELSE e.msg0 END AS kafka_message
        FROM env e
        LEFT JOIN lookup l ON e.user_id = l.off_id
                          AND CAST(e.ts AS DATE) BETWEEN l.f AND l.t
    ), per_topic AS (
        SELECT src_topic,
               CAST(COUNT(*) AS BIGINT) AS n_admitted,
               CAST(SUM(CASE WHEN kafka_message IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_nulled,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(CAST(floor("value" * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS value_cents
        FROM adm GROUP BY src_topic
    )
    SELECT r.src_topic AS topic,
           CAST(r.n_received AS BIGINT) AS n_received,
           p.n_admitted,
           CAST(r.n_received - p.n_admitted AS BIGINT) AS n_skipped,
           p.n_nulled, p.n_users, p.value_cents
    FROM received r JOIN per_topic p USING (src_topic)
    """,
)
def streaming_multi_topic_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] MULTI-TOPIC FAN-IN through the ingest pipeline (VERDICT
    r11 item 5): the reference runs ONE Mapping per topic
    (src/mapping.py:10-47) and consolidation is its §2.9 explicit
    absence — here TWO event topics drain through a single
    ``run_ingest_pipeline`` into one conformed sink, the column-valued
    ``topic`` flowing through the envelope so the composite
    (topic, partition, offset) dedup key keeps the topics' COLLIDING
    offsets apart (every offset exists on both topics by construction)
    while per-topic replay slices are still rejected as duplicates.

    Readout: the per-topic ProcessSummary counter row — received
    (including the at-least-once redeliveries), admitted, skipped
    (= redelivered dups), allow-filter-nulled, distinct users, exact
    cents sum — the reference's xcom contract (src/main.py:40-53)
    upgraded to per-topic granularity.  One drain, one broadcast scrub
    join per batch, counters as aggregates over the conformed sink: at
    100 TB adding a topic adds partitions to the subscribe, not a new
    pipeline."""
    events = _ingest_events(spark, sf_dir)
    src = _fan_in_staged_src(spark, sf_dir, events)
    with _ingest_drains(spark, "fanin_") as drain:
        dirs = drain(
            src,
            8,
            # schema-matched empty initial (the staged stream carries the
            # extra src_topic column the transform's topic expression
            # reads)
            initial_sink=spark.read.parquet(src).limit(0),
            lookup=_ingest_lookup(spark, sf_dir),
            message_filters=_INGEST_FILTERS,
            topic=F.col("src_topic"),
        )
        init = spark.read.parquet(dirs.initial)
        admitted = dirs.admitted(spark, init)
        received = (
            spark.read.parquet(src)
            .groupBy(F.col("src_topic").alias("topic"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_received"))
        )
        per_topic = admitted.groupBy(
            F.col("kafka_topic").alias("topic")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_admitted"),
            F.sum(
                F.when(F.col("kafka_message").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_nulled"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("long")
            .alias("value_cents"),
        )
        out = received.join(per_topic, "topic").withColumn(
            "n_skipped",
            (F.col("n_received") - F.col("n_admitted")).cast("long"),
        )
        return _report(
            spark,
            [out],
            ddl="topic string, n_received long, n_admitted long, "
            "n_skipped long, n_nulled long, n_users long, value_cents long",
        )


# --------------------------------------------------------------------------
# weekly_ops_capstone
# --------------------------------------------------------------------------

_WEEKLY_BUDGET = 1_000_000


@register(
    "weekly_ops_capstone",
    sql=f"""
    WITH {_REPLAYED_LOG_SQL}, init AS (
        SELECT event_type, "value" FROM events WHERE event_id % 3 = 0
    ), adm AS (
        SELECT event_type, "value" FROM ded WHERE event_id % 3 <> 0
    ), full_sink AS (
        SELECT * FROM init UNION ALL SELECT * FROM adm
    ), mix0 AS (
        SELECT f.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w
        FROM full_sink f GROUP BY f.event_type
    ), mixt AS (SELECT SUM(w) AS tw FROM mix0
    ), adm_rows AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM adm GROUP BY 1
    ), s_mix AS (
        SELECT 'mixture' AS section, m.event_type || '|rows' AS dim,
               m.n_rows AS n, CAST(NULL AS DOUBLE) AS x
        FROM mix0 m
        UNION ALL
        SELECT 'mixture', m.event_type || '|share_ppm',
               CAST((1000000 * m.w) // t.tw AS BIGINT), CAST(NULL AS DOUBLE)
        FROM mix0 m, mixt t
        UNION ALL
        SELECT 'mixture', m.event_type || '|budget',
               CAST(({_WEEKLY_BUDGET} * m.w) // t.tw AS BIGINT),
               CAST(NULL AS DOUBLE)
        FROM mix0 m, mixt t
        UNION ALL
        SELECT 'mixture', a.event_type || '|adm_rows', a.n,
               CAST(NULL AS DOUBLE)
        FROM adm_rows a
    ), cents AS (
        SELECT event_type, CAST(floor("value" * 100 + 0.5) AS BIGINT) AS c,
               1 AS s
        FROM init
        UNION ALL
        SELECT event_type, CAST(floor("value" * 100 + 0.5) AS BIGINT), 0
        FROM adm
    ), cnt AS (
        SELECT event_type, c,
               CAST(SUM(s) AS BIGINT) AS a, CAST(SUM(1 - s) AS BIGINT) AS b
        FROM cents GROUP BY event_type, c
    ), cum AS (
        SELECT event_type,
               SUM(a) OVER (PARTITION BY event_type ORDER BY c) AS ca,
               SUM(b) OVER (PARTITION BY event_type ORDER BY c) AS cb
        FROM cnt
    ), tot AS (
        SELECT event_type,
               CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb
        FROM cnt GROUP BY event_type
    ), s_ks AS (
        SELECT 'ks' AS section, cum.event_type AS dim,
               CAST(MAX(ABS(cum.ca * tot.nb - cum.cb * tot.na)) AS BIGINT)
                   AS n,
               ROUND(CAST(MAX(ABS(cum.ca * tot.nb - cum.cb * tot.na))
                          AS DOUBLE)
                     / CAST(tot.na * tot.nb AS DOUBLE), 6) AS x
        FROM cum JOIN tot USING (event_type)
        WHERE tot.na > 0 AND tot.nb > 0
        GROUP BY cum.event_type, tot.na, tot.nb
    ), o0 AS (
        SELECT 'init' AS cohort, event_type, CAST(COUNT(*) AS BIGINT) AS o
        FROM init GROUP BY event_type
        UNION ALL
        SELECT 'adm', event_type, CAST(COUNT(*) AS BIGINT)
        FROM adm GROUP BY event_type
    ), cells AS (
        SELECT co.cohort, ty.event_type, COALESCE(o0.o, 0) AS o
        FROM (SELECT DISTINCT cohort FROM o0) co
        CROSS JOIN (SELECT DISTINCT event_type FROM o0) ty
        LEFT JOIN o0 ON o0.cohort = co.cohort
                    AND o0.event_type = ty.event_type
    ), rt AS (SELECT cohort, SUM(o) AS r FROM cells GROUP BY cohort),
    ct AS (SELECT event_type, SUM(o) AS c FROM cells GROUP BY event_type),
    nn AS (SELECT SUM(o) AS n FROM cells),
    terms AS (
        SELECT cells.cohort, rt.r,
               CAST(floor(
                   ((CAST(cells.o AS DOUBLE)
                     - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
                       / CAST(nn.n AS DOUBLE))
                    * (CAST(cells.o AS DOUBLE)
                       - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
                         / CAST(nn.n AS DOUBLE))
                    / (CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
                       / CAST(nn.n AS DOUBLE)))
                   * 1000000 + 0.5) AS BIGINT) AS term_micro
        FROM cells JOIN rt ON cells.cohort = rt.cohort
        JOIN ct ON cells.event_type = ct.event_type
        CROSS JOIN nn
    ), s_chi AS (
        SELECT 'chi2' AS section, cohort AS dim,
               CAST(SUM(term_micro) AS BIGINT) AS n,
               CAST(SUM(term_micro) AS DOUBLE) / 1000000 AS x
        FROM terms GROUP BY cohort
    )
    SELECT * FROM s_mix
    UNION ALL SELECT * FROM s_ks
    UNION ALL SELECT * FROM s_chi
    """,
)
def weekly_ops_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] THE FULL PRODUCTION WEEK AS ONE CERTIFIED CHAIN (VERDICT
    r11 item 8): run the streaming ingest duty, then — OFF THE
    PIPELINE'S OWN ARTIFACTS, not a re-read of the source table — the
    two weekly follow-ups a data-platform team runs when the drain
    lands:

    1. **Mixture rebalance** over the post-ingest sink (initial ∪
       admitted): per event_type, floor(sqrt(count))-weighted share_ppm
       and token-budget split in pure BIGINT arithmetic
       (``mixture_rebalance_incremental``'s cross-engine convention).
    2. **Drift gate** between the standing corpus (initial sink) and
       this week's admitted increment: per-type two-sample KS on the
       cents-quantized value distribution
       (``ext/stats.keyed_ks_two_sample``, integer numerator) and the
       2×K chi-square homogeneity of the type MIX between the two
       cohorts (``event_mix_chi2_drift``'s micro-quantized terms).

    One drain + three bounded aggregates over counts frames: the
    monitor state after the first shuffle is O(types × distinct cents),
    never raw events — at 100 TB the weekly report is an
    O(increment + counts) pass off the sink the drain just wrote."""
    from dvh_airflow_kafka_spark.ext import stats as xstats

    events = _ingest_events(spark, sf_dir)
    src = _ingest_staged_src(spark, sf_dir, events)
    with _ingest_drains(spark, "weekly_ops_") as drain:
        dirs = drain(src, 16, **_reference_duty(spark, sf_dir, events))
        init = spark.read.parquet(dirs.initial).select("event_type", "value")
        adm = dirs.admitted(
            spark, spark.read.parquet(dirs.initial)
        ).select("event_type", "value")
        init = init.localCheckpoint(eager=False)
        adm = adm.localCheckpoint(eager=False)
        et = F.col("event_type")

        full_sink = init.unionByName(adm)
        mix0 = full_sink.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows")
        ).withColumn(
            "w",
            F.floor(F.sqrt(F.col("n_rows").cast("double"))).cast("long"),
        )
        tw = mix0.agg(F.sum("w").alias("tw"))
        mixj = mix0.crossJoin(F.broadcast(tw))
        s_rows = _section(
            mixj, "mixture", F.concat(et, F.lit("|rows")), F.col("n_rows")
        )
        # exact BIGINT div, matching the oracle's integer `//` — double
        # division rounds differently once 1e6·w exceeds 2^53 (ADVICE r12)
        s_share = _section(
            mixj,
            "mixture",
            F.concat(et, F.lit("|share_ppm")),
            F.expr("(1000000L * w) div tw"),
        )
        s_budget = _section(
            mixj,
            "mixture",
            F.concat(et, F.lit("|budget")),
            F.expr(f"({_WEEKLY_BUDGET}L * w) div tw"),
        )
        s_adm = _section(
            adm.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
            "mixture",
            F.concat(et, F.lit("|adm_rows")),
            F.col("n"),
        )
        cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
        contrib = init.select(
            "event_type", cents.alias("c"), F.lit(True).alias("early")
        ).unionByName(
            adm.select(
                "event_type", cents.alias("c"), F.lit(False).alias("early")
            )
        )
        s_ks = _section(
            xstats.keyed_ks_two_sample(
                contrib,
                ["event_type"],
                "c",
                "early",
                n_a="n_prev",
                n_b="n_cur",
                ks_num="ks_num",
                ks_stat="ks_stat",
            ).filter((F.col("n_prev") > 0) & (F.col("n_cur") > 0)),
            "ks",
            et,
            F.col("ks_num"),
            F.col("ks_stat"),
        )
        o0 = (
            init.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("o"))
            .withColumn("cohort", F.lit("init"))
            .unionByName(
                adm.groupBy("event_type")
                .agg(F.count(F.lit(1)).cast("long").alias("o"))
                .withColumn("cohort", F.lit("adm"))
            )
            .localCheckpoint(eager=False)
        )
        cohorts = o0.select("cohort").distinct()
        types = o0.select("event_type").distinct()
        cells = (
            cohorts.crossJoin(types)
            .join(o0, ["cohort", "event_type"], "left")
            .select(
                "cohort",
                "event_type",
                F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o"),
            )
        )
        rt = cells.groupBy("cohort").agg(F.sum("o").alias("r"))
        ct = cells.groupBy("event_type").agg(F.sum("o").alias("ctot"))
        nn = cells.agg(F.sum("o").alias("nn"))
        e = (
            F.col("r").cast("double")
            * F.col("ctot").cast("double")
            / F.col("nn").cast("double")
        )
        term = F.floor(
            (
                (F.col("o").cast("double") - e)
                * (F.col("o").cast("double") - e)
                / e
            )
            * 1000000
            + F.lit(0.5)
        ).cast("long")
        chi = (
            cells.join(F.broadcast(rt), "cohort")
            .join(F.broadcast(ct), "event_type")
            .crossJoin(F.broadcast(nn))
            .select("cohort", term.alias("term_micro"))
            .groupBy("cohort")
            .agg(F.sum("term_micro").cast("long").alias("n"))
        )
        s_chi = _section(
            chi,
            "chi2",
            F.col("cohort"),
            F.col("n"),
            F.col("n").cast("double") / 1000000,
        )
        return _report(
            spark, [s_rows, s_share, s_budget, s_adm, s_ks, s_chi]
        )


# --------------------------------------------------------------------------
# ingest_lifecycle_capstone
# --------------------------------------------------------------------------


@register(
    "ingest_lifecycle_capstone",
    sql=f"""
    WITH inc_a AS (
        SELECT * FROM events WHERE event_id % 5 <> 4
        UNION ALL SELECT * FROM events
            WHERE event_id % 5 <> 4 AND event_id < 400
        UNION ALL SELECT * FROM events
            WHERE event_id % 5 <> 4 AND event_id < 100
    ), inc_b AS (
        SELECT * FROM events WHERE event_id % 5 = 4
        UNION ALL SELECT * FROM events
            WHERE event_id % 5 <> 4 AND event_id < 200
    ), ded AS (
        SELECT DISTINCT event_id, ts, user_id, event_type, "value", props
        FROM (SELECT * FROM inc_a UNION ALL SELECT * FROM inc_b)
    ), erased AS (
        SELECT c_custkey AS uid FROM customer WHERE {_ERASE_SQL}
    ), adm0 AS (
        SELECT * FROM ded WHERE event_id % 3 <> 0
    ), env AS (
        SELECT CAST(user_id % 2 AS INT) AS kafka_partition,
               CASE WHEN json_extract_string(props, '$.k') IN ('87', '12')
                    THEN props ELSE NULL END AS msg0,
               user_id, ts, event_type
        FROM adm0
    ), {_SCRUB_SQL}, {_ERASED_SQL}, {_adm_by_partition_sql("adm_e")},
    {_hll_exact_sql("adm_e")}
    SELECT * FROM s_audit
    UNION ALL SELECT * FROM s_total
    UNION ALL SELECT * FROM s_adm
    UNION ALL SELECT * FROM s_hllx
    """,
)
def ingest_lifecycle_capstone(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] THE FULL SINK LIFECYCLE, MULTI-EPOCH, AS ONE CERTIFIED
    CHAIN: drain epoch A (the reference duty with replay slices) →
    ``compact_sink`` folds the per-batch dirs and their monitor
    partials back to one per root (merge-by-law) → drain epoch B (the
    next increment, carrying an at-least-once REDELIVERY of epoch-A
    messages that the standing dedup state must reject across both the
    epoch boundary and the compaction; its fresh checkpoint's epoch
    offset is derived above the consolidated dir) → a late kode-6
    erasure request cascades through ``erase_users`` into the
    consolidated sink and its rebuilt partials.  The readout (erasure
    audit, post-erasure totals, admitted-by-partition, exact distinct
    users per type) hash-matches a DuckDB oracle replaying both epochs
    relationally.

    Every mechanism in the chain carries its own pytest-pinned law
    (replay byte-idempotence, compaction rollback, epoch-offset tag
    ordering, erasure rebuild-equals-fresh); this query is the
    integration certificate that they COMPOSE — the week-over-week
    operating loop a 100 TB deployment actually runs."""
    from dvh_airflow_kafka_spark.streaming.ingest import (
        compact_sink,
        erase_users,
    )

    events = _ingest_events(spark, sf_dir)
    src_a, src_b = _lifecycle_staged(spark, sf_dir, events)
    duty = _reference_duty(spark, sf_dir, events)
    with _ingest_drains(spark, "lifecycle_") as drain:
        compact_sink(spark, drain(src_a, 16, **duty))
        dirs = drain(src_b, 4, **duty)
        stats = erase_users(
            spark, dirs, _erased_users(spark, sf_dir), mg_k=_INGEST_MG_K
        )
        init = spark.read.parquet(dirs.initial)
        admitted = dirs.admitted(spark, init).localCheckpoint()
        s_hllx = _section(
            admitted.groupBy("event_type").agg(
                F.count_distinct("user_id").alias("n")
            ),
            "hll_exact",
            F.col("event_type"),
            F.col("n"),
        )
        return _report(
            spark,
            [
                _sink_total(init, admitted),
                _admitted_by_partition(admitted),
                s_hllx,
            ],
            _erasure_rows(stats),
        )


# --------------------------------------------------------------------------
# auto_compaction_policy
# --------------------------------------------------------------------------

# fixed slice count for the staged micro-batch layout (one file -> one
# batch -> one sink dir; 4 batches keeps the fixture drain ~capstone-
# priced while still reaching the policy threshold), the dir-count
# threshold above which the
# policy fires, and the divisor sizing each compaction bin at ~1/3 of
# the corpus — all part of the closed-form spec the oracle replays
_N_SLICES = 4
_MIN_DIRS = 4
_BIN_DIV = 3


@register(
    "auto_compaction_policy",
    sql=f"""
    WITH p AS (
        SELECT CAST((MAX(event_id) + {_N_SLICES}) // {_N_SLICES} AS BIGINT)
                   AS w,
               CAST((COUNT(*) + {_BIN_DIV - 1}) // {_BIN_DIV} AS BIGINT)
                   AS target
        FROM events
    ), inv AS (
        SELECT CAST(MIN(e.event_id) AS BIGINT) AS first_off,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events e CROSS JOIN p
        GROUP BY e.event_id // p.w
    ), binned AS (
        SELECT first_off, n_rows,
               COALESCE(SUM(n_rows) OVER (ORDER BY first_off
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS prefix_rows
        FROM inv
    ), plan AS (
        SELECT CAST(b.prefix_rows // p.target AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(b.n_rows) AS BIGINT) AS bin_rows,
               MIN(b.first_off) AS lo, MAX(b.first_off) AS hi
        FROM binned b CROSS JOIN p
        GROUP BY 1
    )
    SELECT 'inventory' AS section, 'n_dirs' AS dim,
           CAST(COUNT(*) AS BIGINT) AS n FROM inv
    UNION ALL
    SELECT 'inventory', 'slice|' || CAST(first_off AS VARCHAR), n_rows
    FROM inv
    UNION ALL
    SELECT 'plan', 'bin' || CAST(bin AS VARCHAR) || '|files', n_files
    FROM plan
    UNION ALL
    SELECT 'plan', 'bin' || CAST(bin AS VARCHAR) || '|rows', bin_rows
    FROM plan
    UNION ALL
    SELECT 'plan', 'bin' || CAST(bin AS VARCHAR) || '|lo', lo FROM plan
    UNION ALL
    SELECT 'plan', 'bin' || CAST(bin AS VARCHAR) || '|hi', hi FROM plan
    UNION ALL
    SELECT 'policy', 'fired',
           CAST(CASE WHEN COUNT(*) >= {_MIN_DIRS} THEN 1 ELSE 0 END
                AS BIGINT)
    FROM inv
    UNION ALL
    SELECT 'layout_after', r.root, CAST(1 AS BIGINT)
    FROM (VALUES ('sink'),('bits'),('hll'),('dd'),('mg')) AS r(root)
    UNION ALL
    SELECT 'layout_after', 'tag_id', CAST(COUNT(*) - 1 AS BIGINT) FROM inv
    UNION ALL
    SELECT 'content', 'total_rows', CAST(COUNT(*) AS BIGINT) FROM events
    UNION ALL
    SELECT 'content', 'users|' || event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT)
    FROM events GROUP BY event_type
    """,
)
def auto_compaction_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] THE OPTIMIZE LOOP AS ONE CERTIFIED CHAIN (VERDICT r12 item
    8): the PLANNING side the catalog already certifies
    (``small_file_compaction_plan``, the bin-packing window of
    Delta/Iceberg ``OPTIMIZE``) unified with the EXECUTION side the
    ingest pipeline carries (``streaming/ingest.compact_sink``).  The
    reference has no storage maintenance at all — its sink is an Oracle
    table and the database compacts for it (src/oracle_target.py:40-76);
    the Spark twin owns its parquet layout, so the weekly OPTIMIZE pass
    is part of the equivalent operating duty.

    A rate-limited drain (``maxFilesPerTrigger=1`` over 4 staged
    equal-width event-id slices) fragments the ingest sink into 4
    per-batch dirs — the small-file problem every streaming sink
    accretes — then the maintenance pass runs OFF THE PIPELINE'S OWN
    ARTIFACTS:

    1. **Inventory**: one metadata-scale aggregate over the sink dirs
       (``input_file_name`` parent tag -> per-dir row count + first
       offset) — the file-listing a real OPTIMIZE starts from, here
       derived from the data so the oracle can replay it exactly.
    2. **Plan**: ``ext/layout.plan_compaction_bins`` — the SAME
       bin-packing kernel ``small_file_compaction_plan`` certifies —
       packs the dirs into ~``total/3``-row bins in first-offset order
       (exclusive-prefix-sum binning, exactly SQL-mirrorable).
    3. **Policy**: compact when the dir count reaches ``_MIN_DIRS`` —
       the auto-OPTIMIZE trigger a table service runs on a schedule.
    4. **Execution**: ``streaming/ingest.compact_sink`` folds all five
       per-batch roots (sink + Bloom bits + HLL/ddsketch/MG monitor
       partials) to ONE consolidated dir each under its crash-rollback
       marker protocol (rollback law pytest-pinned).
    5. **Audit**: post-compaction layout (one dir per root, tag =
       highest folded batch) and content preservation (total rows,
       exact distinct users per type off the compacted sink).

    The drain runs the scrub/filter spine with an EMPTY kode-6 lookup
    and no allow-filters (``_storage_duty``).

    Scale: the inventory and plan are metadata-sized (one row per
    file/dir — a million rows at 100 TB), the policy is a count
    threshold, and ``compact_sink``'s rewrite is the one full-data pass
    a real OPTIMIZE also pays, amortized by running only when the
    policy fires.  Nothing here is driver-side except the bounded
    (|dirs|-row) inventory collect that parameterizes the plan."""
    from dvh_airflow_kafka_spark.ext.layout import plan_compaction_bins
    from dvh_airflow_kafka_spark.streaming.ingest import (
        _batch_dirs,
        _sink_roots,
        compact_sink,
    )

    events = _ingest_events(spark, sf_dir)

    def _write(src: str) -> None:
        # _N_SLICES equal-width event-id slices, one FILE each (one file
        # -> one micro-batch -> one sink dir): fixed integer boundaries
        # so the oracle replays the slice assignment with `event_id // w`
        base = events.localCheckpoint()
        max_id = int(base.agg(F.max("event_id")).collect()[0][0])
        w = (max_id + _N_SLICES) // _N_SLICES  # ceil((max_id+1)/n)
        _staged_file_write(
            src,
            [
                (f"slice-{s:02d}.parquet", _id_slice(base, s, w))
                for s in range(_N_SLICES)
            ],
        )

    src = _staged_stream_src("auto_compact", sf_dir, _write)
    with _ingest_drains(spark, "auto_compact_") as drain:
        dirs = drain(src, 1, **_storage_duty(spark, sf_dir, events))
        fs = dirs.fs(spark)
        bdirs = _batch_dirs(fs, dirs.sink)
        inv = (
            spark.read.parquet(*bdirs)
            .select(
                F.element_at(
                    F.split(F.input_file_name(), "/"), -2
                ).alias("__tag"),
                "kafka_offset",
            )
            .groupBy("__tag")
            .agg(
                F.min("kafka_offset").cast("bigint").alias("first_off"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
            )
            .select("first_off", "n_rows")
            .localCheckpoint()
        )
        total = int(
            inv.agg(F.sum("n_rows").alias("t")).collect()[0]["t"]
        )
        target = (total + _BIN_DIV - 1) // _BIN_DIV
        plan = plan_compaction_bins(
            inv.withColumn("g", F.lit("sink")),
            "g",
            "first_off",
            "n_rows",
            target,
        ).localCheckpoint()
        fired = len(bdirs) >= _MIN_DIRS
        if fired:
            compact_sink(spark, dirs)

        bindim = F.concat(F.lit("bin"), F.col("bin").cast("string"))
        s_plan = [
            _section(plan, "plan", F.concat(bindim, F.lit(f"|{k}")), F.col(c))
            for k, c in (
                ("files", "n_files"),
                ("rows", "total_bytes"),
                ("lo", "first_file"),
                ("hi", "last_file"),
            )
        ]
        layout = [
            ("layout_after", name, len(_batch_dirs(fs, root)))
            for name, root in _sink_roots(dirs).items()
        ]
        tag = os.path.basename(_batch_dirs(fs, dirs.sink)[-1].rstrip("/"))
        layout.append(("layout_after", "tag_id", int(tag[1:])))
        adm = dirs.admitted(
            spark, spark.read.parquet(dirs.initial)
        ).localCheckpoint()
        return _report(
            spark,
            [
                _section(
                    inv.agg(F.count(F.lit(1)).alias("n")),
                    "inventory",
                    "n_dirs",
                    F.col("n"),
                ),
                _section(
                    inv,
                    "inventory",
                    F.concat(
                        F.lit("slice|"), F.col("first_off").cast("string")
                    ),
                    F.col("n_rows"),
                ),
                *s_plan,
                _section(
                    adm.agg(F.count(F.lit(1)).alias("n")),
                    "content",
                    "total_rows",
                    F.col("n"),
                ),
                _section(
                    adm.groupBy("event_type").agg(
                        F.count_distinct("user_id").alias("n")
                    ),
                    "content",
                    F.concat(F.lit("users|"), F.col("event_type")),
                    F.col("n"),
                ),
            ],
            layout + [("policy", "fired", int(fired))],
            ddl=_REPORT_N,
        )


# --------------------------------------------------------------------------
# erasure_key_purge
# --------------------------------------------------------------------------

# the purge chain's closed-form staging spec (all replayed by the
# oracle): epoch A = the first 3/5 of the event-id range in two
# fixed-width slice files; epoch B = the next 1/5 as the fresh
# increment, PLUS a redelivery of half the erased rows (event_id even)
# and a deterministic sample of non-erased duplicates (event_id % 11)
_PURGE_A_SLICES = 2


def _purge_cuts(max_id: int) -> tuple[int, int]:
    n = max_id + 1
    return (n * 3) // 5, (n * 4) // 5


@register(
    "erasure_key_purge",
    sql="""
    WITH m AS (
        SELECT ((MAX(event_id) + 1) * 3) // 5 AS cut1,
               ((MAX(event_id) + 1) * 4) // 5 AS cut2
        FROM events
    ), er AS (
        SELECT c_custkey AS user_id FROM customer
        WHERE c_custkey % 10 = 0 AND c_custkey <= 50
    ), a AS (
        SELECT e.* FROM events e CROSS JOIN m WHERE e.event_id < m.cut1
    ), bfresh AS (
        SELECT e.* FROM events e CROSS JOIN m
        WHERE e.event_id >= m.cut1 AND e.event_id < m.cut2
    ), a_erased AS (
        SELECT a.* FROM a WHERE a.user_id IN (SELECT user_id FROM er)
    ), final AS (
        SELECT * FROM a WHERE user_id NOT IN (SELECT user_id FROM er)
        UNION ALL
        SELECT * FROM a_erased WHERE event_id % 2 = 0
        UNION ALL
        SELECT * FROM bfresh
    )
    SELECT 'erasure' AS section, 'affected_batches' AS dim,
           CAST(COUNT(DISTINCT ae.event_id // ((m.cut1 + 1) // 2))
                AS BIGINT) AS n
    FROM a_erased ae CROSS JOIN m GROUP BY m.cut1
    UNION ALL
    SELECT 'erasure', 'rows_erased', CAST(COUNT(*) AS BIGINT)
    FROM a_erased
    UNION ALL
    SELECT 'erasure', 'initial_rows_erased', CAST(0 AS BIGINT)
    UNION ALL
    SELECT 'sink', 'total_rows', CAST(COUNT(*) AS BIGINT) FROM final
    UNION ALL
    SELECT 'sink', 'rows|' || event_type, CAST(COUNT(*) AS BIGINT)
    FROM final GROUP BY event_type
    UNION ALL
    SELECT 'audit', 'erased_readmitted', CAST(COUNT(*) AS BIGINT)
    FROM a_erased WHERE event_id % 2 = 0
    UNION ALL
    SELECT 'audit', 'distinct_keys', CAST(COUNT(*) AS BIGINT) FROM final
    UNION ALL
    SELECT 'invariant', 'probe_superset', CAST(1 AS BIGINT)
    """,
)
def erasure_key_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] THE purge_keys ERASURE STANCE END-TO-END (VERDICT r12 item
    4, certifying the ``erase_users(purge_keys=True)`` mechanism
    in-window): when the dedup identity is CONTENT-DERIVED — here
    ``key_cols=("kafka_hash", "kafka_offset")``, mirroring the
    reference's own test config keying on ``kafka_hash``
    (src/development/conftest.py) — GDPR erasure must remove the key
    material from the standing index too, not just the sink rows.  The
    chain:

    1. drain epoch A (two fixed-width slice files -> two sink dirs);
    2. ``erase_users(purge_keys=True)``: affected dirs rewritten
       (pruned by the batch-tag semi-join), the key sidecar compacted
       MINUS the erased keys, the Bloom gate rebuilt from the purged
       sidecar into the committed ``bits_cum`` snapshot;
    3. drain epoch B into the same work_dir (fresh checkpoint,
       ``epoch_offset`` AUTO-DERIVED via the persisted epoch
       contract): a fresh increment, a redelivery of HALF the erased
       rows (even event_id), and a deterministic sample of non-erased
       duplicates;
    4. readout: the redelivered erased rows are ADMITTED again (this
       policy's contract — they are genuinely absent from sink and
       index), the non-erased duplicates stay REJECTED (their keys
       survived the purge), totals and per-type counts land on the
       relational replay, ``distinct_keys`` == ``total_rows`` proves
       zero duplicate admissions, and the probe-superset law is
       re-checked engine-side against the purged sidecar.

    The DuckDB oracle replays the whole lifecycle as set algebra over
    ``events`` x ``customer`` — erasure, half-redelivery, dup
    rejection included.

    Scale: both drains are the bounded-probe ingest duty; the erasure
    is O(affected dirs + sidecar ∪ m-row bit frame) — the purge is
    compaction-priced, not corpus-priced.  The engine-side superset
    check is one keys-only anti-join."""
    from dvh_airflow_kafka_spark.streaming.ingest import erase_users
    from dvh_airflow_kafka_spark.streaming.keyindex import SinkKeyIndex

    events = _ingest_events(spark, sf_dir)
    erased = _erased_users(spark, sf_dir)
    key_cols = ("kafka_hash", "kafka_offset")

    max_id = int(events.agg(F.max("event_id")).collect()[0][0])
    cut1, cut2 = _purge_cuts(max_id)
    a = events.filter(F.col("event_id") < cut1)
    w_a = (cut1 + _PURGE_A_SLICES - 1) // _PURGE_A_SLICES

    def _write_a(src: str) -> None:
        base = a.localCheckpoint()
        _staged_file_write(
            src,
            [
                (f"slice-{s}.parquet", _id_slice(base, s, w_a))
                for s in range(_PURGE_A_SLICES)
            ],
        )

    def _write_b(src: str) -> None:
        fresh = events.filter(
            (F.col("event_id") >= cut1) & (F.col("event_id") < cut2)
        )
        red_erased = a.join(F.broadcast(erased), "user_id", "semi").filter(
            F.col("event_id") % 2 == 0
        )
        red_dup = a.join(F.broadcast(erased), "user_id", "anti").filter(
            F.col("event_id") % 11 == 0
        )
        _staged_file_write(
            src,
            [
                (f"{name}.parquet", df.select(*a.columns))
                for name, df in (
                    ("fresh", fresh),
                    ("redeliver", red_erased.unionByName(red_dup)),
                )
            ],
        )

    src_a = _staged_stream_src("purge_a", sf_dir, _write_a)
    src_b = _staged_stream_src("purge_b", sf_dir, _write_b)
    duty = dict(_storage_duty(spark, sf_dir, events), key_cols=key_cols)
    with _ingest_drains(spark, "key_purge_") as drain:
        dirs = drain(src_a, 1, **duty)
        stats = erase_users(
            spark, dirs, erased, key_cols=key_cols, purge_keys=True
        )
        dirs = drain(src_b, 1, **duty)
        adm = dirs.admitted(
            spark, spark.read.parquet(dirs.initial)
        ).localCheckpoint()
        # probe-superset law re-checked against the PURGED sidecar: an
        # admitted key missing from the index would let a redelivery
        # back in — the count must be zero, published as the 0/1 law
        side = SinkKeyIndex(spark, dirs.sink, key_cols).stored_keys()
        missing = adm.select(*key_cols).join(
            side, list(key_cols), "anti"
        ).count()
        one = F.count(F.lit(1)).alias("n")
        return _report(
            spark,
            [
                _section(adm.agg(one), "sink", "total_rows", F.col("n")),
                _section(
                    adm.groupBy("event_type").agg(one),
                    "sink",
                    F.concat(F.lit("rows|"), F.col("event_type")),
                    F.col("n"),
                ),
                # only epoch-A offsets count as REadmitted — erased
                # users' fresh epoch-B messages are new data, not
                # redeliveries
                _section(
                    adm.filter(F.col("kafka_offset") < cut1)
                    .join(F.broadcast(erased), "user_id", "semi")
                    .agg(one),
                    "audit",
                    "erased_readmitted",
                    F.col("n"),
                ),
                _section(
                    adm.select(*key_cols).distinct().agg(one),
                    "audit",
                    "distinct_keys",
                    F.col("n"),
                ),
            ],
            [("erasure", k, n) for k, n in stats.items()]
            + [("invariant", "probe_superset", int(missing == 0))],
            ddl=_REPORT_N,
        )
