"""Round-12 compositions (VERDICT r11 items 4+5): GDPR erasure
cascading into the ingest pipeline's resident monitors, and multi-topic
fan-in through the same pipeline.

Both run the REAL streaming ingest duty (``streaming/ingest.py``) and
hash-check the readout against a DuckDB oracle that replays the whole
composition relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.catalog._core import (
    _staged_stream_src,
    register,
)
from dvh_airflow_kafka_spark.catalog.q13_round11 import (
    _INGEST_FILTERS,
    _INGEST_MG_K,
    _ingest_lookup,
    _ingest_shared_initial,
    _ingest_staged_src,
)
from dvh_airflow_kafka_spark.ext.sketch import (
    HLL_M as _HLL_M,
    HLL_REM as _HLL_REM,
    HLL_SALT as _HLL_SALT,
)
from dvh_airflow_kafka_spark.io import load_table

# the kode-6 cohort of the certified privacy fixture (FIXTURES.md F-5):
# the erasure request that arrives AFTER these persons' rows were
# ingested
_ERASE_SQL = "c_custkey % 10 = 0 AND c_custkey <= 50"


@register(
    "streaming_erasure_cascade",
    sql=rf"""
    WITH incoming AS (
        SELECT * FROM events
        UNION ALL SELECT * FROM events WHERE event_id < 400
        UNION ALL SELECT * FROM events WHERE event_id < 100
    ), ded AS (
        SELECT DISTINCT event_id, ts, user_id, event_type, "value", props
        FROM incoming
    ), erased AS (
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
    ), lookup AS (
        SELECT c_custkey AS off_id,
               DATE '1900-01-01' AS f,
               CASE WHEN c_custkey <= 75 THEN DATE '2024-06-30'
                    ELSE DATE '9999-12-31' END AS t
        FROM customer WHERE c_custkey % 10 = 0
    ), adm AS (
        SELECT e.*,
               CASE WHEN l.off_id IS NOT NULL THEN NULL
                    ELSE e.msg0 END AS kafka_message
        FROM env e
        LEFT JOIN lookup l ON e.user_id = l.off_id
                          AND CAST(e.ts AS DATE) BETWEEN l.f AND l.t
    ), adm_e AS (
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
    ), h AS (
        SELECT event_type,
               ('0x' || substr(sha256('{_HLL_SALT}|'
                                      || CAST(user_id AS VARCHAR)), 1, 8)
               )::BIGINT AS u
        FROM adm_e
    ), r2 AS (
        SELECT event_type, u // {_HLL_REM} AS bucket,
               CASE WHEN (u % {_HLL_REM}) = 0 THEN 25
                    ELSE 25 - length(bin(u % {_HLL_REM})) END AS rho
        FROM h
    ), regs AS (
        SELECT event_type, bucket, MAX(rho) AS m_rho
        FROM r2 GROUP BY 1, 2
    ), est AS (
        SELECT event_type,
               COUNT(*) AS n_nonzero,
               SUM(power(2.0, -m_rho)) AS s_nz
        FROM regs GROUP BY event_type
    ), hraw AS (
        SELECT event_type, n_nonzero,
               (0.7213 / (1 + 1.079 / {_HLL_M}.0))
                   * {_HLL_M}.0 * {_HLL_M}.0
                   / (s_nz + ({_HLL_M} - n_nonzero) * 1.0) AS re
        FROM est
    ), s_hll AS (
        SELECT 'hll' AS section, event_type AS dim,
               CAST(n_nonzero AS BIGINT) AS n,
               ROUND(CASE WHEN re <= 2.5 * {_HLL_M}
                           AND n_nonzero < {_HLL_M}
                          THEN {_HLL_M}.0 * ln({_HLL_M}.0
                                   / ({_HLL_M} - n_nonzero))
                          ELSE re END, 4) AS x
        FROM hraw
    ), s_hllx AS (
        SELECT 'hll_exact' AS section, event_type AS dim,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n,
               CAST(NULL AS DOUBLE) AS x
        FROM adm_e GROUP BY event_type
    ), v AS (
        SELECT event_type,
               CAST(floor("value" * 1000000 + 0.5) AS BIGINT) AS vm
        FROM adm_e
    ), bk AS (
        SELECT event_type,
               CAST(length(bin(vm)) - 1 AS BIGINT) AS b,
               CAST((vm >> greatest(length(bin(vm)) - 1 - 4, 0)) & 15
                    AS BIGINT) AS s
        FROM v WHERE vm >= 1
    ), c AS (
        SELECT event_type, b, s, CAST(COUNT(*) AS BIGINT) AS c
        FROM bk GROUP BY event_type, b, s
    ), cum AS (
        SELECT event_type, b, s, c,
               CAST(CASE WHEN b >= 4 THEN (s + 17) << (b - 4)
                         ELSE s + 1 END AS BIGINT) AS hi,
               CAST(SUM(c) OVER (PARTITION BY event_type
                                 ORDER BY b, s) AS BIGINT) AS cum,
               CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS nn
        FROM c
    ), q AS (SELECT unnest([50, 90, 99]) AS q_pct
    ), hit AS (
        SELECT cum.event_type, q.q_pct, cum.hi,
               row_number() OVER (PARTITION BY cum.event_type, q.q_pct
                                  ORDER BY cum.b, cum.s) AS rn
        FROM cum, q
        WHERE cum.cum >= floor((q.q_pct * cum.nn + 99) / 100)
    ), s_dd AS (
        SELECT 'ddsketch' AS section,
               event_type || '|p' || q_pct AS dim,
               CAST(hi AS BIGINT) AS n,
               CAST(NULL AS DOUBLE) AS x
        FROM hit WHERE rn = 1
    ), s_mg AS (
        SELECT 'mg_user' AS section,
               CAST(user_id AS VARCHAR) AS dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(NULL AS DOUBLE) AS x
        FROM adm_e GROUP BY user_id
        HAVING COUNT(*) * {_INGEST_MG_K} > (SELECT COUNT(*) FROM adm_e)
    )
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
    (conservative GDPR semantics, pinned in
    tests/test_round12_ops.py)."""
    import shutil
    import tempfile

    from dvh_airflow_kafka_spark.catalog.q03_curation import _ddsketch_report
    from dvh_airflow_kafka_spark.ext.sketch import (
        hll_estimate_report,
        verify_candidate_counts,
    )
    from dvh_airflow_kafka_spark.streaming.ingest import (
        erase_users,
        run_ingest_pipeline,
    )
    from dvh_airflow_kafka_spark.streaming.stateful import read_event_stream

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = _ingest_staged_src(spark, sf_dir, events)
    lookup = _ingest_lookup(spark, sf_dir)
    shared = _ingest_shared_initial(spark, sf_dir, events, lookup)
    customer = load_table(spark, sf_dir, "customer")
    erased = customer.filter(
        ((F.col("c_custkey") % 10) == 0) & (F.col("c_custkey") <= 50)
    ).select(F.col("c_custkey").alias("user_id"))
    work = tempfile.mkdtemp(prefix="erase_cap_")
    ckpt = tempfile.mkdtemp(prefix="erase_cap_ckpt_")
    try:
        dirs = run_ingest_pipeline(
            spark,
            read_event_stream(spark, src, max_files_per_trigger=16),
            work_dir=work,
            checkpoint_dir=ckpt,
            initial_sink=events.filter(F.col("event_id") % 3 == 0),
            lookup=lookup,
            message_filters=_INGEST_FILTERS,
            mg_k=_INGEST_MG_K,
            shared_initial=shared,
            shuffle_partitions=8,
        )
        stats = erase_users(spark, dirs, erased, mg_k=_INGEST_MG_K)
        init = spark.read.parquet(dirs.initial)
        admitted = dirs.admitted(spark, init).localCheckpoint()
        nul = F.lit(None).cast("double")
        s_audit = spark.createDataFrame(
            [
                ("erasure", "rows_erased", stats["rows_erased"], None),
                (
                    "erasure",
                    "initial_rows_erased",
                    stats["initial_rows_erased"],
                    None,
                ),
            ],
            "section string, dim string, n long, x double",
        )
        s_total = (
            init.agg(F.count(F.lit(1)).alias("a"))
            .crossJoin(admitted.agg(F.count(F.lit(1)).alias("b")))
            .select(
                F.lit("sink").alias("section"),
                F.lit("total_rows").alias("dim"),
                (F.col("a") + F.col("b")).cast("long").alias("n"),
                nul.alias("x"),
            )
        )
        regs = (
            dirs.partials(
                spark,
                dirs.hll,
                schema="event_type string, bucket long, m_rho int",
            )
            .groupBy("event_type", "bucket")
            .agg(F.max("m_rho").alias("m_rho"))
        )
        exact = admitted.groupBy("event_type").agg(
            F.count_distinct("user_id").cast("long").alias("n_exact")
        )
        hll = hll_estimate_report(regs, exact).localCheckpoint(eager=False)
        s_hll = hll.select(
            F.lit("hll").alias("section"),
            F.col("event_type").alias("dim"),
            F.col("n_nonzero_regs").cast("long").alias("n"),
            F.col("hll_estimate").alias("x"),
        )
        s_hllx = hll.select(
            F.lit("hll_exact").alias("section"),
            F.col("event_type").alias("dim"),
            F.col("n_exact").cast("long").alias("n"),
            nul.alias("x"),
        )
        ddc = (
            dirs.partials(
                spark,
                dirs.dd,
                schema="event_type string, b long, s long, c long",
            )
            .groupBy("event_type", "b", "s")
            .agg(F.sum("c").alias("c"))
        )
        s_dd = _ddsketch_report(spark, ddc).select(
            F.lit("ddsketch").alias("section"),
            F.concat(
                F.col("event_type"),
                F.lit("|p"),
                F.col("q_pct").cast("string"),
            ).alias("dim"),
            F.col("value_micro_hi").cast("long").alias("n"),
            nul.alias("x"),
        )
        candidates = dirs.partials(
            spark, dirs.mg, schema="token string"
        ).distinct()
        slim = admitted.select(
            F.col("user_id").cast("string").alias("__text")
        )
        s_mg = verify_candidate_counts(
            slim, candidates, k_state=_INGEST_MG_K
        ).select(
            F.lit("mg_user").alias("section"),
            F.col("token").alias("dim"),
            F.col("n_occurrences").cast("long").alias("n"),
            nul.alias("x"),
        )
        report = (
            s_audit.unionByName(s_total)
            .unionByName(s_hll)
            .unionByName(s_hllx)
            .unionByName(s_dd)
            .unionByName(s_mg)
        )
        rows = report.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(
        rows, "section string, dim string, n long, x double"
    )


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
        from dvh_airflow_kafka_spark.catalog._core import _staged_range_write

        _staged_range_write(two, src, 8)
        two.filter(
            (F.col("src_topic") == "events_a") & (F.col("event_id") < 150)
        ).coalesce(1).write.mode("append").parquet(src)
        two.filter(
            (F.col("src_topic") == "events_b") & (F.col("event_id") < 150)
        ).coalesce(1).write.mode("append").parquet(src)

    return _staged_stream_src("fan_in_ingest", sf_dir, _write)


@register(
    "streaming_multi_topic_ingest",
    sql="""
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
    ), lookup AS (
        SELECT c_custkey AS off_id,
               DATE '1900-01-01' AS f,
               CASE WHEN c_custkey <= 75 THEN DATE '2024-06-30'
                    ELSE DATE '9999-12-31' END AS t
        FROM customer WHERE c_custkey % 10 = 0
    ), adm AS (
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
    import shutil
    import tempfile

    from dvh_airflow_kafka_spark.streaming.ingest import run_ingest_pipeline
    from dvh_airflow_kafka_spark.streaming.stateful import read_event_stream

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = _fan_in_staged_src(spark, sf_dir, events)
    lookup = _ingest_lookup(spark, sf_dir)
    # schema-matched empty initial (the staged stream carries the extra
    # src_topic column the transform's topic expression reads)
    empty_initial = spark.read.parquet(src).limit(0)
    work = tempfile.mkdtemp(prefix="fanin_")
    ckpt = tempfile.mkdtemp(prefix="fanin_ckpt_")
    try:
        dirs = run_ingest_pipeline(
            spark,
            read_event_stream(spark, src, max_files_per_trigger=8),
            work_dir=work,
            checkpoint_dir=ckpt,
            initial_sink=empty_initial,
            lookup=lookup,
            message_filters=_INGEST_FILTERS,
            mg_k=_INGEST_MG_K,
            topic=F.col("src_topic"),
            shuffle_partitions=8,
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
        out = received.join(per_topic, "topic").select(
            "topic",
            "n_received",
            "n_admitted",
            (F.col("n_received") - F.col("n_admitted"))
            .cast("long")
            .alias("n_skipped"),
            "n_nulled",
            "n_users",
            "value_cents",
        )
        rows = out.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "topic string, n_received long, n_admitted long, n_skipped long, "
        "n_nulled long, n_users long, value_cents long",
    )


_WEEKLY_BUDGET = 1_000_000


@register(
    "weekly_ops_capstone",
    sql=rf"""
    WITH incoming AS (
        SELECT * FROM events
        UNION ALL SELECT * FROM events WHERE event_id < 400
        UNION ALL SELECT * FROM events WHERE event_id < 100
    ), ded AS (
        SELECT DISTINCT event_id, ts, user_id, event_type, "value", props
        FROM incoming
    ), init AS (
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
    import shutil
    import tempfile

    from dvh_airflow_kafka_spark.ext import stats as xstats
    from dvh_airflow_kafka_spark.streaming.ingest import run_ingest_pipeline
    from dvh_airflow_kafka_spark.streaming.stateful import read_event_stream

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = _ingest_staged_src(spark, sf_dir, events)
    lookup = _ingest_lookup(spark, sf_dir)
    shared = _ingest_shared_initial(spark, sf_dir, events, lookup)
    work = tempfile.mkdtemp(prefix="weekly_ops_")
    ckpt = tempfile.mkdtemp(prefix="weekly_ops_ckpt_")
    try:
        dirs = run_ingest_pipeline(
            spark,
            read_event_stream(spark, src, max_files_per_trigger=16),
            work_dir=work,
            checkpoint_dir=ckpt,
            initial_sink=events.filter(F.col("event_id") % 3 == 0),
            lookup=lookup,
            message_filters=_INGEST_FILTERS,
            mg_k=_INGEST_MG_K,
            shared_initial=shared,
            shuffle_partitions=8,
        )
        init = spark.read.parquet(dirs.initial).select("event_type", "value")
        adm = dirs.admitted(
            spark, spark.read.parquet(dirs.initial)
        ).select("event_type", "value")
        init = init.localCheckpoint(eager=False)
        adm = adm.localCheckpoint(eager=False)
        nul = F.lit(None).cast("double")

        full_sink = init.unionByName(adm)
        mix0 = full_sink.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows")
        ).withColumn(
            "w",
            F.floor(F.sqrt(F.col("n_rows").cast("double"))).cast("long"),
        )
        tw = mix0.agg(F.sum("w").alias("tw"))
        mixj = mix0.crossJoin(F.broadcast(tw))
        s_rows = mixj.select(
            F.lit("mixture").alias("section"),
            F.concat(F.col("event_type"), F.lit("|rows")).alias("dim"),
            F.col("n_rows").alias("n"),
            nul.alias("x"),
        )
        s_share = mixj.select(
            F.lit("mixture").alias("section"),
            F.concat(F.col("event_type"), F.lit("|share_ppm")).alias("dim"),
            # exact BIGINT div, matching the oracle's integer `//` —
            # double division rounds differently once 1e6·w exceeds
            # 2^53 (q13_round11.py's div convention, ADVICE r12)
            F.expr("(1000000L * w) div tw").alias("n"),
            nul.alias("x"),
        )
        s_budget = mixj.select(
            F.lit("mixture").alias("section"),
            F.concat(F.col("event_type"), F.lit("|budget")).alias("dim"),
            F.expr(f"({_WEEKLY_BUDGET}L * w) div tw").alias("n"),
            nul.alias("x"),
        )
        s_adm = adm.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ).select(
            F.lit("mixture").alias("section"),
            F.concat(F.col("event_type"), F.lit("|adm_rows")).alias("dim"),
            "n",
            nul.alias("x"),
        )
        cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
        contrib = init.select(
            "event_type", cents.alias("c"), F.lit(True).alias("early")
        ).unionByName(
            adm.select(
                "event_type", cents.alias("c"), F.lit(False).alias("early")
            )
        )
        s_ks = (
            xstats.keyed_ks_two_sample(
                contrib,
                ["event_type"],
                "c",
                "early",
                n_a="n_prev",
                n_b="n_cur",
                ks_num="ks_num",
                ks_stat="ks_stat",
            )
            .filter((F.col("n_prev") > 0) & (F.col("n_cur") > 0))
            .select(
                F.lit("ks").alias("section"),
                F.col("event_type").alias("dim"),
                F.col("ks_num").cast("long").alias("n"),
                F.col("ks_stat").alias("x"),
            )
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
        s_chi = (
            cells.join(F.broadcast(rt), "cohort")
            .join(F.broadcast(ct), "event_type")
            .crossJoin(F.broadcast(nn))
            .select("cohort", term.alias("term_micro"))
            .groupBy("cohort")
            .agg(F.sum("term_micro").cast("long").alias("n"))
            .select(
                F.lit("chi2").alias("section"),
                F.col("cohort").alias("dim"),
                "n",
                (F.col("n").cast("double") / 1000000).alias("x"),
            )
        )
        report = (
            s_rows.unionByName(s_share)
            .unionByName(s_budget)
            .unionByName(s_adm)
            .unionByName(s_ks)
            .unionByName(s_chi)
        )
        rows = report.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(
        rows, "section string, dim string, n long, x double"
    )


def _lifecycle_staged(
    spark: SparkSession, sf_dir: str, events: DataFrame, kind: str
) -> str:
    """Two ingest epochs staged as separate sources: epoch A = the
    standing feed (event_id % 5 != 4, with the capstone's two replay
    slices), epoch B = the next week's increment (event_id % 5 == 4)
    plus an at-least-once REDELIVERY of part of epoch A."""
    from dvh_airflow_kafka_spark.catalog._core import _staged_range_write

    if kind == "a":
        part = events.filter(F.col("event_id") % 5 != 4)

        def _write(src: str) -> None:
            _staged_range_write(part, src, 16)
            part.filter(F.col("event_id") < 400).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            part.filter(F.col("event_id") < 100).coalesce(1).write.mode(
                "append"
            ).parquet(src)

    else:

        def _write(src: str) -> None:
            inc = events.filter(F.col("event_id") % 5 == 4)
            red = events.filter(
                (F.col("event_id") % 5 != 4) & (F.col("event_id") < 200)
            )
            _staged_range_write(inc.unionByName(red), src, 4)

    return _staged_stream_src(f"lifecycle_{kind}", sf_dir, _write)


@register(
    "ingest_lifecycle_capstone",
    sql=rf"""
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
    ), lookup AS (
        SELECT c_custkey AS off_id,
               DATE '1900-01-01' AS f,
               CASE WHEN c_custkey <= 75 THEN DATE '2024-06-30'
                    ELSE DATE '9999-12-31' END AS t
        FROM customer WHERE c_custkey % 10 = 0
    ), adm AS (
        SELECT e.*,
               CASE WHEN l.off_id IS NOT NULL THEN NULL
                    ELSE e.msg0 END AS kafka_message
        FROM env e
        LEFT JOIN lookup l ON e.user_id = l.off_id
                          AND CAST(e.ts AS DATE) BETWEEN l.f AND l.t
    ), adm_e AS (
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
    ), s_adm AS (
        SELECT 'sink' AS section,
               'admitted|p' || kafka_partition || '|null'
                   || CASE WHEN kafka_message IS NULL
                           THEN 1 ELSE 0 END AS dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(NULL AS DOUBLE) AS x
        FROM adm_e GROUP BY kafka_partition, kafka_message IS NULL
    ), s_hllx AS (
        SELECT 'hll_exact' AS section, event_type AS dim,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n,
               CAST(NULL AS DOUBLE) AS x
        FROM adm_e GROUP BY event_type
    )
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
    epoch boundary and the compaction) → a late kode-6 erasure request
    cascades through ``erase_users`` into the consolidated sink and its
    rebuilt partials.  The readout (erasure audit, post-erasure totals,
    admitted-by-partition, exact distinct users per type) hash-matches
    a DuckDB oracle replaying both epochs relationally.

    Every mechanism in the chain carries its own pytest-pinned law
    (replay byte-idempotence, compaction rollback, epoch-offset tag
    ordering, erasure rebuild-equals-fresh); this query is the
    integration certificate that they COMPOSE — the week-over-week
    operating loop a 100 TB deployment actually runs."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from dvh_airflow_kafka_spark.streaming.ingest import (
        compact_sink,
        erase_users,
        run_ingest_pipeline,
    )
    from dvh_airflow_kafka_spark.streaming.stateful import read_event_stream

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src_a = _lifecycle_staged(spark, sf_dir, events, "a")
    src_b = _lifecycle_staged(spark, sf_dir, events, "b")
    lookup = _ingest_lookup(spark, sf_dir)
    shared = _ingest_shared_initial(spark, sf_dir, events, lookup)
    customer = load_table(spark, sf_dir, "customer")
    erased = customer.filter(
        ((F.col("c_custkey") % 10) == 0) & (F.col("c_custkey") <= 50)
    ).select(F.col("c_custkey").alias("user_id"))
    work = tempfile.mkdtemp(prefix="lifecycle_")
    cka = tempfile.mkdtemp(prefix="lifecycle_cka_")
    ckb = tempfile.mkdtemp(prefix="lifecycle_ckb_")
    try:
        dirs = run_ingest_pipeline(
            spark,
            read_event_stream(spark, src_a, max_files_per_trigger=16),
            work_dir=work,
            checkpoint_dir=cka,
            initial_sink=events.filter(F.col("event_id") % 3 == 0),
            lookup=lookup,
            message_filters=_INGEST_FILTERS,
            mg_k=_INGEST_MG_K,
            shared_initial=shared,
            shuffle_partitions=8,
        )
        compact_sink(spark, dirs)
        max_id = max(
            int(os.path.basename(p)[1:])
            for p in _glob.glob(os.path.join(dirs.sink, "b*"))
        )
        dirs = run_ingest_pipeline(
            spark,
            read_event_stream(spark, src_b, max_files_per_trigger=4),
            work_dir=work,
            checkpoint_dir=ckb,
            initial_sink=events.filter(F.col("event_id") % 3 == 0),
            lookup=lookup,
            message_filters=_INGEST_FILTERS,
            mg_k=_INGEST_MG_K,
            shared_initial=shared,
            epoch_offset=max_id + 1,
            shuffle_partitions=8,
        )
        stats = erase_users(spark, dirs, erased, mg_k=_INGEST_MG_K)
        init = spark.read.parquet(dirs.initial)
        admitted = dirs.admitted(spark, init).localCheckpoint()
        nul = F.lit(None).cast("double")
        s_audit = spark.createDataFrame(
            [
                ("erasure", "rows_erased", stats["rows_erased"], None),
                (
                    "erasure",
                    "initial_rows_erased",
                    stats["initial_rows_erased"],
                    None,
                ),
            ],
            "section string, dim string, n long, x double",
        )
        s_total = (
            init.agg(F.count(F.lit(1)).alias("a"))
            .crossJoin(admitted.agg(F.count(F.lit(1)).alias("b")))
            .select(
                F.lit("sink").alias("section"),
                F.lit("total_rows").alias("dim"),
                (F.col("a") + F.col("b")).cast("long").alias("n"),
                nul.alias("x"),
            )
        )
        s_adm = admitted.groupBy(
            "kafka_partition",
            F.col("kafka_message").isNull().alias("__nl"),
        ).agg(F.count(F.lit(1)).cast("long").alias("n")).select(
            F.lit("sink").alias("section"),
            F.concat(
                F.lit("admitted|p"),
                F.col("kafka_partition").cast("string"),
                F.lit("|null"),
                F.col("__nl").cast("int").cast("string"),
            ).alias("dim"),
            "n",
            nul.alias("x"),
        )
        s_hllx = admitted.groupBy("event_type").agg(
            F.count_distinct("user_id").cast("long").alias("n")
        ).select(
            F.lit("hll_exact").alias("section"),
            F.col("event_type").alias("dim"),
            "n",
            nul.alias("x"),
        )
        report = (
            s_audit.unionByName(s_total)
            .unionByName(s_adm)
            .unionByName(s_hllx)
        )
        rows = report.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(cka, ignore_errors=True)
        shutil.rmtree(ckb, ignore_errors=True)
    return spark.createDataFrame(
        rows, "section string, dim string, n long, x double"
    )


from dvh_airflow_kafka_spark.catalog._core import REGISTRY as _REGISTRY


@register(
    "streaming_priority_sample",
    # shares the batch kernel's oracle VERBATIM — the cross-engine proof
    # that resident top-k state equals the batch sample (q07 registers
    # weighted_priority_sample before this module imports)
    sql=_REGISTRY["weighted_priority_sample"].sql,
)
def streaming_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The weighted priority sample (Duffield-Lund-Thorup) AS
    RESIDENT STREAMING STATE — the EIGHTH batch/streaming twin family
    (after ddsketch, count-min, Misra-Gries, HLL, KMV, Bloom, and the
    mixture COUNT/SUM state): documents drain through a file stream in
    4 micro-batches; each source's top-20 rows by the exact-integer
    priority ``w·2^32 div (h+1)`` live in the state store across
    batches (``streaming/stateful.priority_topk_with_state``),
    truncated to k per batch — top-k-of-union telescopes exactly like
    KMV's k-min (a row outranked by ≥ k better rows can never
    re-enter), so the final snapshot equals the batch
    ``weighted_priority_sample`` kernel bit-for-bit and this query
    shares its DuckDB oracle VERBATIM.

    The priority hash stays JVM-side (sha-prefix before the stateful
    operator; Python only merges bounded top-k frames).  State is O(k)
    rows per source FOREVER — the resident weight-proportional corpus
    subsample a 100 TB ingest keeps beside its sketch monitors, ready
    at every batch boundary with no corpus rescan."""
    from dvh_airflow_kafka_spark.catalog._core import _staged_range_write
    from dvh_airflow_kafka_spark.catalog.q07_clustering import (
        _PRIORITY_K,
        _PRIORITY_SALT,
    )
    from dvh_airflow_kafka_spark.streaming.stateful import (
        priority_topk_with_state,
        read_event_stream,
        run_drain,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )

    def _write(src: str) -> None:
        # 4 files -> 4 micro-batches; top-k-of-union is a mergeable,
        # order-free reduction, so batch composition is irrelevant
        _staged_range_write(docs, src, 4)

    src = _staged_stream_src("stream_priority", sf_dir, _write)
    h = F.conv(
        F.substring(
            F.sha2(
                F.concat(
                    F.lit(_PRIORITY_SALT), F.col("doc_id").cast("string")
                ),
                256,
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    stream = (
        read_event_stream(spark, src)
        .select(
            F.col("source").alias("g"),
            "doc_id",
            F.greatest(F.col("n_chars"), F.lit(1)).cast("long").alias(
                "weight"
            ),
            h.alias("__hv"),
        )
        .withColumn(
            "priority", F.expr("weight * 4294967296 DIV (__hv + 1)")
        )
    )
    emitted = run_drain(
        priority_topk_with_state(stream, k=_PRIORITY_K),
        mode="update",
        shuffle_partitions=8,
    ).table
    w = Window.partitionBy("g").orderBy(F.col("seq").desc())
    latest = (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("g").alias("source"),
            F.arrays_zip("ids", "weights", "priorities").alias("z"),
        )
    )
    rk = Window.partitionBy("source").orderBy(
        F.col("priority").desc(), F.col("doc_id")
    )
    return (
        latest.select("source", F.explode("z").alias("r"))
        .select(
            "source",
            F.col("r.ids").alias("doc_id"),
            F.col("r.weights").alias("weight"),
            F.col("r.priorities").alias("priority"),
        )
        .withColumn("rank", F.row_number().over(rk).cast("int"))
    )

