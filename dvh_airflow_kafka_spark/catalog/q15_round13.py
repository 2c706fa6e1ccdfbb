"""Round-13 composition: the OPTIMIZE-style auto-compaction policy loop
(VERDICT r12 item 8) — the PLANNING side the catalog already certifies
(``small_file_compaction_plan``, the bin-packing window of Delta/Iceberg
``OPTIMIZE``) unified with the EXECUTION side the ingest pipeline
already carries (``streaming/ingest.compact_sink``) into one certified
maintenance chain: drain -> inventory the sink layout off the
pipeline's own artifacts -> bin-pack a compaction plan -> a threshold
policy decides -> ``compact_sink`` executes -> the post-layout audit
and content-preservation totals close the loop.

Reference anchor: the reference has no storage maintenance at all — its
sink is an Oracle table and the database compacts for it
(src/oracle_target.py:40-76).  The Spark twin owns its parquet layout,
so the weekly OPTIMIZE pass is part of the equivalent operating duty.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.catalog._core import (
    _staged_stream_src,
    register,
)
from dvh_airflow_kafka_spark.io import load_table

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
    8): a rate-limited drain (``maxFilesPerTrigger=1`` over 4 staged
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
       marker protocol (rollback law pytest-pinned in round 12).
    5. **Audit**: post-compaction layout (one dir per root, tag =
       highest folded batch) and content preservation (total rows,
       exact distinct users per type off the compacted sink).

    The drain runs the scrub/filter spine with an EMPTY kode-6 lookup
    and no allow-filters — the privacy path is certified by the five
    round-12 ingest queries; this chain certifies the STORAGE
    MAINTENANCE duty those queries only exercise mechanically.

    Scale: the inventory and plan are metadata-sized (one row per
    file/dir — a million rows at 100 TB), the policy is a count
    threshold, and ``compact_sink``'s rewrite is the one full-data pass
    a real OPTIMIZE also pays, amortized by running only when the
    policy fires.  Nothing here is driver-side except the bounded
    (|dirs|-row) inventory collect that parameterizes the plan."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from dvh_airflow_kafka_spark.catalog.q13_round11 import _ingest_lookup
    from dvh_airflow_kafka_spark.ext.layout import plan_compaction_bins
    from dvh_airflow_kafka_spark.streaming.ingest import (
        _batch_dirs,
        compact_sink,
        run_ingest_pipeline,
    )
    from dvh_airflow_kafka_spark.streaming.stateful import read_event_stream

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )

    def _write(src: str) -> None:
        # _N_SLICES equal-width event-id slices, one FILE each (one file -> one
        # micro-batch -> one sink dir): fixed integer boundaries so the
        # oracle replays the slice assignment with `event_id // w`
        os.makedirs(src, exist_ok=True)
        base = events.localCheckpoint()
        max_id = int(base.agg(F.max("event_id")).collect()[0][0])
        w = (max_id + _N_SLICES) // _N_SLICES  # ceil((max_id+1)/n)
        for s in range(_N_SLICES):
            tmp = tempfile.mkdtemp(prefix="ac_slice_")
            (
                base.filter(
                    (F.col("event_id") >= s * w)
                    & (F.col("event_id") < (s + 1) * w)
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(src, f"slice-{s:02d}.parquet"))
            shutil.rmtree(tmp, ignore_errors=True)

    src = _staged_stream_src("auto_compact", sf_dir, _write)
    work = tempfile.mkdtemp(prefix="auto_compact_")
    ckpt = tempfile.mkdtemp(prefix="auto_compact_ckpt_")
    try:
        dirs = run_ingest_pipeline(
            spark,
            read_event_stream(spark, src, max_files_per_trigger=1),
            work_dir=work,
            checkpoint_dir=ckpt,
            initial_sink=events.filter(F.lit(False)),
            lookup=_ingest_lookup(spark, sf_dir).filter(F.lit(False)),
            message_filters=[],
            shuffle_partitions=8,
        )
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
        )
        fired = len(bdirs) >= _MIN_DIRS
        if fired:
            compact_sink(spark, dirs)

        s_ninv = inv.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
            F.lit("inventory").alias("section"),
            F.lit("n_dirs").alias("dim"),
            "n",
        )
        s_inv = inv.select(
            F.lit("inventory").alias("section"),
            F.concat(
                F.lit("slice|"), F.col("first_off").cast("string")
            ).alias("dim"),
            F.col("n_rows").alias("n"),
        )
        bindim = F.concat(F.lit("bin"), F.col("bin").cast("string"))
        p = plan.localCheckpoint()
        s_pf = p.select(
            F.lit("plan").alias("section"),
            F.concat(bindim, F.lit("|files")).alias("dim"),
            F.col("n_files").cast("long").alias("n"),
        )
        s_pr = p.select(
            F.lit("plan").alias("section"),
            F.concat(bindim, F.lit("|rows")).alias("dim"),
            F.col("total_bytes").cast("long").alias("n"),
        )
        s_plo = p.select(
            F.lit("plan").alias("section"),
            F.concat(bindim, F.lit("|lo")).alias("dim"),
            F.col("first_file").cast("long").alias("n"),
        )
        s_phi = p.select(
            F.lit("plan").alias("section"),
            F.concat(bindim, F.lit("|hi")).alias("dim"),
            F.col("last_file").cast("long").alias("n"),
        )
        init = spark.read.parquet(dirs.initial)
        roots_after = {
            "sink": dirs.sink,
            "bits": dirs.bits,
            "hll": dirs.hll,
            "dd": dirs.dd,
            "mg": dirs.mg,
        }
        after_rows = [
            ("layout_after", name, len(_batch_dirs(fs, root)))
            for name, root in roots_after.items()
        ]
        sink_tags = [
            int(d.rstrip("/").rsplit("/", 1)[-1][1:])
            for d in _batch_dirs(fs, dirs.sink)
        ]
        after_rows.append(("layout_after", "tag_id", sink_tags[-1]))
        after_rows.append(("policy", "fired", int(fired)))
        s_after = spark.createDataFrame(
            after_rows, "section string, dim string, n long"
        )
        adm = dirs.admitted(spark, init).localCheckpoint()
        s_tot = adm.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
            F.lit("content").alias("section"),
            F.lit("total_rows").alias("dim"),
            "n",
        )
        s_users = adm.groupBy("event_type").agg(
            F.count_distinct("user_id").cast("long").alias("n")
        ).select(
            F.lit("content").alias("section"),
            F.concat(F.lit("users|"), F.col("event_type")).alias("dim"),
            "n",
        )
        report = (
            s_ninv.unionByName(s_inv)
            .unionByName(s_pf)
            .unionByName(s_pr)
            .unionByName(s_plo)
            .unionByName(s_phi)
            .unionByName(s_after)
            .unionByName(s_tot)
            .unionByName(s_users)
        )
        rows = report.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(
        rows, "section string, dim string, n long"
    )


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
    4, certifying the round-13 ``erase_users(purge_keys=True)``
    mechanism in-window): when the dedup identity is CONTENT-DERIVED —
    here ``key_cols=("kafka_hash", "kafka_offset")``, mirroring the
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
       ``epoch_offset`` AUTO-DERIVED via the round-13 persisted epoch
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
    import glob as _glob
    import os
    import shutil
    import tempfile

    from dvh_airflow_kafka_spark.catalog.q13_round11 import _ingest_lookup
    from dvh_airflow_kafka_spark.streaming.ingest import (
        erase_users,
        run_ingest_pipeline,
    )
    from dvh_airflow_kafka_spark.streaming.keyindex import SinkKeyIndex
    from dvh_airflow_kafka_spark.streaming.stateful import read_event_stream

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    customer = load_table(spark, sf_dir, "customer")
    erased = customer.filter(
        ((F.col("c_custkey") % 10) == 0) & (F.col("c_custkey") <= 50)
    ).select(F.col("c_custkey").alias("user_id"))
    key_cols = ("kafka_hash", "kafka_offset")

    max_id = int(events.agg(F.max("event_id")).collect()[0][0])
    cut1, cut2 = _purge_cuts(max_id)
    a = events.filter(F.col("event_id") < cut1)
    w_a = (cut1 + _PURGE_A_SLICES - 1) // _PURGE_A_SLICES

    def _write_a(src: str) -> None:
        os.makedirs(src, exist_ok=True)
        base = a.localCheckpoint()
        for s in range(_PURGE_A_SLICES):
            tmp = tempfile.mkdtemp(prefix="purge_a_")
            (
                base.filter(
                    (F.col("event_id") >= s * w_a)
                    & (F.col("event_id") < (s + 1) * w_a)
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(src, f"slice-{s}.parquet"))
            shutil.rmtree(tmp, ignore_errors=True)

    def _write_b(src: str) -> None:
        os.makedirs(src, exist_ok=True)
        fresh = events.filter(
            (F.col("event_id") >= cut1) & (F.col("event_id") < cut2)
        )
        red_erased = a.join(F.broadcast(erased), "user_id", "semi").filter(
            F.col("event_id") % 2 == 0
        )
        red_dup = a.join(F.broadcast(erased), "user_id", "anti").filter(
            F.col("event_id") % 11 == 0
        )
        for name, df in (
            ("fresh", fresh),
            ("redeliver", red_erased.unionByName(red_dup)),
        ):
            tmp = tempfile.mkdtemp(prefix="purge_b_")
            df.select(*a.columns).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(src, f"{name}.parquet"))
            shutil.rmtree(tmp, ignore_errors=True)

    src_a = _staged_stream_src("purge_a", sf_dir, _write_a)
    src_b = _staged_stream_src("purge_b", sf_dir, _write_b)
    lookup = _ingest_lookup(spark, sf_dir).filter(F.lit(False))
    work = tempfile.mkdtemp(prefix="key_purge_")
    cka = tempfile.mkdtemp(prefix="key_purge_cka_")
    ckb = tempfile.mkdtemp(prefix="key_purge_ckb_")
    try:
        dirs = run_ingest_pipeline(
            spark,
            read_event_stream(spark, src_a, max_files_per_trigger=1),
            work_dir=work,
            checkpoint_dir=cka,
            initial_sink=events.filter(F.lit(False)),
            lookup=lookup,
            message_filters=[],
            key_cols=key_cols,
            shuffle_partitions=8,
        )
        stats = erase_users(
            spark, dirs, erased, key_cols=key_cols, purge_keys=True
        )
        dirs = run_ingest_pipeline(
            spark,
            read_event_stream(spark, src_b, max_files_per_trigger=1),
            work_dir=work,
            checkpoint_dir=ckb,
            initial_sink=events.filter(F.lit(False)),
            lookup=lookup,
            message_filters=[],
            key_cols=key_cols,
            shuffle_partitions=8,
        )
        init = spark.read.parquet(dirs.initial)
        adm = dirs.admitted(spark, init).localCheckpoint()
        s_stats = spark.createDataFrame(
            [
                ("erasure", "affected_batches", stats["affected_batches"]),
                ("erasure", "rows_erased", stats["rows_erased"]),
                (
                    "erasure",
                    "initial_rows_erased",
                    stats["initial_rows_erased"],
                ),
            ],
            "section string, dim string, n long",
        )
        s_tot = adm.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
            F.lit("sink").alias("section"),
            F.lit("total_rows").alias("dim"),
            "n",
        )
        s_types = adm.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ).select(
            F.lit("sink").alias("section"),
            F.concat(F.lit("rows|"), F.col("event_type")).alias("dim"),
            "n",
        )
        # only epoch-A offsets count as REadmitted — erased users'
        # fresh epoch-B messages are new data, not redeliveries
        s_back = adm.filter(F.col("kafka_offset") < cut1).join(
            F.broadcast(erased), "user_id", "semi"
        ).agg(F.count(F.lit(1)).cast("long").alias("n")).select(
            F.lit("audit").alias("section"),
            F.lit("erased_readmitted").alias("dim"),
            "n",
        )
        s_keys = adm.select(*key_cols).distinct().agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ).select(
            F.lit("audit").alias("section"),
            F.lit("distinct_keys").alias("dim"),
            "n",
        )
        # probe-superset law re-checked against the PURGED sidecar: an
        # admitted key missing from the index would let a redelivery
        # back in — the count must be zero, published as the 0/1 law
        side = SinkKeyIndex(spark, dirs.sink, key_cols).stored_keys()
        missing = adm.select(*key_cols).join(
            side, list(key_cols), "anti"
        ).count()
        s_inv = spark.createDataFrame(
            [("invariant", "probe_superset", int(missing == 0))],
            "section string, dim string, n long",
        )
        report = (
            s_stats.unionByName(s_tot)
            .unionByName(s_types)
            .unionByName(s_back)
            .unionByName(s_keys)
            .unionByName(s_inv)
        )
        rows = report.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(cka, ignore_errors=True)
        shutil.rmtree(ckb, ignore_errors=True)
    return spark.createDataFrame(
        rows, "section string, dim string, n long"
    )
