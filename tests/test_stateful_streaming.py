"""Stateful streaming: watermarked tumbling-window aggregation (built-in
state store) and applyInPandasWithState gap sessionization, both checked
against their batch equivalents on the same data — the batch plan is the
oracle for the streaming operator."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.streaming.stateful import (
    read_event_stream,
    run_drain,
    sessionize_with_state,
    windowed_event_counts,
)

GAP_MIN = 30


def _mk_events(spark, rows):
    """rows: (event_id, user_id, minute_offset, event_type, value)"""
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    data = [
        (eid, uid, base + dt.timedelta(minutes=m), etype, float(v))
        for (eid, uid, m, etype, v) in rows
    ]
    return spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )


@pytest.fixture()
def session_log(spark, tmp_path):
    """Two micro-batch files; user 1 has two gap-split sessions inside
    file A plus a continuation in file B; user 2 is a single session."""
    src = str(tmp_path / "log")
    # file A: user1 session1 (0,10min), session2 starts at 60min;
    #         user2 session (5,15min)
    a = _mk_events(
        spark,
        [
            (1, 1, 0, "view", 1.0),
            (2, 1, 10, "click", 2.0),
            (3, 1, 60, "view", 3.0),
            (4, 2, 5, "view", 4.0),
            (5, 2, 15, "purchase", 5.0),
        ],
    )
    # file B: user1 continues session2 at 70min, then far-future events
    # push the watermark beyond every open session's timeout
    b = _mk_events(
        spark,
        [
            (6, 1, 70, "purchase", 6.0),
            (7, 3, 600, "view", 0.5),
            (8, 3, 1200, "view", 0.5),
        ],
    )
    a.coalesce(1).write.parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)
    return src


def _batch_sessions(spark, source_dir):
    """Batch lag/cumsum sessionization — the oracle."""
    ev = spark.read.parquet(source_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
    new_s = F.when(gap.isNull() | (gap > GAP_MIN * 60), 1).otherwise(0)
    sess = ev.withColumn("s", F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        sess.groupBy("user_id", "s")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .drop("s")
    )


def test_stateful_sessionization_matches_batch_oracle(spark, session_log, tmp_path):
    stream = read_event_stream(spark, session_log)
    sessions = sessionize_with_state(stream, gap=f"{GAP_MIN} minutes")
    got = run_drain(sessions, checkpoint=str(tmp_path / "ckpt")).table.collect()
    # Every session whose timeout the final watermark passed must be out.
    # The far-future events (user 3 at +600/+1200min) push the watermark
    # past every user-1/user-2 session end + gap.
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in _batch_sessions(spark, session_log).collect()
        if r["user_id"] in (1, 2)
    }
    got_keys = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in got
        if r["user_id"] in (1, 2)
    }
    assert got_keys == want
    # user 1 must have exactly two sessions and the second one spans the
    # micro-batch boundary (events 3, 6: 60min..70min)
    u1 = sorted((r for r in got if r["user_id"] == 1), key=lambda r: r["session_start"])
    assert len(u1) == 2
    assert u1[1]["n_events"] == 2 and u1[1]["sum_value"] == 9.0


def test_stateful_sessionization_resumes_from_checkpoint(
    spark, session_log, tmp_path
):
    """The state store survives a stop/restart: draining twice with the
    same checkpoint emits each session at most once, and a new late file
    closes the remaining open sessions."""
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sessions")
    stream = read_event_stream(spark, session_log)
    sessions = sessionize_with_state(stream, gap=f"{GAP_MIN} minutes")
    run_drain(sessions, sink=sink, checkpoint=ckpt)
    first = spark.read.parquet(sink).collect()
    assert len(first) >= 3  # u1 two sessions + u2 one

    # a third file far in the future times out user 3's open sessions
    extra = _mk_events(spark, [(9, 4, 5000, "view", 1.0)])
    extra.coalesce(1).write.mode("append").parquet(session_log)
    run_drain(
        sessionize_with_state(
            read_event_stream(spark, session_log), gap=f"{GAP_MIN} minutes"
        ),
        sink=sink,
        checkpoint=ckpt,
    )
    combined = spark.read.parquet(sink).collect()
    # the second drain only processes the new file: no re-emission of the
    # first run's sessions, but user 3's two sessions now close
    u3 = [r for r in combined if r["user_id"] == 3]
    assert len(u3) == 2
    emitted = [(r["user_id"], r["session_start"]) for r in combined]
    assert len(emitted) == len(set(emitted))  # exactly-once per session


def test_windowed_counts_match_batch_groupby(spark, session_log, tmp_path):
    stream = read_event_stream(spark, session_log)
    counts = windowed_event_counts(stream, window="1 hour", watermark="0 seconds")
    got = run_drain(counts, checkpoint=str(tmp_path / "ckpt")).table

    ev = spark.read.parquet(session_log)
    final_wm = ev.agg(F.max("ts")).collect()[0][0]
    want = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
        # append mode only emits windows the final watermark closed
        .filter(F.col("window_end") <= F.lit(final_wm))
    )
    got_set = {tuple(r) for r in got.collect()}
    want_set = {tuple(r) for r in want.collect()}
    assert got_set == want_set
    assert len(got_set) > 0


def test_dedup_stream_drops_cross_batch_replays(spark, tmp_path):
    """A duplicate of batch A's row replayed in batch B (the at-least-once
    case) is dropped by keyed state; distinct keys all pass."""
    from dvh_airflow_kafka_spark.streaming.stateful import dedup_stream

    src = str(tmp_path / "log")
    a = _mk_events(spark, [(1, 1, 0, "view", 1.0), (2, 1, 5, "click", 2.0)])
    # batch B replays event 2 and adds event 3 within the watermark window
    b = _mk_events(spark, [(2, 1, 5, "click", 2.0), (3, 2, 10, "view", 3.0)])
    a.coalesce(1).write.parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)

    deduped = dedup_stream(
        read_event_stream(spark, src), keys=["event_id"], watermark="2 hours"
    )
    got = run_drain(deduped, checkpoint=str(tmp_path / "ckpt")).table
    ids = sorted(r["event_id"] for r in got.collect())
    assert ids == [1, 2, 3]  # replayed id=2 emitted exactly once


def test_anomaly_detector_matches_batch_window(spark, sf_dir, tmp_path):
    """Multi-batch streaming anomaly detection == the batch window query,
    and the per-user value ring demonstrably carries across batches."""
    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.streaming.stateful import (
        detect_anomalies_with_state,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    src = str(tmp_path / "src")
    # three ts-ordered slices -> three micro-batches
    n = ev.count()
    lo, hi = n // 3, 2 * n // 3
    for pred in (
        F.col("event_id") < lo,
        (F.col("event_id") >= lo) & (F.col("event_id") < hi),
        F.col("event_id") >= hi,
    ):
        ev.filter(pred).coalesce(1).write.mode("append").parquet(src)

    out = run_drain(
        detect_anomalies_with_state(read_event_stream(spark, src)),
        checkpoint=str(tmp_path / "ckpt"),
    ).table
    got = {r.event_id: r.n_prior for r in out.collect()}

    # batch reference: integer-exact rolling window
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    stats = ev.select(
        "event_id",
        c.alias("c"),
        F.count("value").over(w).alias("n"),
        F.sum(c).over(w).alias("s"),
        F.sum(c * c).over(w).alias("ss"),
    )
    dev = F.col("n") * F.col("c") - F.col("s")
    want = {
        r.event_id: r.n
        for r in stats.filter(
            (F.col("n") >= 8)
            & (dev * dev * (F.col("n") - 1) > 9 * F.col("n") * (F.col("n") * F.col("ss") - F.col("s") * F.col("s")))
        ).collect()
    }
    assert got == want
    # cross-batch carry: some anomaly must be flagged in batches 2/3 with
    # n_prior proving state from an earlier batch (full 20-ring only
    # forms after 20 events, and slices hold ~1/3 of each user's events)
    assert any(eid >= lo for eid in got)


def test_interval_join_matches_across_batches(spark, tmp_path):
    """A purchase in batch 2 must join an error from batch 1 — the match
    can only come from the stream-stream join state store."""
    import datetime as pdt

    from dvh_airflow_kafka_spark.streaming.stateful import (
        interval_join_streams,
    )

    t0 = pdt.datetime(2024, 1, 1, 12, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts timestamp"
        )

    src = str(tmp_path / "src")
    # batch 1: the error (user 7) + noise
    mk(
        [
            (1, 7, "error", t0),
            (2, 8, "purchase", t0 + pdt.timedelta(minutes=1)),
        ]
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2: the purchase 10 min later (in-window) and one 40 min
    # later (out-of-window)
    mk(
        [
            (3, 7, "purchase", t0 + pdt.timedelta(minutes=10)),
            (4, 7, "purchase", t0 + pdt.timedelta(minutes=40)),
        ]
    ).coalesce(1).write.mode("append").parquet(src)

    purchases = read_event_stream(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    errors = read_event_stream(spark, src).filter(F.col("event_type") == "error")
    joined = interval_join_streams(
        purchases, errors, key="user_id", max_lag="30 minutes"
    ).select(
        F.col("l.event_id").alias("purchase_id"),
        F.col("r.event_id").alias("error_id"),
    )
    out = run_drain(joined, checkpoint=str(tmp_path / "ckpt")).table.collect()
    pairs = {(r.purchase_id, r.error_id) for r in out}
    assert pairs == {(3, 1)}  # in-window cross-batch match only


def test_watermark_drops_late_rows_observably(spark, tmp_path):
    """Late-data accounting: rows older than the watermark are dropped by
    the stateful window aggregation and the drop is OBSERVABLE in the
    query progress (numRowsDroppedByWatermark) — silent data loss is the
    failure mode; this pins the metric that makes it visible."""
    import datetime as pdt
    import json

    t0 = pdt.datetime(2024, 1, 1, 12, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string"
        )

    src = str(tmp_path / "src")
    # batch 1: on-time events advancing the watermark far ahead
    mk(
        [(i, t0 + pdt.timedelta(hours=i), "a") for i in range(6)]
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2: an on-time spacer — the watermark computed from batch 1
    # only becomes the FILTER for batches after the next commit
    mk([(99, t0 + pdt.timedelta(hours=6), "a")]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # batch 3: a row 6 hours older than the max seen -> behind the
    # 1-minute watermark -> must be dropped
    mk([(100, t0, "late")]).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_drop_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = 0
    for p in q.recentProgress:
        prog = json.loads(p.json) if hasattr(p, "json") else p
        for op in prog.get("stateOperators", []):
            dropped += int(op.get("numRowsDroppedByWatermark", 0))
    assert dropped >= 1
    # and the late row's window never appears in the emitted result
    out = spark.table("wm_drop_test")
    assert out.filter(F.col("event_type") == "late").count() == 0


def test_transform_with_state_running_totals(spark, sf_dir, tmp_path):
    """Spark 4 transformWithStateInPandas running totals: the last
    emission per user over an availableNow drain must equal the batch
    groupBy totals exactly. GATED on protobuf (the transformWithState
    Python worker's wire format), absent from this sandbox."""
    pytest.importorskip("google.protobuf")
    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.streaming.stateful import (
        read_event_stream,
        running_totals_with_state,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, sf_dir, "events")
    ev.limit(300).repartition(3).write.mode("overwrite").parquet(src)
    out = running_totals_with_state(read_event_stream(spark, src))
    q = (
        out.writeStream.format("memory")
        .queryName("tws_totals")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    last = {}
    for r in spark.table("tws_totals").collect():
        last[r.user_id] = (r.n_events, r.sum_cents)
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c")
    batch = {
        r.user_id: (r.n, r.cents)
        for r in spark.read.parquet(src)
        .select("user_id", c)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("cents"))
        .collect()
    }
    assert last == batch and batch


def test_run_drain_failure_contract(spark, tmp_path, monkeypatch):
    """The runner's contract when a foreachBatch body raises: the error
    propagates as the query's exception, the session confs the runner
    set read their prior values again, a managed checkpoint is removed,
    and an explicit one is kept so that a rerun resumes at the failed
    batch.  A successful stateful drain returns its progress record."""
    import glob
    import tempfile

    from pyspark.errors import StreamingQueryException

    from dvh_airflow_kafka_spark.streaming.stateful import last_drain

    src = str(tmp_path / "log")
    for i in range(3):
        _mk_events(spark, [(i, 1, 10 * i, "view", 1.0)]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))

    def managed() -> list:
        return glob.glob(str(tmp / "drain_ckpt_*"))

    parts_key = "spark.sql.shuffle.partitions"
    cap_key = "spark.sql.streaming.numRecentProgressUpdates"
    spark.conf.unset(cap_key)
    parts = spark.conf.get(parts_key)
    seen: list = []

    def fail_on_second(df, epoch_id):
        seen.append((epoch_id, df.count(), len(managed())))
        if len(seen) == 2:
            raise RuntimeError("injected failure in batch 2")

    with pytest.raises(StreamingQueryException, match="injected failure"):
        run_drain(
            read_event_stream(spark, src),
            sink=fail_on_second,
            shuffle_partitions=int(parts) + 3,
        )
    assert [(e, n) for e, n, _ in seen] == [(0, 1), (1, 1)]
    assert all(n_ckpt == 1 for _, _, n_ckpt in seen)  # it existed...
    assert managed() == []  # ...and is gone after the failure
    assert spark.conf.get(parts_key) == parts
    assert spark.conf.get(cap_key, None) is None  # unset again

    ckpt = str(tmp_path / "ckpt")
    seen.clear()
    with pytest.raises(StreamingQueryException, match="injected failure"):
        run_drain(
            read_event_stream(spark, src), sink=fail_on_second, checkpoint=ckpt
        )
    assert os.path.isdir(os.path.join(ckpt, "commits"))
    rerun: list = []
    rec = run_drain(
        read_event_stream(spark, src),
        sink=lambda df, epoch_id: rerun.append(epoch_id),
        checkpoint=ckpt,
    )
    assert rerun == [1, 2]  # batch 1 replays, batch 0 stays committed
    assert rec.n_batches == 2 and rec.table is None

    counts = read_event_stream(spark, src).groupBy("event_type").count()
    rec = run_drain(counts, mode="complete")
    assert rec.n_batches == 3 and rec.max_state_rows > 0
    assert rec.run_id and last_drain() is rec
    assert [tuple(r) for r in rec.table.collect()] == [("view", 3)]


# --------------------------------------------------------------------------
# applyInPandasWithState updaters driven directly: the shingle-index probe
# (streaming_neardup_gate), KMV minima and Misra-Gries kernels
# --------------------------------------------------------------------------


class _FakeState:
    exists = False
    hasTimedOut = False

    def __init__(self):
        self._v = None
        self.writes = 0

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True
        self.writes += 1


def _pdf(rows):
    return pd.DataFrame(rows, columns=["g", "doc_id", "is_new", "n"])


def test_shingle_probe_updater_existing_first_within_batch():
    # an incoming probe in an EARLIER Arrow chunk must still see an
    # existing doc delivered in a LATER chunk of the same micro-batch
    # (the batch kernel joins incoming vs ALL existing)
    from dvh_airflow_kafka_spark.streaming.stateful import (
        _make_shingle_probe_updater,
    )

    upd = _make_shingle_probe_updater()
    state = _FakeState()
    out = list(
        upd(
            (7,),
            iter(
                [
                    _pdf([("the quick brown", 100, True, 7)]),
                    _pdf([("the quick brown", 1, False, 9)]),
                ]
            ),
            state,
        )
    )
    assert len(out) == 1
    got = out[0]
    assert list(got["in_id"]) == [100]
    assert list(got["ex_id"]) == [1]
    assert list(got["n_in"]) == [7] and list(got["n_ex"]) == [9]
    assert list(got["c"]) == [1]
    assert state._v == (["the quick brown"], [0], [1], [9])


def test_shingle_probe_updater_probes_never_grow_state():
    from dvh_airflow_kafka_spark.streaming.stateful import (
        _make_shingle_probe_updater,
    )

    upd = _make_shingle_probe_updater()
    state = _FakeState()
    # batch 1: two existing docs over two shingles of the same bucket
    # (one entry duplicated — the index dedupes per (shingle, doc))
    list(
        upd(
            (7,),
            iter(
                [
                    _pdf(
                        [
                            ("ga", 1, False, 5),
                            ("ga", 2, False, 6),
                            ("gb", 1, False, 5),
                            ("ga", 1, False, 5),
                        ]
                    )
                ]
            ),
            state,
        )
    )
    assert state._v == (["ga", "gb"], [0, 0, 1], [1, 2, 1], [5, 6, 5])
    frozen = state._v
    # batch 2: probes only — state not rewritten; partial counts
    # aggregate ACROSS the bucket's shingles (doc 10 shares ga+gb with
    # doc 1 -> c=2; only ga with doc 2 -> c=1)
    out = list(
        upd(
            (7,),
            iter(
                [
                    _pdf(
                        [
                            ("ga", 10, True, 4),
                            ("gb", 10, True, 4),
                            ("ga", 15, True, 3),
                        ]
                    )
                ]
            ),
            state,
        )
    )
    assert state._v is frozen  # probe-only batch never calls update()
    got = out[0]
    pairs = {
        (i, e): c
        for i, e, c in zip(got["in_id"], got["ex_id"], got["c"])
    }
    assert pairs == {(10, 1): 2, (10, 2): 1, (15, 1): 1, (15, 2): 1}


def test_shingle_probe_updater_no_emission_without_index():
    from dvh_airflow_kafka_spark.streaming.stateful import (
        _make_shingle_probe_updater,
    )

    upd = _make_shingle_probe_updater()
    state = _FakeState()
    out = list(upd((7,), iter([_pdf([("ga", 10, True, 4)])]), state))
    assert out == []  # nothing indexed for this bucket yet
    # and NO state row is written — a probe-only bucket never occupies
    # the store (the store stays a function of the existing corpus)
    assert state._v is None and not state.exists


def test_late_existing_detection_raises(spark):
    from dvh_airflow_kafka_spark.streaming.stateful import (
        _make_shingle_probe_updater,
    )

    upd = _make_shingle_probe_updater(detect_late_existing=True)
    state = _FakeState()
    # batch 1: probe only -> flag written once, no candidates
    out = list(upd((7,), iter([_pdf([("ga", 10, True, 4)])]), state))
    assert out == [] and state.exists and state._v[-1] == 1
    first_writes = state.writes
    # batch 2: probe again -> flag already set, NO further write
    list(upd((7,), iter([_pdf([("ga", 11, True, 4)])]), state))
    assert state.writes == first_writes
    # batch 3: an existing-corpus entry arrives AFTER the probes
    with pytest.raises(ValueError, match="arrived AFTER a probe"):
        list(upd((7,), iter([_pdf([("ga", 1, False, 5)])]), state))


def test_late_existing_detection_ordered_source_unchanged(spark):
    # correct delivery order (existing first, same or earlier batch):
    # detection emits exactly what the default updater emits
    from dvh_airflow_kafka_spark.streaming.stateful import (
        _make_shingle_probe_updater,
    )

    batches = [
        [("ga", 1, False, 5), ("gb", 1, False, 5)],
        [("ga", 2, False, 3)],
        [("ga", 10, True, 4), ("gb", 10, True, 4)],
    ]
    outs = {}
    for flag in (False, True):
        upd = _make_shingle_probe_updater(detect_late_existing=flag)
        state = _FakeState()
        rows = []
        for b in batches:
            for o in upd((7,), iter([_pdf(b)]), state):
                rows.extend(map(tuple, o.itertuples(index=False)))
        outs[flag] = sorted(rows)
        # index content identical (detect variant appends the flag)
        idx = state._v[:4] if flag else state._v
        outs[(flag, "state")] = tuple(map(tuple, idx))
    assert outs[True] == outs[False] and len(outs[True]) == 2
    assert outs[(True, "state")] == outs[(False, "state")]


# --------------------------------------------------------------------------
# priority top-k updater (streaming_priority_sample's stateful kernel)
# --------------------------------------------------------------------------


def test_priority_topk_updater_laws():
    from dvh_airflow_kafka_spark.streaming.stateful import (
        _make_priority_topk_updater,
    )

    def pdf(rows):
        return pd.DataFrame(
            rows, columns=["g", "doc_id", "weight", "priority"]
        )

    rows = [("s", i, 10 + i, (i * 7919) % 1000) for i in range(50)]
    one = _make_priority_topk_updater(5)
    st1 = _FakeState()
    list(one(("s",), iter([pdf(rows)]), st1))
    # batch-split invariance: same rows over 5 micro-batches, shuffled,
    # with a full redelivery of the first slice
    split = _make_priority_topk_updater(5)
    st2 = _FakeState()
    import random

    rng = random.Random(7)
    shuffled = rows[:]
    rng.shuffle(shuffled)
    batches = [shuffled[i::5] for i in range(5)] + [shuffled[0::5]]
    for b in batches:
        list(split(("s",), iter([pdf(b)]), st2))
    assert st1._v[1:] == st2._v[1:]  # ids/weights/priorities identical
    # retained set is the true top-5 by (priority desc, doc_id)
    expect = sorted(rows, key=lambda r: (-r[3], r[1]))[:5]
    assert st1._v[1] == [r[1] for r in expect]
    assert st1._v[3] == [r[3] for r in expect]


def test_kmv_updater_chunked_equals_single_pass():
    # the streaming-state law: k-min-of-union resumed across batch
    # boundaries telescopes to the k-min over the concatenation — and a
    # hash discarded in an early batch never re-enters
    from dvh_airflow_kafka_spark.streaming.stateful import _make_kmv_updater

    hashes = [((h * 2654435761) % 997) for h in range(300)]  # dups included
    k = 16
    expect = sorted(set(hashes))[:k]

    upd = _make_kmv_updater(k)
    one = _FakeState()
    list(upd(("g",), iter([pd.DataFrame({"h": hashes})]), one))
    chunked = _FakeState()
    for lo in range(0, 300, 37):
        out = list(
            upd(("g",), iter([pd.DataFrame({"h": hashes[lo : lo + 37]})]), chunked)
        )
        assert len(out) == 1 and len(out[0]) == 1  # one snapshot row/batch
        assert len(out[0]["kmins"][0]) <= k
    assert one._v[1] == chunked._v[1] == expect
    # seq is the per-batch monotone snapshot counter the reader keys on
    assert chunked._v[0] == len(range(0, 300, 37)) and one._v[0] == 1


def test_mg_updater_emits_at_most_k_per_shard_per_batch():
    # drive the applyInPandasWithState updater directly with a fake state
    from dvh_airflow_kafka_spark.streaming.stateful import _make_mg_updater

    upd = _make_mg_updater(8)
    state = _FakeState()
    texts = pd.DataFrame({"text": [f"t{i} t{i} common" for i in range(100)]})
    out = list(upd((3,), iter([texts]), state))
    assert len(out) == 1 and len(out[0]) <= 8
    toks, counts = state._v
    assert len(toks) <= 8 and len(toks) == len(counts)
    # resume: feeding more data through the SAME state keeps the bound
    out2 = list(upd((3,), iter([texts]), state))
    assert len(out2[0]) <= 8
