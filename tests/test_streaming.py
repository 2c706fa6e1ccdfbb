"""Streaming spine ST1/ST3/ST4/ST5: availableNow drain, write-then-commit,
mid-run crash + resume with zero loss / zero duplicates (laws 4/5,
reference test_integration.py:363-410)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.io import load_table
from dvh_airflow_kafka_spark.streaming import run_streaming_pipeline

N_FILES = 4


@pytest.fixture()
def source_dir(spark, sf_dir, tmp_path):
    """The events log split into N_FILES files — each becomes one
    micro-batch under maxFilesPerTrigger=1 (ST1 batch-size analogue)."""
    src = str(tmp_path / "log")
    events = load_table(spark, sf_dir, "events").limit(400)
    events.withColumn("__f", F.pmod(F.col("event_id"), F.lit(N_FILES))).repartition(
        N_FILES, "__f"
    ).drop("__f").write.parquet(src)
    return src


def test_available_now_drains_and_stops(spark, source_dir, tmp_path):
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    run = run_streaming_pipeline(spark, source_dir, sink, ckpt)
    total = spark.read.parquet(source_dir).count()
    assert run.summary.event_count == total
    assert run.summary.written_to_db_count == total
    assert run.summary.committed_to_producer_count == total
    assert spark.read.parquet(sink).count() == total
    # ST5: the drained log terminates the query; a second drain with the
    # same checkpoint reads nothing and writes nothing
    run2 = run_streaming_pipeline(spark, source_dir, sink, ckpt)
    assert run2.summary.event_count == 0
    assert spark.read.parquet(sink).count() == total


def test_crash_after_write_then_resume_no_loss_no_dup(spark, source_dir, tmp_path):
    """Law 5: kill after a batch WROTE but before its epoch committed —
    the restart replays that batch and the sink anti-join absorbs it."""
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(Exception, match="injected failure"):
        run_streaming_pipeline(
            spark, source_dir, sink, ckpt, fail_after_batches=2
        )
    partial = spark.read.parquet(sink).count()
    assert partial > 0  # the crashed run persisted everything it read
    resumed = run_streaming_pipeline(spark, source_dir, sink, ckpt)
    total = spark.read.parquet(source_dir).count()
    final = spark.read.parquet(sink)
    assert final.count() == total  # zero loss
    assert final.select("kafka_offset").distinct().count() == total  # zero dup
    # the resumed run replayed the uncommitted batch (at-least-once) but
    # appended only the missing rows
    assert resumed.summary.event_count >= total - partial


def test_crash_replay_over_unreadable_sink_raises(spark, source_dir, tmp_path):
    """The replayed epoch probes the sink itself for its keys. A sink that
    is there but cannot be read must fail the batch, not pass for an
    empty one (which would re-append the rows the crashed try wrote)."""
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(Exception, match="injected failure"):
        run_streaming_pipeline(
            spark, source_dir, sink, ckpt, fail_after_batches=2
        )
    partial = spark.read.parquet(sink).count()
    # sorts before Spark's part files, so the footer probe meets it first
    corrupt = os.path.join(sink, "part-0000-corrupt.parquet")
    with open(corrupt, "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        run_streaming_pipeline(spark, source_dir, sink, ckpt)
    os.remove(corrupt)
    assert spark.read.parquet(sink).count() == partial  # nothing appended
    # once readable again, the replay resumes with no loss and no dup
    run_streaming_pipeline(spark, source_dir, sink, ckpt)
    total = spark.read.parquet(source_dir).count()
    final = spark.read.parquet(sink)
    assert final.count() == total
    assert final.select("kafka_offset").distinct().count() == total


def test_transform_and_filters_in_stream(spark, source_dir, tmp_path):
    """The batch spine (envelope + allow-filter + transform DSL) runs
    unchanged inside foreachBatch: a subscribe spec hands the runner's
    frame plan to the streaming spine — one code path for batch and
    streaming."""
    import datetime as dt

    from dvh_airflow_kafka_spark.runner import run_pipeline

    sink = str(tmp_path / "sink")
    yaml_text = f"""
source:
  type: parquet
  topic: events
  schema: json
  strategy: subscribe
  path: "{source_dir}"
  message-filters:
    - {{key: k, allowed_value: 87}}
target:
  type: parquet
  path: "{sink}"
  skip-duplicates-with: [kafka_offset]
transform:
  - {{src: kafka_offset, dst: kafka_offset}}
  - {{src: kafka_hash, dst: kafka_hash}}
  - {{src: kafka_message, dst: kafka_message}}
  - {{src: $$BATCH_TIME, dst: lastet_tid}}
"""
    run = run_pipeline(
        spark,
        yaml_text,
        batch_time=dt.datetime(2025, 6, 1, 12, 0, 0),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    out = spark.read.parquet(sink)
    assert set(out.columns) == {"kafka_offset", "kafka_hash", "kafka_message", "lastet_tid"}
    assert out.count() == run.summary.event_count
    # law 3: one constant lastet_tid across every micro-batch of the run
    assert out.select("lastet_tid").distinct().count() == 1
    kept = out.filter(F.col("kafka_message").isNotNull())
    assert 0 < kept.count() < out.count()
    for r in kept.limit(20).collect():
        assert '"k": 87' in r.kafka_message


def test_dedup_probe_is_column_pruned(spark, tmp_path):
    """The per-batch dedup read must NOT rescan the whole sink: the
    SinkKeyIndex probe reads the keys-only sidecar, column-pruned to the
    key columns (reference cost model: indexed NOT-EXISTS,
    src/oracle_target.py:97-104)."""
    from dvh_airflow_kafka_spark.streaming.keyindex import SinkKeyIndex

    sink = str(tmp_path / "sink")
    idx = SinkKeyIndex(spark, sink, ["k1"])
    corpus = spark.range(0, 1000).selectExpr("cast(id as string) k1", "id * 2 as payload")
    idx.append(corpus)  # sidecar stores keys only, never payload
    batch = spark.range(0, 3).selectExpr("cast(id as string) k1")
    probe = idx.probe(batch)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    scan = next(line for line in plan.splitlines() if "FileScan" in line)
    # column-pruned: the payload column never reaches the scan schema
    assert "ReadSchema: struct<k1:string>" in scan
    # the probe is the whole sidecar: a superset for any batch
    assert probe.count() == 1000


def test_keyindex_compact_preserves_pruning_and_markers(spark, tmp_path):
    """Compaction must fold the sidecar to one data file and keep the
    epoch markers (crash-replay detection), the key set and the
    column-pruned probe."""
    import os

    from dvh_airflow_kafka_spark.streaming.keyindex import SinkKeyIndex

    idx = SinkKeyIndex(spark, str(tmp_path / "sink"), ["k1"])
    idx.begin_epoch(0)
    for chunk in range(3):  # 3 appends -> 3 files, overlapping keys
        idx.append(
            spark.range(chunk * 100, chunk * 100 + 150).selectExpr(
                "cast(id as string) k1"
            )
        )
    before = {r.k1 for r in spark.read.parquet(idx.path).select("k1").collect()}
    idx.compact()
    data = [e for e in os.listdir(idx.path) if e.endswith(".parquet")]
    assert len(data) == 1
    assert os.path.exists(os.path.join(idx.path, "_attempted_0"))
    assert idx.begin_epoch(0) is True  # marker survived the rewrite
    after = spark.read.parquet(idx.path).select("k1")
    assert after.count() == len(before)  # exact duplicate keys dropped
    assert {r.k1 for r in after.collect()} == before
    probe = idx.probe(spark.range(0, 2).selectExpr("cast(id as string) k1"))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<k1:string>" in plan


def test_keyindex_flattens_legacy_bucketed_sidecar(spark, tmp_path):
    """A sidecar written by the earlier hash-bucketed layout is
    flattened when opened: a parquet read of ``__kidx_bucket=<n>`` dirs
    plus flat files at the root drops the flat files' rows, so without
    the conversion the keys appended after an upgrade would vanish from
    the probe and be admitted again."""
    import os

    from dvh_airflow_kafka_spark.streaming.keyindex import SinkKeyIndex

    sink = str(tmp_path / "sink")
    spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.pmod(F.xxhash64("id"), F.lit(4)).cast("int").alias("__kidx_bucket"),
    ).write.partitionBy("__kidx_bucket").parquet(sink + "__keys")
    open(os.path.join(sink + "__keys", "_attempted_3"), "w").close()

    idx = SinkKeyIndex(spark, sink, ["k"])
    idx.append(spark.range(100, 110).select(F.col("id").alias("k")))
    every = spark.range(0, 110).select(F.col("id").alias("k"))
    got = {r.k for r in idx.probe(every).collect()}
    assert got == set(range(110))
    assert not any(e.startswith("__kidx_bucket=") for e in os.listdir(idx.path))
    assert idx.begin_epoch(3) is True  # markers carried over


def test_keyindex_crash_window_falls_back_to_sink(spark, tmp_path):
    """A re-attempted epoch (marker already present) must not trust the
    sidecar: begin_epoch returns True so the pipeline probes the sink."""
    from dvh_airflow_kafka_spark.streaming.keyindex import SinkKeyIndex

    idx = SinkKeyIndex(spark, str(tmp_path / "sink"), ["k1"])
    assert idx.begin_epoch(7) is False  # first attempt
    assert idx.begin_epoch(7) is True  # replay of the same epoch
    assert idx.begin_epoch(8) is False  # next epoch is fresh


def test_error_classification_st6(spark, source_dir, tmp_path):
    """ST6: non-critical (classified) rows are counted, excluded from the
    sink, and the run continues; FAIL_ON_NON_CRITICAL_ERROR raises at the
    end (reference src/kafka_source.py:309-323, src/main.py:65-66)."""
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src_df = spark.read.parquet(source_dir)
    n_err = src_df.filter("event_type = 'error'").count()
    total = src_df.count()
    assert n_err > 0, "fixture must contain error-typed events"
    run = run_streaming_pipeline(
        spark, source_dir, sink, ckpt, error_where="event_type = 'error'"
    )
    assert run.summary.error_count == n_err
    assert run.summary.event_count == total  # errors still count as events
    assert run.summary.data_count == total - n_err
    assert spark.read.parquet(sink).count() == total - n_err

    with pytest.raises(RuntimeError, match="non-critical"):
        run_streaming_pipeline(
            spark,
            source_dir,
            str(tmp_path / "sink2"),
            str(tmp_path / "ckpt2"),
            error_where="event_type = 'error'",
            fail_on_non_critical=True,
        )


def test_quarantine_dead_letters_error_rows(spark, source_dir, tmp_path):
    """ST6 + DLQ: classified rows land in the epoch-keyed quarantine with
    the predicate recorded; sink and quarantine partition the input; a
    fresh-checkpoint replay overwrites rather than duplicates."""
    sink = str(tmp_path / "sink")
    dlq = str(tmp_path / "dlq")
    src_df = spark.read.parquet(source_dir)
    n_err = src_df.filter("event_type = 'error'").count()
    total = src_df.count()
    run = run_streaming_pipeline(
        spark,
        source_dir,
        sink,
        str(tmp_path / "ckpt"),
        error_where="event_type = 'error'",
        quarantine_path=dlq,
    )
    assert run.summary.error_count == n_err
    q = spark.read.parquet(dlq)
    assert q.count() == n_err
    assert q.filter("event_type <> 'error'").count() == 0
    assert q.select("__error_where").distinct().collect()[0][0] == "event_type = 'error'"
    assert spark.read.parquet(sink).count() == total - n_err
    # sink ∪ quarantine == input, disjoint by construction (the sink
    # carries the envelope: kafka_offset == source event_id)
    sunk = {
        r.kafka_offset
        for r in spark.read.parquet(sink).select("kafka_offset").collect()
    }
    dead = {r.event_id for r in q.select("event_id").collect()}
    assert sunk.isdisjoint(dead) and len(sunk | dead) == total

    # replay with a fresh checkpoint: quarantine epochs overwrite, not
    # accumulate (sink dedup absorbs the sink side)
    run_streaming_pipeline(
        spark,
        source_dir,
        sink,
        str(tmp_path / "ckpt2"),
        error_where="event_type = 'error'",
        quarantine_path=dlq,
    )
    assert spark.read.parquet(dlq).count() == n_err


def test_keyindex_recovers_interrupted_compaction_swap(spark, tmp_path):
    """A crash BETWEEN compact()'s two renames leaves no sidecar; the
    next epoch must restore the .__old_* half instead of silently
    probing nothing (which would admit duplicates)."""
    from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs
    from dvh_airflow_kafka_spark.streaming.keyindex import SinkKeyIndex

    sink = str(tmp_path / "sink")
    idx = SinkKeyIndex(spark, sink, ["event_id"])
    batch = spark.createDataFrame([(i,) for i in range(50)], "event_id long")
    assert idx.begin_epoch(0) is False
    idx.append(batch)
    assert idx.probe(batch) is not None

    # simulate the crash window: base renamed aside, new half never landed
    HadoopFs(spark, idx.path).rename(idx.path, idx.path + ".__old_deadbeef")
    assert idx.probe(batch) is None  # the dangerous state

    # next epoch recovers the swap half before doing anything else
    assert idx.begin_epoch(0) is True  # marker survived inside the dir
    probe = idx.probe(batch)
    assert probe is not None and probe.count() == 50

    # compact() clears any stale halves and stays probe-able
    idx.compact()
    assert idx.probe(batch).count() == 50


def test_keyindex_heals_compaction_torn_inside_swap(spark, tmp_path, monkeypatch):
    """The same window driven through the real ``compact``: the process
    dies after the swap's rename-aside. The half is hidden from the
    sink's parent listing, and the next epoch restores it."""
    from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs
    from dvh_airflow_kafka_spark.streaming.keyindex import SinkKeyIndex

    sink = str(tmp_path / "sink")
    idx = SinkKeyIndex(spark, sink, ["event_id"])
    batch = spark.createDataFrame([(i,) for i in range(50)], "event_id long")
    assert idx.begin_epoch(0) is False
    idx.append(batch)
    idx.append(batch)

    class Crash(Exception):  # not an OSError: no in-process rollback
        pass

    real_rename = HadoopFs.rename

    def crash_on_rename_in(self, src, dst):
        if dst == idx.path:
            raise Crash()
        real_rename(self, src, dst)

    monkeypatch.setattr(HadoopFs, "rename", crash_on_rename_in)
    with pytest.raises(Crash):
        idx.compact()
    monkeypatch.undo()
    assert idx.probe(batch) is None  # the dangerous state
    assert sorted(os.listdir(tmp_path)) == [
        ".sink__keys.__new",
        ".sink__keys.__old",
    ]

    assert idx.begin_epoch(0) is True
    assert idx.probe(batch).count() == 100
    idx.compact()
    assert idx.probe(batch).count() == 50
    assert sorted(os.listdir(tmp_path)) == ["sink__keys"]


def test_error_predicate_null_rows_are_not_dropped(spark, tmp_path):
    """Three-valued logic: a row where the error predicate evaluates
    NULL is NOT an error — it must reach the sink, not vanish."""
    src = str(tmp_path / "src")
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [
            (1, t0, 1, "a", 5.0, "x"),
            (2, t0, 2, "b", None, "x"),
            (3, t0, 3, "c", 200.0, "x"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(src)
    sink = str(tmp_path / "sink")
    run = run_streaming_pipeline(
        spark,
        src,
        sink,
        str(tmp_path / "ckpt"),
        error_where="value > 100",
    )
    out = spark.read.parquet(sink)
    assert run.summary.error_count == 1  # only the 200.0 row
    # the NULL-value row survived to the sink
    assert out.count() == 2
    assert run.summary.event_count == 3


def test_produce_crash_replay_emits_byte_identical_frames(spark, source_dir, tmp_path):
    """S8 producer twin of the crash/replay law: the complete streaming
    pipeline drains into a captured produce seam (the monkeypatched
    ``save()``); a batch that PRODUCED but crashed before its epoch
    committed replays on restart and must emit byte-identical (key,
    value) frames — deterministic log-position keys, so a keyed consumer
    dedups the replay and delivery is exactly-once in effects
    (reference src/kafka_target.py:32-90 can't do this: uuid4 keys)."""
    import json

    from dvh_airflow_kafka_spark.streaming import run_streaming_produce

    value_schema = json.dumps(
        {
            "type": "record",
            "name": "Out",
            "fields": [
                {"name": "offset", "type": "long"},
                {"name": "hash", "type": ["null", "string"], "default": None},
                {"name": "message", "type": ["null", "string"], "default": None},
            ],
        }
    )
    rules = [
        {"src": "kafka_offset", "dst": "offset"},
        {"src": "kafka_hash", "dst": "hash"},
        {"src": "kafka_message", "dst": "message"},
    ]
    captured: dict[int, list[list[tuple[bytes, bytes]]]] = {}

    def capture(payload, epoch_id):
        frames = sorted(
            (bytes(r.key), bytes(r.value)) for r in payload.collect()
        )
        captured.setdefault(int(epoch_id), []).append(frames)

    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(Exception, match="injected failure"):
        run_streaming_produce(
            spark,
            source_dir,
            ckpt,
            value_schema,
            produce=capture,
            transform_rules=rules,
            fail_after_batches=2,
        )
    resumed = run_streaming_produce(
        spark, source_dir, ckpt, value_schema, produce=capture, transform_rules=rules
    )
    # exactly one epoch was produced twice, and its replay is
    # byte-identical to the first attempt
    replayed = [e for e, attempts in captured.items() if len(attempts) > 1]
    assert len(replayed) == 1
    assert captured[replayed[0]][0] == captured[replayed[0]][1]
    assert len(captured[replayed[0]][0]) > 0
    # keyed dedup over the last attempt per epoch = every source record
    # exactly once, no cross-epoch duplicates
    final: dict[bytes, bytes] = {}
    for _, attempts in sorted(captured.items()):
        for k, v in attempts[-1]:
            assert k not in final
            final[k] = v
    total = spark.read.parquet(source_dir).count()
    assert len(final) == total
    assert resumed.summary.committed_to_producer_count > 0
    # frames are real Confluent wire format carrying the transformed row
    import struct as _struct

    from dvh_airflow_kafka_spark.sources.avro_codec import decode_record

    k, v = next(iter(final.items()))
    topic, part, off = k.decode("utf-8").rsplit("-", 2)
    magic, sid = _struct.unpack(">bL", v[:5])
    assert magic == 0 and sid == 1
    rec = decode_record(json.loads(value_schema), v[5:])
    assert rec["offset"] == int(off)
