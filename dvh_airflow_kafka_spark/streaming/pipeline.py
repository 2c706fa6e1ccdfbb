"""Structured-Streaming spine (ST1/ST3/ST4/ST5) — the reference's
subscribe-mode consumer loop re-expressed as micro-batches.

Reference behaviour (src/kafka_source.py:362-423):

- poll → accumulate ≤ batch_size → ``target.write_batch`` → synchronous
  ``consumer.commit()`` — **write-then-commit** is the at-least-once
  invariant (ST4);
- first empty poll ends the run (ST5);
- a mid-run failure flushes the partial batch then raises (ST3); the
  re-run re-reads from the last commit and relies on dedup-on-insert for
  exactly-once effects (laws 4/5, test_integration.py:363-410).

Spark mapping:

- micro-batches: ``trigger(availableNow=True)`` drains the log then stops
  (ST1/ST5); ``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger`` plays
  ``batch-size``;
- write-then-commit: ``foreachBatch`` runs the sink write, and Spark
  commits the epoch to the checkpoint only after it returns — identical
  ordering, so a crash mid-batch replays that batch on restart (ST4);
- idempotence: the replayed batch anti-joins against the sink's current
  keys before appending (J1), so at-least-once delivery + idempotent sink
  = exactly-once effects — the same contract the reference tests;
- counters: a driver-side ProcessSummary accumulated per batch (the
  reference threads a mutable dataclass through the loop).

At scale the source is the Kafka connector (sources/kafka.py
``kafka_stream_read``); tests drive the identical foreachBatch through a
file-stream simulation of the log (no broker in the test environment).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.config import AllowRule
from dvh_airflow_kafka_spark.operators import dedup_against_existing
from dvh_airflow_kafka_spark.operators.summary import ProcessSummary
from dvh_airflow_kafka_spark.plans import Transform
from dvh_airflow_kafka_spark.sinks.writers import write_parquet_append
from dvh_airflow_kafka_spark.sources.envelope import (
    events_as_kafka_frame,
    with_envelope,
)
from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs
from dvh_airflow_kafka_spark.streaming.keyindex import SinkKeyIndex

KAFKA_COLUMNS = {"key", "value", "topic", "partition", "offset", "timestamp"}


@dataclass
class StreamingRun:
    """Outcome of one drain: counters + how many micro-batches ran."""

    summary: ProcessSummary = field(default_factory=ProcessSummary)
    batches: int = 0


def run_streaming_pipeline(
    spark: SparkSession,
    source_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    *,
    transform_rules: Optional[list] = None,
    batch_time: Optional[dt.datetime] = None,
    dedup_keys: Sequence[str] = ("kafka_topic", "kafka_partition", "kafka_offset"),
    message_filters: Optional[Sequence[AllowRule]] = None,
    key_codec: str = "utf-8",
    max_files_per_trigger: int = 1,
    fail_after_batches: Optional[int] = None,
    error_where: Optional[str] = None,
    fail_on_non_critical: bool = False,
    quarantine_path: Optional[str] = None,
    index_buckets: int = 16,
    source_spec=None,
) -> StreamingRun:
    """Drain an events-shaped parquet directory through the full spine and
    stop (``availableNow``). Restartable: the checkpoint remembers which
    files were committed, and the dedup anti-join absorbs the replay of
    any batch that wrote but crashed before its epoch committed.

    ``fail_after_batches`` is the fault-injection seam (the reference
    mocks ``_poll`` for the same purpose, src/kafka_source.py:274-276):
    the Nth batch writes its rows and THEN raises — the worst-case crash
    point for duplicate effects.

    ``dedup_keys`` defaults to the log position (topic, partition,
    offset) — the reference's README example key set — which is unique
    per message; content hashes collide across messages that share a
    payload and would collapse them.

    ST6 error classification (reference src/kafka_source.py:309-323 +
    src/main.py:65-66): rows matching ``error_where`` (a SQL predicate on
    the source frame) are the non-critical errors — counted into
    ``error_count``, excluded from the write, and the run keeps going;
    with ``fail_on_non_critical`` the drained run raises at the end if
    any were seen (the reference's FAIL_ON_NON_CRITICAL_ERROR policy).
    With ``quarantine_path`` the classified rows are additionally
    dead-lettered to an epoch-keyed parquet directory (overwritten on
    crash replay → exactly-once DLQ) for offline triage instead of
    vanishing — the option the reference lacks entirely (it can only
    count-and-skip or raise).
    Fatal errors are anything that makes foreachBatch raise — the query
    stops and the checkpoint replays the batch on restart.

    The dedup probe is BOUNDED: a keys-only, bucket-partitioned sidecar
    (``SinkKeyIndex``, ``index_buckets`` buckets) is probed instead of
    re-reading the whole sink each batch — O(batch) per normal batch.
    Only a crash-replayed epoch falls back to the full-sink probe (see
    keyindex module docstring for the correctness argument).

    ``source_spec`` (a config ``SourceSpec``) switches the envelope to
    the spec's full deserializer semantics via the shared
    ``payload_modes.payload_exprs`` — JSON drop/flag ops, string
    JSON-quoting, or Avro header-strip + binary decode (declared
    ``avro-schema`` required here: a streaming run cannot block on a
    registry fetch mid-batch). It also supplies key codec and allow
    filters, overriding the standalone parameters.
    """
    # Streaming file sources need an explicit schema; take it from a batch
    # read of the same directory (driver-side, cached per path — see
    # io.stream_source_schema).
    from dvh_airflow_kafka_spark.io import stream_source_schema

    schema = stream_source_schema(spark, source_dir)
    transform = (
        Transform(transform_rules, batch_time=batch_time) if transform_rules else None
    )
    run = StreamingRun()
    run.summary.committed_to_producer_count = 0
    key_index = SinkKeyIndex(spark, sink_path, dedup_keys, n_buckets=index_buckets)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        n = batch_df.count()
        if n == 0:
            run.summary.empty_count += 1  # ST5: empty poll
            return
        n_err = 0
        if error_where is not None:
            # three-valued logic guard: a predicate evaluating NULL (e.g.
            # a comparison on a NULL column) is NOT an error row — without
            # the coalesce such rows would match neither the error filter
            # nor its negation and silently vanish from both sink and DLQ
            is_err = F.coalesce(F.expr(error_where), F.lit(False))
            n_err = batch_df.filter(is_err).count()
            if n_err:
                # error rows count as events but never reach the sink
                # (the reference skips collect_message for them)
                run.summary.error_count += n_err
                if quarantine_path is not None:
                    # dead-letter the classified rows instead of dropping
                    # them on the floor: one epoch-keyed directory,
                    # OVERWRITTEN on crash replay so the DLQ stays
                    # exactly-once alongside the checkpoint
                    (
                        batch_df.filter(is_err)
                        .withColumn("__error_where", F.lit(error_where))
                        .withColumn("__epoch", F.lit(int(epoch_id)))
                        .write.mode("overwrite")
                        .parquet(f"{quarantine_path}/epoch={epoch_id}")
                    )
                batch_df = batch_df.filter(~is_err)
                n -= n_err
        run.summary.event_count += n + n_err
        run.summary.non_empty_count += n + n_err
        if n == 0:
            run.batches += 1
            return
        kafka_frame = (
            batch_df
            if KAFKA_COLUMNS.issubset(set(batch_df.columns))
            else events_as_kafka_frame(batch_df)
        )
        if source_spec is not None:
            from dvh_airflow_kafka_spark.payload_modes import payload_exprs

            pe = payload_exprs(source_spec, source_spec.avro_schema)
            env = with_envelope(
                kafka_frame,
                key_codec=source_spec.key_decoder,
                message_filters=source_spec.message_filters,
                canonical_message=pe.canonical,
                schema_id=pe.schema_id,
                hash_bytes=pe.hash_bytes,
                filter_payload=pe.filter_payload,
            )
        else:
            env = with_envelope(
                kafka_frame,
                key_codec=key_codec,
                message_filters=message_filters,
            )
        out = transform.apply(env) if transform is not None else env
        # persist BEFORE the probe: probe() collects the batch's distinct
        # buckets from `out`, then the same frame feeds the anti-join and
        # write — without pinning it the whole envelope+transform would
        # run twice per batch, and a nondeterministic transform could
        # make the probed bucket list diverge from the keys written.
        out.persist()
        try:
            if key_index.begin_epoch(epoch_id):
                # Re-attempted epoch: a prior try may have appended to
                # the sink without reaching the sidecar append — probe
                # the sink itself for this one batch (rare,
                # crash-recovery only).
                existing = (
                    spark.read.parquet(sink_path).select(*dedup_keys)
                    if HadoopFs(spark, sink_path).has_data(sink_path)
                    else None  # sink has no data yet; read errors raise
                )
            else:
                existing = key_index.probe(out)  # bucket-pruned, keys-only
            # no forced broadcast: the existing-keys side is unbounded
            # (the full sink on crash replay); AQE's dynamic join
            # selection still broadcasts it whenever it measures small at
            # runtime
            fresh = dedup_against_existing(
                out, existing, list(dedup_keys), broadcast_existing=False
            )
            fresh.persist()
            try:
                write_parquet_append(fresh, sink_path)
                key_index.append(fresh)
            finally:
                fresh.unpersist()
        finally:
            out.unpersist()
        run.summary.data_count += n
        run.summary.written_to_db_count += n
        run.batches += 1
        if fail_after_batches is not None and run.batches >= fail_after_batches:
            # written but NOT committed: this epoch replays on restart
            raise RuntimeError("injected failure after sink write")
        # foreachBatch returning = Spark commits the epoch (ST4); mirror
        # the reference's post-commit counter (src/kafka_source.py:394).
        run.summary.committed_to_producer_count += n

    query = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    if fail_on_non_critical and run.summary.error_count > 0:
        raise RuntimeError(
            f"{run.summary.error_count} non-critical errors during run "
            f"(FAIL_ON_NON_CRITICAL_ERROR policy, reference src/main.py:65-66)"
        )
    return run


def run_streaming_produce(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    value_schema_json: str,
    *,
    schema_id: int = 1,
    produce: Optional[Callable[[DataFrame, int], None]] = None,
    bootstrap_servers: Optional[str] = None,
    topic: Optional[str] = None,
    transform_rules: Optional[list] = None,
    batch_time: Optional[dt.datetime] = None,
    key_codec: str = "utf-8",
    message_filters: Optional[Sequence[AllowRule]] = None,
    max_files_per_trigger: int = 1,
    fail_after_batches: Optional[int] = None,
) -> StreamingRun:
    """S8 producer spine: drain the log through envelope + transform and
    PRODUCE each micro-batch as Confluent-framed Avro (key, value) pairs
    — the streaming twin of ``sinks.writers.write_kafka_avro`` and the
    producer-side counterpart of ``run_streaming_pipeline``'s J1 sink
    (reference src/kafka_target.py:32-90 driven by the consumer loop,
    src/kafka_source.py:362-423).

    Exactly-once contract: foreachBatch gives at-least-once produce (a
    crash after produce but before the epoch commit replays the batch).
    Unlike the reference's uuid4 keys — which turn every replay into new
    records — the payload here is keyed DETERMINISTICALLY by source log
    position (topic-partition-offset utf-8), so a replayed epoch emits
    byte-identical records: a compacted topic or keyed downstream
    dedups them and the pipeline achieves exactly-once effects. Pinned
    by tests/test_streaming.py (produce twin of the crash/replay law).

    ``produce`` is the delivery seam: ``(payload_df, epoch_id) -> None``.
    The default sends through Spark's kafka sink (needs the connector
    jar + ``bootstrap_servers``/``topic``); tests inject a capturing
    seam — same plan, jar-free.

    ``fail_after_batches`` injects the worst-case crash: the Nth batch
    produces, then raises before its epoch commits (the mirror of the
    consumer pipeline's fault seam).
    """
    from dvh_airflow_kafka_spark.sinks.writers import (
        kafka_payload_confluent,
        kafka_writer_options,
    )

    if produce is None:
        if not (bootstrap_servers and topic):
            raise ValueError(
                "default kafka produce needs bootstrap_servers and topic"
            )

        def produce(payload: DataFrame, epoch_id: int) -> None:
            writer = payload.write.format("kafka")
            for k, v in kafka_writer_options(bootstrap_servers, topic).items():
                writer = writer.option(k, v)
            writer.save()

    from dvh_airflow_kafka_spark.io import stream_source_schema

    schema = stream_source_schema(spark, source_dir)
    transform = (
        Transform(transform_rules, batch_time=batch_time) if transform_rules else None
    )
    run = StreamingRun()
    run.summary.committed_to_producer_count = 0

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        n = batch_df.count()
        if n == 0:
            run.summary.empty_count += 1
            return
        kafka_frame = (
            batch_df
            if KAFKA_COLUMNS.issubset(set(batch_df.columns))
            else events_as_kafka_frame(batch_df)
        )
        env = with_envelope(
            kafka_frame, key_codec=key_codec, message_filters=message_filters
        )
        # deterministic producer key = source log position, computed on
        # the envelope BEFORE the transform projection so rules are free
        # to drop the position columns from the value; key + value fields
        # stay one narrow Catalyst projection (zero shuffle)
        det_key = F.encode(
            F.concat_ws(
                "-",
                F.col("kafka_topic"),
                F.col("kafka_partition").cast("string"),
                F.col("kafka_offset").cast("string"),
            ),
            "UTF-8",
        )
        value_exprs = (
            transform.columns(env)
            if transform is not None
            else [F.col(c) for c in env.columns]
        )
        out = env.select(det_key.alias("__key"), *value_exprs)
        payload = kafka_payload_confluent(
            out,
            value_schema_json,
            schema_id,
            key=F.col("__key"),
            value_cols=[c for c in out.columns if c != "__key"],
        )
        run.summary.event_count += n
        run.summary.non_empty_count += n
        produce(payload, epoch_id)
        run.batches += 1
        if fail_after_batches is not None and run.batches >= fail_after_batches:
            # produced but NOT committed: this epoch replays on restart
            raise RuntimeError("injected failure after produce")
        run.summary.committed_to_producer_count += n

    query = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return run
