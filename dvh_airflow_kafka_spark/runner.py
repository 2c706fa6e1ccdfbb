"""Config-driven pipeline runner — the engine's analogue of the
reference's only entry point.

Reference flow (src/main.py:55-66 → src/mapping.py:49-57): YAML
``CONSUMER_CONFIG`` → validated config → source poll loop → deserialize +
filter → transform → k6 scrub → dedup-on-insert → sink, returning a
``ProcessSummary``. Here the validated :class:`PipelineSpec` compiles into
ONE lazy DataFrame plan — source scan → envelope projection → payload
parse → privacy join → transform projection → anti-join → dedup — and the
sink action executes it. Catalyst fuses the projections into a single
codegen stage, so at 100 TB the whole spine is a scan-shaped map job plus
at most two joins (broadcast k6 lookup, dedup anti-join).

Both read strategies share that plan, as the reference hands either
one's batches to one ``target.write_batch`` (src/mapping.py:35-47): the
per-frame part — a :class:`FramePlan` — runs on the bounded read under
assign and on every micro-batch of ``streaming.run_streaming_pipeline``
under subscribe, whose spine keeps only the micro-batch protocol.

Each payload is parsed ONCE, like the reference's single ``json.loads``:
one ``from_json`` into a struct (``_attach_payload_struct`` resolves its
schema) feeds the allow-filter, a payload-keypath kode-6/7 key and every
transform keypath, so all of them read the same value — duplicate keys
included. String-mode payloads are JSON string literals; their
allow-filter keeps probing the raw value text.

Stage order matches the reference exactly:
payload drop/flag inside deserialization (src/kafka_source.py:102-119),
allow-filter in collect_message (:207-218), k6 scrub at the target before
transform (src/oracle_target.py:88-95), transform (:95), dedup inside the
INSERT (:97-104).
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass, field, replace
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dvh_airflow_kafka_spark.config import (
    PayloadSchema,
    PipelineSpec,
    ReadStrategy,
    SinkKind,
    SourceKind,
)
from dvh_airflow_kafka_spark.io import load_parquet
from dvh_airflow_kafka_spark.operators import (
    dedup_against_existing,
    observe_summary,
    scrub_flagged_persons,
)
from dvh_airflow_kafka_spark.operators.payload import filter_json_payload
from dvh_airflow_kafka_spark.operators.summary import ProcessSummary
from dvh_airflow_kafka_spark.plans import Transform
from dvh_airflow_kafka_spark.sinks.writers import (
    write_console,
    write_jdbc,
    write_parquet_append,
)
from dvh_airflow_kafka_spark.sources.envelope import (
    ENVELOPE_COLUMNS,
    PAYLOAD_COL,
    as_kafka_frame,
    json_quote,
    payload_text,
    with_envelope,
    with_text_leaves,
)
from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs

# Registry-resolved Avro: up to this many distinct writer-schema ids the
# runner builds one filtered decode branch per id (static decoder per
# branch, own whole-stage span); beyond it, one single-scan decode that
# resolves the schema per row inside the Arrow batch — a thousand-id
# topic must not pay a thousand re-scans and a thousand-way union.
_AVRO_BRANCH_LIMIT = 8


class PipelineResult:
    """What a run produces: the final frame (lazy unless the sink acted)
    and the reference-parity counter record.

    ``summary`` is computed on first access. For sinks that execute the
    plan inside ``run_pipeline`` (parquet/jdbc/console) the counters are
    already observed and the property just reads them; for the memory
    sink — where the *caller's* action on ``dataframe`` is the real sink
    action — accessing ``summary`` is what triggers the one counting
    execution. Callers that only consume ``dataframe`` (the
    driver/bench path) never pay a second run of the plan.
    """

    def __init__(
        self,
        dataframe: DataFrame,
        summary: Optional[ProcessSummary] = None,
        summary_fn: Optional[Callable[[], ProcessSummary]] = None,
    ):
        self.dataframe = dataframe
        self._summary = summary
        self._summary_fn = summary_fn

    @property
    def summary(self) -> ProcessSummary:
        if self._summary is None:
            if self._summary_fn is None:
                raise ValueError("PipelineResult has no summary source")
            self._summary = self._summary_fn()
        return self._summary


def build_kafka_frame(
    spark: SparkSession, spec: PipelineSpec, bootstrap_servers: Optional[str] = None
) -> DataFrame:
    """Source stage: any backend → the standard Kafka column contract
    (key value topic partition offset timestamp).

    - ``kafka``: the real connector (S1 bounded batch read).
    - ``parquet``/``json-files``: a file-backed log simulation. A file
      already carrying the Kafka columns is used as-is; the driver's
      ``events`` shape maps via ``envelope.as_kafka_frame``.
    """
    src = spec.source
    kind = SourceKind(src.type)
    if kind == SourceKind.KAFKA:
        from dvh_airflow_kafka_spark.sources.kafka import kafka_batch_read

        if not bootstrap_servers:
            raise ValueError("kafka source requires bootstrap_servers")
        return kafka_batch_read(spark, src, bootstrap_servers)
    if not src.path:
        raise ValueError(f"{kind.value} source requires `path`")
    df = (
        load_parquet(spark, src.path)
        if kind == SourceKind.PARQUET
        else spark.read.json(src.path)
    )
    df = as_kafka_frame(df, src.topic or "events")
    # S1/ST2: the bounded [DATA_INTERVAL_START, DATA_INTERVAL_END) read —
    # a pushed-down timestamp filter (reference src/kafka_source.py:68-72).
    if src.starting_timestamp_ms is not None:
        df = df.filter(
            F.unix_millis(F.col("timestamp").cast("timestamp"))
            >= F.lit(src.starting_timestamp_ms)
        )
    if src.ending_timestamp_ms is not None:
        df = df.filter(
            F.unix_millis(F.col("timestamp").cast("timestamp"))
            < F.lit(src.ending_timestamp_ms)
        )
    return df


def _payload_rule_sources(spec: PipelineSpec, envelope_cols: set[str]) -> list[str]:
    return [
        r.src
        for r in spec.transform
        if not r.src.startswith("$") and r.src.split(".")[0] not in envelope_cols
    ]


# Inferred payload schemas keyed by (source path, schema mode, drop/flag
# config): the sample-and-infer fallback costs four driver jobs and is
# nondeterministic under sampling — running it once per distinct source
# makes repeated ad-hoc runs stable and free. The declared-schema mode
# never touches this.
_INFERRED_SCHEMA_CACHE: dict[tuple, T.StructType] = {}


def _attach_payload_struct(
    spark: SparkSession,
    sample_frame: Callable[[Optional[T.StructType]], DataFrame],
    roots: list[str],
    text_paths: list[list[str]],
    declared_schema: Optional[str] = None,
    cache_key: Optional[tuple] = None,
) -> T.StructType:
    """The schema of the struct the frame plan parses each payload into.

    One parse per row: the reference deserializes a message once and
    merges the dict into the record, so the allow-filter, the kode-6/7
    key and transform ``src`` paths all read that one dict
    (src/kafka_source.py:110-118, src/transform.py:176-185). Here one
    ``from_json`` per row feeds all three, so the struct carries:

    - the transform ``roots`` from the payload schema — the
      ``declared_schema`` (the spec's ``payload-schema`` DDL string, the
      production mode: no jobs, and fields that first appear late in the
      stream still resolve), or else a schema inferred from a bounded
      sample;
    - a STRING leaf for every keypath in ``text_paths`` (allow-filter
      keys, the kode-6/7 key) that those roots lack.

    The inference sample is ``sample_frame(schema)`` — the allow-filtered
    and kode-6/7-scrubbed plan, built over a struct of just the
    ``text_paths`` — cut to its first 1000 non-NULL ``kafka_message``
    values: ad-hoc exploration only, as it costs up to three ``collect``
    jobs for the ``limit`` (one of them builds the kode-6/7 broadcast)
    plus one JSON-inference job at plan-build time. The caller builds the
    counted plan after this returns, so no run counter observes the
    sample.

    A transform ``src`` root absent from the schema is a HARD ERROR in
    both modes: silently skipping it would surface as an opaque
    AnalysisException (or a silently-NULL column) far downstream.
    """
    if not roots:
        schema = T.StructType()
    elif declared_schema is not None:
        schema = T.StructType.fromDDL(declared_schema)
    elif cache_key is not None and cache_key in _INFERRED_SCHEMA_CACHE:
        schema = _INFERRED_SCHEMA_CACHE[cache_key]
    else:
        probe = with_text_leaves(T.StructType(), text_paths) if text_paths else None
        sample = (
            sample_frame(probe)
            .select("kafka_message")
            .filter(F.col("kafka_message").isNotNull())
            .limit(1000)
        )
        # Collected and inferred inside the JVM: the same rows and the
        # same inference as spark.read.json over an RDD of the strings,
        # without shipping them through Python or starting a Python
        # worker for the inference job.
        jspark = spark._jsparkSession
        strings = spark._jvm.org.apache.spark.sql.Encoders.STRING()
        rows = getattr(sample._jdf, "as")(strings).collectAsList()
        if rows.isEmpty():
            raise ValueError("cannot infer payload schema from an all-NULL payload")
        inferred = jspark.read().json(jspark.createDataset(rows, strings)).schema()
        schema = T.StructType.fromJson(json.loads(inferred.json()))
        if cache_key is not None:
            _INFERRED_SCHEMA_CACHE[cache_key] = schema
    missing = set(roots) - set(schema.fieldNames())
    if missing:
        mode = "declared payload-schema" if declared_schema else "inferred schema"
        raise ValueError(
            f"transform src root(s) {sorted(missing)} not present in the "
            f"{mode} (fields: {sorted(schema.fieldNames())}); declare them "
            f"in `payload-schema` or fix the transform src path"
        )
    parsed = T.StructType([f for f in schema.fields if f.name in roots])
    return with_text_leaves(parsed, text_paths)




@dataclass(frozen=True)
class FramePlan:
    """The per-frame plan of both strategies, resolved once per run by
    :func:`build_frame_plan`: Kafka columns → envelope with its one
    ``from_json`` payload struct → kode-6/7 scrub → payload root
    projection → transform. The layers are called through this module's
    globals and ``Transform.apply``, so a wrapper on those names sees
    both strategies."""

    spec: PipelineSpec
    transform: Transform
    k6_lookup: Optional[DataFrame] = None
    roots: tuple[str, ...] = ()
    k6_path: Optional[tuple[str, ...]] = None
    payload_schema: Optional[T.StructType] = None
    # registry-resolved writer schemas by id; empty: the `avro-schema`
    avro_schemas: dict = field(default_factory=dict)

    def __call__(self, frame: DataFrame) -> DataFrame:
        kafka_df = as_kafka_frame(frame, self.spec.source.topic or "events")
        return self.finish(self.envelope(kafka_df))

    def envelope(self, kafka_df: DataFrame) -> DataFrame:
        if not self.avro_schemas:
            return self._envelope(kafka_df, self.spec.source.avro_schema)
        if len(self.avro_schemas) > _AVRO_BRANCH_LIMIT:
            # Scale path: ONE scan, writer schema resolved per row inside
            # the Arrow batch (avro_codec.avro_decode_multi_to_json_udf).
            # Branching per id re-scans the source and unions N plans —
            # right for a handful of schema versions (each branch keeps
            # its own whole-stage span and a static decoder), wrong for a
            # topic carrying hundreds of ids.
            return self._envelope(kafka_df, None)
        # Per-id decode branches unioned back together — the reference
        # reads each message with its own writer schema
        # (src/kafka_source.py:129-151); here each id becomes one
        # filtered branch over the same scan, so mixed-schema topics
        # decode in a single run.
        from dvh_airflow_kafka_spark.sources.kafka import confluent_schema_id

        branches = [
            self._envelope(
                kafka_df.filter(confluent_schema_id(F.col("value")) == sid),
                self.avro_schemas[sid],
            )
            for sid in sorted(self.avro_schemas)
        ]
        env = branches[0]
        for branch in branches[1:]:
            env = env.unionByName(branch)
        return env

    def _envelope(self, frame: DataFrame, avro_schema_json: Optional[str]) -> DataFrame:
        """The envelope under the source's schema mode (the reference's
        deserializer, src/kafka_source.py:102-151): JSON re-serializes the
        drop/flag-filtered payload; string stores the JSON-quoted text;
        Avro strips the Confluent header, hashes the stripped bytes
        (:150), adds ``kafka_schema_id`` (:149) and decodes the record to
        canonical JSON — with ``avro_schema_json``, else per row through
        ``avro_schemas`` — before the same drop/flag ops."""
        src = self.spec.source
        mode = PayloadSchema(src.schema_type)
        value = F.col("value")
        raw = value.cast("string")
        hash_bytes = schema_id = None
        if mode == PayloadSchema.AVRO:
            from dvh_airflow_kafka_spark.sources.kafka import (
                avro_payload_json,
                confluent_schema_id,
                strip_confluent_header,
            )

            if avro_schema_json:
                raw = avro_payload_json(value, avro_schema_json)
            elif self.avro_schemas:
                from dvh_airflow_kafka_spark.sources.avro_codec import (
                    avro_decode_multi_to_json_udf,
                )

                raw = avro_decode_multi_to_json_udf(self.avro_schemas)(value)
            else:
                raise ValueError(
                    "schema: avro needs `avro-schema` in the source config or "
                    "a schema_registry client passed to run_pipeline"
                )
            hash_bytes = strip_confluent_header(value)
            schema_id = confluent_schema_id(value)
        canonical = raw
        if mode == PayloadSchema.STRING:
            canonical = json_quote(raw)
        elif src.message_fields_filter or src.flag_field_config:
            canonical = filter_json_payload(
                raw,
                drop_keypaths=src.message_fields_filter,
                flag_keypaths=src.flag_field_config,
                sep=src.keypath_separator or "/",
            )
        # Allow-filters probe the deserialized-and-filtered payload
        # (reference src/kafka_source.py:207-218): JSON/Avro read it from
        # the parsed struct when there is one; string mode, where
        # kafka_message is a JSON string literal, probes the raw text.
        if mode == PayloadSchema.STRING:
            filter_payload = raw
        else:
            filter_payload = None if self.payload_schema is not None else canonical
        return with_envelope(
            frame,
            key_codec=src.key_decoder,
            message_filters=src.message_filters,
            canonical_message=canonical,
            schema_id=schema_id,
            hash_bytes=hash_bytes,
            filter_payload=filter_payload,
            payload_schema=self.payload_schema,
        )

    def scrub(self, env: DataFrame) -> DataFrame:
        # P4/J2 privacy scrub happens sink-side BEFORE transform
        # (reference src/oracle_target.py:88-95) — the transform may
        # rename/drop the id. It NULLs the parsed struct with the message.
        k6 = self.spec.target.k6_filter
        if k6 is None:
            return env
        return scrub_flagged_persons(
            env,
            self.k6_lookup,
            person_id=payload_text(
                self.payload_schema, self.k6_path, F.col("kafka_message")
            )
            if self.k6_path
            else F.col(k6.col),
            event_ts=F.timestamp_millis(F.col(k6.timestamp))
            if k6.timestamp == "kafka_timestamp"
            else F.col(k6.timestamp),
            payload_cols=("kafka_message",)
            + ((PAYLOAD_COL,) if self.payload_schema is not None else ()),
            lookup_id_col=k6.filter_col,
        )

    def finish(self, env: DataFrame) -> DataFrame:
        out = self.scrub(env)
        if self.payload_schema is not None:
            # transform keypaths address payload roots as top-level columns
            out = out.select(
                *[c for c in out.columns if c != PAYLOAD_COL],
                *[F.col(PAYLOAD_COL)[r].alias(r) for r in self.roots],
            )
        return self.transform.apply(out)


def build_frame_plan(
    spark: SparkSession,
    spec: PipelineSpec,
    sample: Callable[[], DataFrame],
    *,
    k6_lookup: Optional[DataFrame] = None,
    batch_time: Optional[dt.datetime] = None,
    avro_schemas: Optional[dict] = None,
) -> FramePlan:
    """``spec``'s :class:`FramePlan`, with one ``Transform`` (one
    ``$$BATCH_TIME`` per run) and the payload struct's schema: declared,
    or inferred from a bounded sample of ``sample()``, a batch read of
    the source (cached per source path)."""
    src, k6 = spec.source, spec.target.k6_filter
    mode = PayloadSchema(src.schema_type)

    # Everything read from the payload goes through ONE parse per row
    # (_attach_payload_struct): transform keypath roots, allow-filter
    # keys (JSON/Avro — string mode probes the raw value text) and a
    # payload-keypath kode-6/7 key.
    envelope_cols = set(ENVELOPE_COLUMNS) | (
        {"kafka_schema_id"} if mode == PayloadSchema.AVRO else set()
    )
    roots = tuple(
        sorted({p.split(".")[0] for p in _payload_rule_sources(spec, envelope_cols)})
    )
    k6_path = None
    if k6 is not None and (
        k6.col_keypath_separator in k6.col or k6.col not in envelope_cols
    ):
        k6_path = tuple(k6.col.split(k6.col_keypath_separator))
    text_paths = [] if mode == PayloadSchema.STRING else [
        [r.key] for r in src.message_filters or ()
    ]
    if k6_path:
        text_paths.append(k6_path)

    plan = FramePlan(
        spec,
        Transform(spec.transform, batch_time=batch_time),
        k6_lookup,
        roots,
        k6_path,
        avro_schemas=avro_schemas or {},
    )
    if not (roots or text_paths):
        return plan

    def sample_frame(probe: Optional[T.StructType]) -> DataFrame:
        probed = replace(plan, payload_schema=probe)
        return probed.scrub(probed.envelope(sample()))

    payload_schema = _attach_payload_struct(
        spark,
        sample_frame,
        list(roots),
        text_paths,
        declared_schema=src.payload_schema,
        cache_key=(
            src.path,
            str(src.schema_type),
            tuple(src.message_fields_filter or ()),
            tuple(src.flag_field_config or ()),
            tuple((r.key, r.allowed_value) for r in (src.message_filters or ())),
        )
        if src.path
        else None,
    )
    return replace(plan, payload_schema=payload_schema)


def run_pipeline(
    spark: SparkSession,
    spec: PipelineSpec | str,
    *,
    bootstrap_servers: Optional[str] = None,
    k6_lookup: Optional[DataFrame] = None,
    existing: Optional[DataFrame] = None,
    batch_time: Optional[dt.datetime] = None,
    checkpoint_dir: Optional[str] = None,
    schema_registry=None,
) -> PipelineResult:
    """Execute one configured pipeline end-to-end (reference
    ``Mapping.run()``, src/mapping.py:49-57). Accepts a
    :class:`PipelineSpec` or a raw YAML string (the reference's
    ``CONSUMER_CONFIG`` env, src/main.py:33-38).

    ``k6_lookup`` is the privacy lookup table as a DataFrame (the
    reference probes Oracle per batch; a JDBC read of
    ``spec.target.k6_filter.filter_table`` plays that role in production).
    ``existing`` is the sink's current content for the dedup anti-join;
    when None and the sink path holds parquet data, it is read from there
    (no data yet = first load, no dedup needed; a read error raises).

    ``schema: avro`` sources decode Confluent-framed values through the
    pure-Python codec; the writer schema comes from ``avro-schema`` in
    the config (single-schema fast path), else from ``schema_registry``
    (a ``sources.schema_registry.SchemaRegistryClient``): the distinct
    schema ids in the data (a bounded driver collect) each become one
    filtered decode branch over the same scan, unioned back together —
    mixed-schema topics decode in a single run, matching the reference's
    per-message-id reads (src/kafka_source.py:129-151); subscribe needs
    the declared ``avro-schema``.
    """
    if isinstance(spec, str):
        spec = PipelineSpec.from_yaml(spec)
    src = spec.source
    sink = spec.target
    if sink.k6_filter is not None and k6_lookup is None:
        raise ValueError("k6-filter configured but no k6_lookup provided")

    # Strategy dispatch (reference Mapping.run, src/mapping.py:49-57).
    # Both strategies run the one FramePlan: subscribe on each
    # micro-batch of the checkpointed streaming spine (incremental
    # consumption with committed progress), assign on the bounded batch
    # read below.
    if (
        ReadStrategy(src.strategy) == ReadStrategy.SUBSCRIBE
        and SourceKind(src.type) != SourceKind.KAFKA
    ):
        from dvh_airflow_kafka_spark.streaming import run_streaming_pipeline

        if SinkKind(sink.type) != SinkKind.PARQUET or not sink.path:
            raise ValueError("subscribe strategy needs a parquet sink path")
        if not src.path:
            raise ValueError("subscribe strategy needs a source path")
        run = run_streaming_pipeline(
            spark,
            src.path,
            sink.path,
            checkpoint_dir or sink.path.rstrip("/") + "_checkpoint",
            plan=build_frame_plan(
                spark,
                spec,
                lambda: build_kafka_frame(spark, spec),
                k6_lookup=k6_lookup,
                batch_time=batch_time,
            ),
            dedup_keys=sink.skip_duplicates_with
            or ("kafka_topic", "kafka_partition", "kafka_offset"),
        )
        return PipelineResult(load_parquet(spark, sink.path), run.summary)

    # S10 delta probe (reference src/oracle_target.py:17-20, 30-43): when
    # no explicit interval start is configured, derive it from the sink's
    # MAX(delta-column). Inclusive start — the boundary row is re-read and
    # the dedup anti-join absorbs it, exactly the reference's contract.
    if (
        sink.delta
        and src.starting_timestamp_ms is None
        and SinkKind(sink.type) == SinkKind.PARQUET
        and sink.path
    ):
        from dvh_airflow_kafka_spark.operators.watermark import (
            delta_watermark_epoch_ms,
        )

        # no sink data yet = first load, no watermark; a sink that is
        # there but cannot be read raises
        if HadoopFs(spark, sink.path).has_data(sink.path):
            wm = delta_watermark_epoch_ms(
                load_parquet(spark, sink.path),
                sink.delta.get("delta-column", "kafka_timestamp"),
            )
            if wm is not None:
                src = src.model_copy(update={"starting_timestamp_ms": wm})
                spec = spec.model_copy(update={"source": src})

    kafka_df = build_kafka_frame(spark, spec, bootstrap_servers)

    avro_schemas: dict = {}
    if PayloadSchema(src.schema_type) == PayloadSchema.AVRO and src.avro_schema is None:
        from dvh_airflow_kafka_spark.sources.kafka import confluent_schema_id

        if schema_registry is None:
            raise ValueError(
                "schema: avro needs `avro-schema` in the source config or a "
                "schema_registry client passed to run_pipeline"
            )
        # Distinct writer-schema ids: a bounded driver collect (a topic
        # carries a handful of schema versions, never data-scale many).
        sids = [
            r.sid
            for r in kafka_df.select(
                confluent_schema_id(F.col("value")).alias("sid")
            )
            .distinct()
            .collect()
        ]
        if any(s is None for s in sids):
            # A NULL id means a value that is NULL or shorter than the
            # 5-byte Confluent frame. Without this check those rows match
            # no per-id branch and vanish from the output; the reference
            # raises on the first malformed frame (src/kafka_source.py:
            # 129-137), so surface them.
            n_bad = kafka_df.filter(
                confluent_schema_id(F.col("value")).isNull()
            ).count()
            raise ValueError(
                f"{n_bad} message(s) are not Confluent-framed Avro "
                "(value NULL or < 5 bytes) — cannot resolve a writer "
                "schema for them"
            )
        avro_ids = sorted(int(s) for s in sids)
        if not avro_ids:
            raise ValueError(
                "cannot resolve the Avro writer schema from an empty "
                "source; declare `avro-schema` in the config"
            )
        avro_schemas = schema_registry.schemas_for_ids(avro_ids)

    plan = build_frame_plan(
        spark,
        spec,
        lambda: kafka_df,
        k6_lookup=k6_lookup,
        batch_time=batch_time,
        avro_schemas=avro_schemas,
    )
    env = plan.envelope(kafka_df)
    # Counters ride the sink's job as an Observation on the envelope node
    # — no second pass over the source (A2, operators/summary.py). The
    # payload-schema sample ran on a frame without it, so the counters
    # read the sink's job only. Only worth attaching when run_pipeline
    # itself executes the plan: for the memory sink the frame goes back
    # to the caller lazily, and a CollectMetrics node would split the
    # scan's whole-stage-codegen span in two on every downstream use;
    # its lazy summary counts the envelope directly instead.
    sink_executes = SinkKind(sink.type) != SinkKind.MEMORY
    obs = None
    if sink_executes:
        env, obs = observe_summary(env)
    out = plan.finish(env)

    # J1 dedup-on-insert (reference src/oracle_target.py:97-104).
    dedup_keys = sink.skip_duplicates_with or []
    if dedup_keys:
        if existing is None and SinkKind(sink.type) == SinkKind.PARQUET and sink.path:
            # no sink data yet = first load, nothing to dedup against;
            # a sink that is there but cannot be read raises
            if HadoopFs(spark, sink.path).has_data(sink.path):
                existing = load_parquet(spark, sink.path)
        # no forced broadcast — `existing` is the sink's full key set,
        # unbounded over time; AQE broadcasts it dynamically while small
        out = dedup_against_existing(
            out, existing, dedup_keys, broadcast_existing=False
        )

    kind = SinkKind(sink.type)
    if kind == SinkKind.PARQUET:
        if not sink.path:
            raise ValueError("parquet sink requires `path`")
        write_parquet_append(out, sink.path)
    elif kind in (SinkKind.ORACLE, SinkKind.JDBC):
        url = sink.options.get("url", "")
        if not url:
            raise ValueError("jdbc sink requires options.url")
        write_jdbc(out, url, sink.table, options=sink.options)
    elif kind == SinkKind.CONSOLE:
        write_console(out)
    else:
        # MEMORY: register the frame; the caller's action on it is the
        # sink action — executing here would run the plan twice.
        out.createOrReplaceTempView(sink.table or "pipeline_out")

    # Bounded batch counter semantics (operators/summary.py): every
    # scanned message is a proper data message; written counts the batch
    # handed to the sink — the dedup anti-join, like the reference's
    # in-DB NOT EXISTS (src/kafka_source.py:344), does not decrement it.
    subscribe = ReadStrategy(src.strategy) == ReadStrategy.SUBSCRIBE

    def _make_summary() -> ProcessSummary:
        if obs is not None:
            try:
                n_events = int(obs.get["event_count"])
            except Exception:
                # Spark 4.1 can lose the CollectMetrics row when the
                # observed node sits under dropDuplicates + a broadcast
                # anti-join re-planned by AQE (toPyRow assertion). Fall
                # back to one extra count over the envelope —
                # correctness over the saved scan.
                n_events = env.count()
        else:
            # memory sink: one counting job over the envelope prefix —
            # cheaper than re-running the whole plan, and the returned
            # frame stays CollectMetrics-free.
            n_events = env.count()
        return ProcessSummary(
            event_count=n_events,
            data_count=n_events,
            error_count=0,
            written_to_db_count=n_events,
            committed_to_producer_count=n_events if subscribe else -1,
            empty_count=0,
            non_empty_count=n_events,
        )

    return PipelineResult(dataframe=out, summary_fn=_make_summary)
