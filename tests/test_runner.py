"""Config-driven pipeline runner (reference Mapping.run, src/mapping.py:49-57
+ src/main.py:55-66): YAML → source → envelope → payload ops → transform →
k6 → dedup → sink, with ProcessSummary xcom parity."""

from __future__ import annotations

import datetime as dt
import json
import os
import struct

import pytest
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.config import PipelineSpec
from dvh_airflow_kafka_spark.io import load_parquet, load_table
from dvh_airflow_kafka_spark.runner import run_pipeline
from dvh_airflow_kafka_spark.sources.envelope import decode_key, json_quote


def _events_yaml(sf_dir: str, target: str) -> str:
    return f"""
source:
  type: parquet
  topic: events
  schema: json
  path: "{os.path.join(sf_dir, 'events.parquet')}"
target:
{target}
transform:
  - src: kafka_key
    dst: kafka_key
  - src: kafka_offset
    dst: kafka_offset
  - src: kafka_hash
    dst: kafka_hash
  - src: kafka_message
    dst: kafka_message
  - src: $$BATCH_TIME
    dst: lastet_tid
"""


def test_yaml_roundtrip_validates(sf_dir):
    spec = PipelineSpec.from_yaml(_events_yaml(sf_dir, "  type: memory"))
    assert spec.source.topic == "events"
    assert spec.target.type == "memory"
    assert len(spec.transform) == 5


def test_memory_sink_and_summary(spark, sf_dir):
    result = run_pipeline(spark, _events_yaml(sf_dir, "  type: memory\n  table: t_mem"))
    n = load_table(spark, sf_dir, "events").count()
    s = result.summary
    # bounded assign-mode run: every message is a proper data message
    assert s.event_count == s.data_count == s.non_empty_count == n
    assert s.written_to_db_count == n
    assert s.committed_to_producer_count == -1
    assert s.error_count == 0 and s.empty_count == 0
    assert set(s.as_xcom()) == {
        "event_count",
        "data_count",
        "error_count",
        "written_to_db_count",
        "committed_to_producer_count",
        "empty_count",
        "non_empty_count",
    }
    assert spark.table("t_mem").count() == n


def test_parquet_sink_rerun_is_idempotent(spark, sf_dir, tmp_path):
    """Laws 4/5: re-running the identical interval writes 0 new rows —
    the dedup anti-join against the sink is the idempotence backstop
    (reference test_integration.py:214-237)."""
    sink = str(tmp_path / "sink.parquet")
    yaml_text = _events_yaml(
        sf_dir,
        f"""  type: parquet
  path: "{sink}"
  skip-duplicates-with: [kafka_hash]""",
    )
    r1 = run_pipeline(spark, yaml_text)
    n1 = load_parquet(spark, sink).count()
    r2 = run_pipeline(spark, yaml_text)
    n2 = load_parquet(spark, sink).count()
    assert n1 > 0
    assert n2 == n1  # re-run appended nothing
    # the reference counts the attempted batch, not post-dedup inserts
    assert r2.summary.written_to_db_count == r1.summary.written_to_db_count


def test_payload_keypath_transform(spark, sf_dir):
    """Transform src paths address payload fields directly (the reference
    merges the payload dict into the record, src/kafka_source.py:110-118)."""
    yaml_text = f"""
source:
  type: parquet
  topic: events
  schema: json
  path: "{os.path.join(sf_dir, 'events.parquet')}"
target:
  type: memory
  table: t_payload
transform:
  - src: kafka_offset
    dst: kafka_offset
  - src: k
    dst: k_value
"""
    result = run_pipeline(spark, yaml_text)
    rows = {r.kafka_offset: r.k_value for r in result.dataframe.collect()}
    events = load_table(spark, sf_dir, "events").collect()
    for ev in events[:50]:
        assert rows[ev.event_id] == json.loads(ev.props).get("k")


def test_declared_payload_schema_skips_sampling(spark, sf_dir):
    """With `payload-schema` declared, the payload struct comes from the
    DDL — no driver-side sampling job. Proven by construction: an
    allow-filter that matches nothing NULLs every kafka_message, so the
    inference path MUST fail ('all-NULL payload') while the declared-
    schema path runs the same spec fine."""
    base = f"""
source:
  type: parquet
  topic: events
  schema: json
  path: "{os.path.join(sf_dir, 'events.parquet')}"
  message-filters:
    - key: k
      allowed_value: -99999
{{extra}}target:
  type: memory
  table: t_declared
transform:
  - src: kafka_offset
    dst: kafka_offset
  - src: k
    dst: k_value
"""
    with pytest.raises(ValueError, match="all-NULL payload"):
        run_pipeline(spark, base.format(extra=""))
    result = run_pipeline(
        spark, base.format(extra='  payload-schema: "k INT"\n')
    )
    rows = result.dataframe.collect()
    assert len(rows) > 0
    assert all(r.k_value is None for r in rows)  # payloads are scrubbed


def test_missing_transform_root_is_hard_error(spark, sf_dir):
    """A transform src root absent from the payload schema must raise at
    plan build (not silently NULL or fail downstream) — in both the
    inferred and the declared-schema modes."""
    base = f"""
source:
  type: parquet
  topic: events
  schema: json
  path: "{os.path.join(sf_dir, 'events.parquet')}"
{{extra}}target:
  type: memory
  table: t_missing_root
transform:
  - src: kafka_offset
    dst: kafka_offset
  - src: no_such_field
    dst: broken
"""
    with pytest.raises(ValueError, match="no_such_field"):
        run_pipeline(spark, base.format(extra=""))
    with pytest.raises(ValueError, match="no_such_field"):
        run_pipeline(spark, base.format(extra='  payload-schema: "k INT"\n'))


def _avro_framed_source(spark, sf_dir, tmp_path):
    """File-sim Kafka log whose values are Confluent-framed Avro records
    (schema id = 9), built from the events table."""
    from dvh_airflow_kafka_spark.sources.avro_codec import avro_encode_from_json_udf
    from dvh_airflow_kafka_spark.sources.kafka import confluent_frame

    schema = (
        '{"type": "record", "name": "E", "fields": ['
        '{"name": "event_type", "type": "string"},'
        '{"name": "user_id", "type": "long"}]}'
    )
    events = load_table(spark, sf_dir, "events").limit(200)
    kafka = events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        confluent_frame(
            F.lit(9),
            avro_encode_from_json_udf(schema)(
                F.to_json(F.struct("event_type", "user_id"))
            ),
        ).alias("value"),
        F.lit("events").alias("topic"),
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
    )
    path = str(tmp_path / "avro_log")
    kafka.write.parquet(path)
    return path, schema


def test_avro_schema_mode_from_config(spark, sf_dir, tmp_path):
    """`schema: avro` end-to-end through the YAML runner: Confluent
    header strip + binary decode, per-row kafka_schema_id, and the hash
    over header-STRIPPED payload bytes (reference src/kafka_source.py:
    129-151)."""
    import hashlib

    path, schema = _avro_framed_source(spark, sf_dir, tmp_path)
    yaml_text = f"""
source:
  type: parquet
  topic: events
  schema: avro
  avro-schema: '{schema}'
  path: "{path}"
target:
  type: memory
  table: t_avro
transform:
  - src: kafka_offset
    dst: kafka_offset
  - src: kafka_schema_id
    dst: kafka_schema_id
  - src: kafka_hash
    dst: kafka_hash
  - src: kafka_message
    dst: kafka_message
"""
    result = run_pipeline(spark, yaml_text)
    rows = {r.kafka_offset: r for r in result.dataframe.collect()}
    src_rows = {r.offset: r for r in spark.read.parquet(path).collect()}
    events = {r.event_id: r for r in load_table(spark, sf_dir, "events").collect()}
    assert len(rows) == 200
    for off, r in list(rows.items())[:50]:
        assert r.kafka_schema_id == 9
        payload = bytes(src_rows[off].value)[5:]  # header-stripped
        assert r.kafka_hash == hashlib.sha256(payload).hexdigest()
        decoded = json.loads(r.kafka_message)
        assert decoded["event_type"] == events[off].event_type
        assert decoded["user_id"] == events[off].user_id


def test_avro_schema_from_registry_client(spark, sf_dir, tmp_path):
    """Without `avro-schema` in the config, the writer schema resolves
    through the registry client (fetched once, from the first frame's
    id)."""
    from dvh_airflow_kafka_spark.sources.schema_registry import SchemaRegistryClient

    path, schema = _avro_framed_source(spark, sf_dir, tmp_path)
    calls = []

    def transport(url, auth):
        calls.append(url)
        return {"schema": schema}

    client = SchemaRegistryClient("http://registry", transport=transport)
    yaml_text = f"""
source:
  type: parquet
  topic: events
  schema: avro
  path: "{path}"
target:
  type: memory
  table: t_avro_reg
transform:
  - src: kafka_offset
    dst: kafka_offset
  - src: kafka_message
    dst: kafka_message
"""
    result = run_pipeline(spark, yaml_text, schema_registry=client)
    assert calls == ["http://registry/schemas/ids/9"]  # one driver fetch
    assert result.dataframe.filter(F.col("kafka_message").isNotNull()).count() == 200


def test_avro_mixed_schema_ids_decode_per_branch(spark, sf_dir, tmp_path):
    """A topic carrying TWO writer schemas decodes in one run: each id
    becomes a filtered branch with its own schema (the reference reads
    every message with its own writer schema)."""
    from dvh_airflow_kafka_spark.sources.avro_codec import avro_encode_from_json_udf
    from dvh_airflow_kafka_spark.sources.kafka import confluent_frame
    from dvh_airflow_kafka_spark.sources.schema_registry import SchemaRegistryClient

    s_a = '{"type": "record", "name": "A", "fields": [{"name": "user_id", "type": "long"}]}'
    s_b = (
        '{"type": "record", "name": "B", "fields": ['
        '{"name": "event_type", "type": "string"},'
        '{"name": "value", "type": ["null", "double"]}]}'
    )
    events = load_table(spark, sf_dir, "events").limit(100)
    enc_a = avro_encode_from_json_udf(s_a)(F.to_json(F.struct("user_id")))
    enc_b = avro_encode_from_json_udf(s_b)(F.to_json(F.struct("event_type", "value")))
    value = F.when(
        F.col("event_id") % 2 == 0, confluent_frame(F.lit(11), enc_a)
    ).otherwise(confluent_frame(F.lit(12), enc_b))
    path = str(tmp_path / "mixed_log")
    events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        value.alias("value"),
        F.lit("events").alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
    ).write.parquet(path)

    schemas = {11: s_a, 12: s_b}
    client = SchemaRegistryClient(
        "http://r", transport=lambda url, auth: {"schema": schemas[int(url.rsplit("/", 1)[1])]}
    )
    yaml_text = f"""
source:
  type: parquet
  topic: events
  schema: avro
  path: "{path}"
target:
  type: memory
  table: t_avro_mixed
transform:
  - src: kafka_offset
    dst: kafka_offset
  - src: kafka_schema_id
    dst: kafka_schema_id
  - src: kafka_message
    dst: kafka_message
"""
    result = run_pipeline(spark, yaml_text, schema_registry=client)
    rows = {r.kafka_offset: r for r in result.dataframe.collect()}
    expect = {r.event_id: r for r in events.collect()}
    assert len(rows) == 100
    for off, r in rows.items():
        decoded = json.loads(r.kafka_message)
        if off % 2 == 0:
            assert r.kafka_schema_id == 11
            assert decoded == {"user_id": expect[off].user_id}
        else:
            assert r.kafka_schema_id == 12
            assert decoded["event_type"] == expect[off].event_type


def test_avro_subscribe_strategy_streams_decoded(spark, sf_dir, tmp_path):
    """schema: avro + strategy: subscribe — the streaming spine shares
    the batch deserializer (payload_modes), so Avro frames decode inside
    foreachBatch too: decoded JSON messages, per-row schema id, and
    header-stripped hashes in the sink."""
    import hashlib

    path, schema = _avro_framed_source(spark, sf_dir, tmp_path)
    sink = str(tmp_path / "avro_sink")
    yaml_text = f"""
source:
  type: parquet
  topic: events
  schema: avro
  avro-schema: '{schema}'
  strategy: subscribe
  path: "{path}"
target:
  type: parquet
  path: "{sink}"
  skip-duplicates-with: [kafka_offset]
transform:
  - src: kafka_offset
    dst: kafka_offset
  - src: kafka_schema_id
    dst: kafka_schema_id
  - src: kafka_hash
    dst: kafka_hash
  - src: kafka_message
    dst: kafka_message
"""
    result = run_pipeline(spark, yaml_text)
    out = {r.kafka_offset: r for r in result.dataframe.collect()}
    src_rows = {r.offset: r for r in spark.read.parquet(path).collect()}
    assert len(out) == 200
    for off, r in list(out.items())[:25]:
        assert r.kafka_schema_id == 9
        payload = bytes(src_rows[off].value)[5:]
        assert r.kafka_hash == hashlib.sha256(payload).hexdigest()
        assert json.loads(r.kafka_message)["user_id"] is not None


# --------------------------------------------------------------------------
# One spec, both read strategies, the same sink rows (the reference runs
# its integration tests for {subscribe, assign}, test_integration.py:131)
# --------------------------------------------------------------------------

STRATEGIES = ["assign", "subscribe"]
BATCH_TIME = dt.datetime(2024, 6, 10)


def _events_log(spark, sf_dir, tmp_path) -> str:
    """The events table as a parquet log of 3 files: one bounded read
    under assign, three micro-batches under subscribe."""
    log = str(tmp_path / "log")
    load_table(spark, sf_dir, "events").repartition(3).write.parquet(log)
    return log


def _sink(spark, yaml_text, strategy, tmp_path, **kwargs):
    """Run ``yaml_text`` (its source ``strategy: STRATEGY``, its target
    a parquet sink at ``SINK``) under ``strategy`` with a fixed batch
    time; the sink's frame. Subscribe checkpoints beside the sink."""
    sink = str(tmp_path / "sink")
    run_pipeline(
        spark,
        yaml_text.replace("STRATEGY", strategy).replace("SINK", sink),
        batch_time=BATCH_TIME,
        **kwargs,
    )
    return load_parquet(spark, sink)


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_k6_scrub_from_config(spark, sf_dir, tmp_path, strategy):
    """P4 via config: flagged ids get NULL payload, rows never dropped
    (reference src/oracle_target.py:46-93)."""
    yaml_text = f"""
source:
  type: parquet
  topic: events
  schema: json
  strategy: STRATEGY
  path: "{_events_log(spark, sf_dir, tmp_path)}"
target:
  type: parquet
  path: "SINK"
  skip-duplicates-with: [kafka_offset]
  k6-filter:
    filter-table: skjerming
    filter-col: off_id
    col: kafka_key
    timestamp: kafka_timestamp
transform:
  - src: kafka_offset
    dst: kafka_offset
  - src: kafka_key
    dst: kafka_key
  - src: kafka_message
    dst: kafka_message
  - src: $$BATCH_TIME
    dst: lastet_tid
"""
    events = load_table(spark, sf_dir, "events")
    flagged = [r.user_id for r in events.select("user_id").distinct().limit(3).collect()]
    lookup = spark.createDataFrame(
        [(str(u), "1900-01-01", "9999-12-31", 6) for u in flagged],
        "off_id string, gyldig_fra_dato string, gyldig_til_dato string, skjermet_kode int",
    )
    out = _sink(spark, yaml_text, strategy, tmp_path, k6_lookup=lookup)
    assert out.count() == events.count()  # rows preserved
    hit = out.filter(F.col("kafka_key").isin([str(u) for u in flagged]))
    assert hit.count() > 0
    assert hit.filter(F.col("kafka_message").isNotNull()).count() == 0
    miss = out.filter(~F.col("kafka_key").isin([str(u) for u in flagged]))
    assert miss.filter(F.col("kafka_message").isNull()).count() == 0
    assert {tuple(r) for r in out.collect()} == {
        (
            ev.event_id,
            str(ev.user_id),
            None if ev.user_id in flagged else ev.props,
            BATCH_TIME,
        )
        for ev in events.collect()
    }


def test_bounded_interval_read(spark, sf_dir):
    """S1/ST2: starting/ending timestamps bound the scan like
    DATA_INTERVAL_START/END (reference src/kafka_source.py:68-72)."""
    events = load_table(spark, sf_dir, "events")
    lo, hi = 1705276800000, 1705708800000  # 2024-01-15 .. 2024-01-20 UTC
    yaml_text = f"""
source:
  type: parquet
  topic: events
  schema: json
  path: "{os.path.join(sf_dir, 'events.parquet')}"
  starting_timestamp_ms: {lo}
  ending_timestamp_ms: {hi}
target:
  type: memory
  table: t_interval
transform:
  - src: kafka_timestamp
    dst: kafka_timestamp
"""
    result = run_pipeline(spark, yaml_text)
    got = result.dataframe.agg(
        F.min("kafka_timestamp"), F.max("kafka_timestamp"), F.count(F.lit(1))
    ).collect()[0]
    expect = events.filter(
        (F.unix_millis(F.col("ts").cast("timestamp")) >= lo)
        & (F.unix_millis(F.col("ts").cast("timestamp")) < hi)
    ).count()
    assert got[2] == expect > 0
    assert got[0] >= lo and got[1] < hi


# --------------------------------------------------------------------------
# S5/S6 decode parity
# --------------------------------------------------------------------------


def test_int64_key_decoding_is_unsigned(spark):
    """Reference decodes big-endian UNSIGNED int-64 — int.from_bytes(x,
    byteorder="big"), no sign (src/kafka_source.py:78) — so MSB-set keys
    decode to large positives, never negatives."""
    raw = [
        struct.pack(">q", v) for v in [-1, -123456789012345, -(2**63), 0, 1, 2**63 - 1]
    ]
    df = spark.createDataFrame([(b,) for b in raw], "key binary").withColumn(
        "decoded", decode_key(F.col("key"), "int-64")
    )
    got = [r.decoded for r in df.collect()]
    assert got == [str(int.from_bytes(b, byteorder="big")) for b in raw]
    assert got[0] == str(2**64 - 1)  # 0xFF…FF, not -1
    assert got[2] == str(2**63)  # 0x80…00, not -2^63


def test_string_schema_json_quotes(spark):
    """Reference stores kafka_message = json.dumps(text, ensure_ascii=False)
    for schema: string (src/kafka_source.py:121-127)."""
    texts = ['plain', 'with "quotes"', 'back\\slash', 'newline\nend', 'blåbær', None]
    df = spark.createDataFrame([(t,) for t in texts], "v string").select(
        F.col("v"), json_quote(F.col("v")).alias("q")
    )
    for r in df.collect():
        if r.v is None:
            assert r.q is None
        else:
            assert r.q == json.dumps(r.v, ensure_ascii=False)
            assert json.loads(r.q) == r.v


def test_delta_watermark_bounds_second_run(spark, sf_dir, tmp_path):
    """S10: with a delta config, the second run derives its interval start
    from MAX(delta-column) of the sink — only the boundary row is re-read,
    and the dedup anti-join keeps the sink unchanged (reference
    src/oracle_target.py:17-43 + law 4)."""
    sink = str(tmp_path / "sink.parquet")
    yaml_text = f"""
source:
  type: parquet
  topic: events
  schema: json
  path: "{os.path.join(sf_dir, 'events.parquet')}"
target:
  type: parquet
  path: "{sink}"
  skip-duplicates-with: [kafka_offset]
  delta:
    delta-table: sink
    delta-column: kafka_timestamp
transform:
  - src: kafka_offset
    dst: kafka_offset
  - src: kafka_timestamp
    dst: kafka_timestamp
"""
    r1 = run_pipeline(spark, yaml_text)
    n1 = load_parquet(spark, sink).count()
    r2 = run_pipeline(spark, yaml_text)
    n2 = load_parquet(spark, sink).count()
    assert n2 == n1  # nothing new appended
    # the delta probe bounded the re-read to the watermark boundary
    assert 0 < r2.summary.event_count < r1.summary.event_count


def test_subscribe_strategy_dispatches_to_streaming(spark, sf_dir, tmp_path):
    """Mapping.run strategy dispatch (reference src/mapping.py:49-57):
    subscribe drives the checkpointed streaming spine; committed equals
    written (write-then-commit, ST4) and a re-run consumes nothing new."""
    from dvh_airflow_kafka_spark.io import load_table

    src = str(tmp_path / "log")
    load_table(spark, sf_dir, "events").limit(300).repartition(3).write.parquet(src)
    sink = str(tmp_path / "sink")
    yaml_text = f"""
source:
  type: parquet
  topic: events
  schema: json
  strategy: subscribe
  path: "{src}"
target:
  type: parquet
  path: "{sink}"
  skip-duplicates-with: [kafka_offset]
transform:
  - src: kafka_offset
    dst: kafka_offset
  - src: kafka_message
    dst: kafka_message
"""
    r1 = run_pipeline(spark, yaml_text)
    assert r1.summary.event_count == 300
    assert r1.summary.committed_to_producer_count == r1.summary.written_to_db_count == 300
    assert r1.dataframe.count() == 300
    # second run: checkpoint says the log is drained — nothing consumed
    r2 = run_pipeline(spark, yaml_text)
    assert r2.summary.event_count == 0
    assert spark.read.parquet(sink).count() == 300


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_k6_scrub_person_id_from_payload(spark, sf_dir, tmp_path, strategy):
    """P4 with the person-id extracted from a (possibly nested) payload
    keypath (reference src/oracle_target.py:46-51 walks the message dict)."""
    yaml_text = f"""
source:
  type: parquet
  topic: events
  schema: json
  strategy: STRATEGY
  path: "{_events_log(spark, sf_dir, tmp_path)}"
target:
  type: parquet
  path: "SINK"
  skip-duplicates-with: [kafka_offset]
  k6-filter:
    filter-table: skjerming
    filter-col: off_id
    col: k
    timestamp: kafka_timestamp
transform:
  - src: kafka_offset
    dst: kafka_offset
  - src: kafka_message
    dst: kafka_message
  - src: $$BATCH_TIME
    dst: lastet_tid
"""
    events = load_table(spark, sf_dir, "events")
    flagged_k = [
        r.k
        for r in events.select(
            F.get_json_object("props", "$.k").cast("int").alias("k")
        )
        .filter(F.col("k").isNotNull())
        .distinct()
        .limit(2)
        .collect()
    ]
    lookup = spark.createDataFrame(
        [(str(k), "1900-01-01", "9999-12-31", 7) for k in flagged_k],
        "off_id string, gyldig_fra_dato string, gyldig_til_dato string, skjermet_kode int",
    )
    rows = _sink(spark, yaml_text, strategy, tmp_path, k6_lookup=lookup).collect()
    assert len(rows) == events.count()
    expect_hit = events.filter(
        F.get_json_object("props", "$.k").cast("int").isin(flagged_k)
    ).count()
    assert expect_hit > 0
    assert sum(r.kafka_message is None for r in rows) == expect_hit
    assert {tuple(r) for r in rows} == {
        (
            ev.event_id,
            None if json.loads(ev.props).get("k") in flagged_k else ev.props,
            BATCH_TIME,
        )
        for ev in events.collect()
    }


@pytest.mark.parametrize("declared", [False, True])
@pytest.mark.parametrize("strategy", STRATEGIES)
def test_payload_keypath_rules_and_allow_filter(
    spark, sf_dir, tmp_path, strategy, declared
):
    """Payload-keypath transform rules under an allow-filter, with an
    inferred and a declared ``payload-schema``: the filter NULLs the
    message and every payload field read from it."""
    schema = '  payload-schema: "k INT"\n' if declared else ""
    yaml_text = f"""
source:
  type: parquet
  topic: events
  schema: json
  strategy: STRATEGY
  path: "{_events_log(spark, sf_dir, tmp_path)}"
  message-filters:
    - {{key: k, allowed_value: 87}}
    - {{key: k, allowed_value: 12}}
{schema}target:
  type: parquet
  path: "SINK"
  skip-duplicates-with: [kafka_offset]
transform:
  - {{src: kafka_offset, dst: kafka_offset}}
  - {{src: kafka_message, dst: kafka_message}}
  - {{src: k, dst: k_value}}
  - {{src: $$BATCH_TIME, dst: lastet_tid}}
"""
    rows = _sink(spark, yaml_text, strategy, tmp_path).collect()
    expect = set()
    for ev in load_table(spark, sf_dir, "events").collect():
        k = json.loads(ev.props)["k"]
        kept = k in (87, 12)
        expect.add(
            (ev.event_id, ev.props if kept else None, k if kept else None, BATCH_TIME)
        )
    assert {tuple(r) for r in rows} == expect
    assert 0 < sum(r.k_value is not None for r in rows) < len(rows)


def test_subscribe_k6_filter_needs_lookup(spark, sf_dir, tmp_path):
    """A k6-filter without its lookup table fails before any batch runs,
    under subscribe as under assign: a run that went on would write the
    flagged persons' messages unscrubbed."""
    yaml_text = f"""
source:
  type: parquet
  topic: events
  schema: json
  strategy: subscribe
  path: "{_events_log(spark, sf_dir, tmp_path)}"
target:
  type: parquet
  path: "{tmp_path / 'sink'}"
  k6-filter:
    filter-table: skjerming
    filter-col: off_id
    col: kafka_key
    timestamp: kafka_timestamp
transform:
  - {{src: kafka_offset, dst: kafka_offset}}
"""
    with pytest.raises(ValueError, match="k6_lookup"):
        run_pipeline(spark, yaml_text)
    assert not os.path.exists(tmp_path / "sink")


# --------------------------------------------------------------------------
# Kafka security/broker option passthrough (reference src/kafka_source.py:
# 163-180 configures security.protocol + SSL cert/key locations)
# --------------------------------------------------------------------------

_SECURE_KAFKA_YAML = """
source:
  type: kafka
  topic: secure-topic
  schema: json
  kafka-options:
    security.protocol: SSL
    ssl.truststore.location: /etc/certs/truststore.jks
    sasl.mechanism: PLAIN
    kafka.ssl.keystore.password: hunter2
target:
  type: memory
transform:
  - src: kafka_key
    dst: kafka_key
"""


class _ReaderStub:
    """Records .option() calls like a DataFrameReader."""

    def __init__(self):
        self.opts = {}

    def option(self, k, v):
        self.opts[k] = v
        return self


def test_kafka_options_yaml_roundtrip():
    spec = PipelineSpec.from_yaml(_SECURE_KAFKA_YAML)
    assert spec.source.kafka_options["security.protocol"] == "SSL"
    assert (
        spec.source.kafka_options["ssl.truststore.location"]
        == "/etc/certs/truststore.jks"
    )
    # round-trip through the model keeps the dict intact
    spec2 = PipelineSpec.model_validate(spec.model_dump(by_alias=True))
    assert spec2.source.kafka_options == spec.source.kafka_options


def test_env_ref_indirection_contract(monkeypatch):
    """${ENV} option values resolve from os.environ at load (the engine
    side of the reference's secret-manager→env flow, src/config.py:10-41);
    unset variables fail loudly AT LOAD, and literals pass verbatim."""
    from dvh_airflow_kafka_spark.config import resolve_env_refs

    yaml_text = _SECURE_KAFKA_YAML.replace(
        "kafka.ssl.keystore.password: hunter2",
        "kafka.ssl.keystore.password: ${KEYSTORE_PASSWORD}",
    )
    monkeypatch.setenv("KEYSTORE_PASSWORD", "s3cret")
    spec = PipelineSpec.from_yaml(yaml_text)
    assert spec.source.kafka_options["kafka.ssl.keystore.password"] == "s3cret"
    assert spec.source.kafka_options["security.protocol"] == "SSL"  # literal

    monkeypatch.delenv("KEYSTORE_PASSWORD")
    with pytest.raises(KeyError, match="KEYSTORE_PASSWORD"):
        PipelineSpec.from_yaml(yaml_text)

    # non-anchored / lowercase forms are literals, never expanded
    assert resolve_env_refs({"a": "x${HOME}y", "b": "${lower}"}) == {
        "a": "x${HOME}y",
        "b": "${lower}",
    }


def test_kafka_options_land_on_reader():
    from dvh_airflow_kafka_spark.sources.kafka import _apply_kafka_options

    spec = PipelineSpec.from_yaml(_SECURE_KAFKA_YAML).source
    reader = _apply_kafka_options(_ReaderStub(), spec)
    # consumer config names get the connector's kafka. prefix...
    assert reader.opts["kafka.security.protocol"] == "SSL"
    assert reader.opts["kafka.sasl.mechanism"] == "PLAIN"
    assert (
        reader.opts["kafka.ssl.truststore.location"] == "/etc/certs/truststore.jks"
    )
    # ...and keys already carrying it are not double-prefixed
    assert reader.opts["kafka.ssl.keystore.password"] == "hunter2"
    assert "kafka.kafka.ssl.keystore.password" not in reader.opts


def test_kafka_options_default_empty():
    spec = PipelineSpec.from_yaml(
        _SECURE_KAFKA_YAML.replace("  kafka-options:", "  unused-key:")
        .replace("    security.protocol: SSL", "")
        .replace("    ssl.truststore.location: /etc/certs/truststore.jks", "")
        .replace("    sasl.mechanism: PLAIN", "")
        .replace("    kafka.ssl.keystore.password: hunter2", "")
    )
    assert spec.source.kafka_options == {}


def test_airflow_style_backfill_intervals(spark, sf_dir, tmp_path):
    """The reference runs one bounded interval per Airflow DAG run; a
    backfill is consecutive interval runs plus, occasionally, a re-run
    of an already-loaded interval. Two interval runs + a replay of the
    first must equal ONE full-range run: no gaps at the boundary, no
    duplicates from the replay (dedup-on-insert), boundary rows loaded
    exactly once."""
    sink = str(tmp_path / "sink")
    lo, mid, hi = 1704067200000, 1705276800000, 1706486400000  # 1/1,1/15,1/29

    def interval_yaml(a, b):
        return f"""
source:
  type: parquet
  topic: events
  schema: json
  path: "{os.path.join(sf_dir, 'events.parquet')}"
  starting_timestamp_ms: {a}
  ending_timestamp_ms: {b}
target:
  type: parquet
  path: "{sink}"
  skip-duplicates-with: [kafka_topic, kafka_partition, kafka_offset]
transform:
  - src: kafka_topic
    dst: kafka_topic
  - src: kafka_partition
    dst: kafka_partition
  - src: kafka_offset
    dst: kafka_offset
  - src: kafka_timestamp
    dst: kafka_timestamp
"""

    run_pipeline(spark, interval_yaml(lo, mid))  # DAG run 1
    n1 = spark.read.parquet(sink).count()
    run_pipeline(spark, interval_yaml(mid, hi))  # DAG run 2
    n2 = spark.read.parquet(sink).count()
    assert n2 > n1
    run_pipeline(spark, interval_yaml(lo, mid))  # re-run of interval 1
    final = spark.read.parquet(sink)
    assert final.count() == n2  # replay wrote nothing new

    events = load_table(spark, sf_dir, "events")
    expect = events.filter(
        (F.unix_millis(F.col("ts").cast("timestamp")) >= lo)
        & (F.unix_millis(F.col("ts").cast("timestamp")) < hi)
    ).count()
    assert final.count() == expect  # gapless across the boundary
    assert final.select("kafka_offset").distinct().count() == expect


def test_avro_many_ids_single_scan_matches_branched(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A topic carrying MORE writer-schema ids than _AVRO_BRANCH_LIMIT
    switches to the single-scan per-row decode (one corpus scan, schema
    resolved from the frame id inside the Arrow batch) — and its output
    is row-identical to the per-id branched plan on the same source."""
    import dvh_airflow_kafka_spark.runner as runner_mod
    from dvh_airflow_kafka_spark.sources.avro_codec import (
        avro_encode_from_json_udf,
    )
    from dvh_airflow_kafka_spark.sources.kafka import confluent_frame
    from dvh_airflow_kafka_spark.sources.schema_registry import (
        SchemaRegistryClient,
    )

    n_ids = 10
    assert n_ids > runner_mod._AVRO_BRANCH_LIMIT
    schemas = {
        20 + i: (
            '{"type": "record", "name": "R%d", "fields": '
            '[{"name": "n%d", "type": "long"}]}' % (i, i)
        )
        for i in range(n_ids)
    }
    events = load_table(spark, sf_dir, "events").limit(200)
    value = None
    for i in range(n_ids):
        enc = avro_encode_from_json_udf(schemas[20 + i])(
            F.to_json(F.struct(F.col("user_id").alias(f"n{i}")))
        )
        framed = confluent_frame(F.lit(20 + i), enc)
        cond = F.col("event_id") % n_ids == i
        value = framed if value is None else F.when(cond, framed).otherwise(value)
    path = str(tmp_path / "many_ids_log")
    events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        value.alias("value"),
        F.lit("events").alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
    ).write.parquet(path)

    client = SchemaRegistryClient(
        "http://r",
        transport=lambda url, auth: {
            "schema": schemas[int(url.rsplit("/", 1)[1])]
        },
    )
    yaml_text = f"""
source:
  type: parquet
  topic: events
  schema: avro
  path: "{path}"
target:
  type: memory
  table: t_many_ids
transform:
  - src: kafka_offset
    dst: kafka_offset
  - src: kafka_schema_id
    dst: kafka_schema_id
  - src: kafka_message
    dst: kafka_message
  - src: kafka_hash
    dst: kafka_hash
"""

    def run() -> list[tuple]:
        result = run_pipeline(spark, yaml_text, schema_registry=client)
        return sorted(
            (r.kafka_offset, r.kafka_schema_id, r.kafka_message, r.kafka_hash)
            for r in result.dataframe.collect()
        )

    single_scan = run()  # n_ids > limit -> multi-schema single scan
    monkeypatch.setattr(runner_mod, "_AVRO_BRANCH_LIMIT", 1000)
    branched = run()  # same source through the per-id branch union
    assert single_scan == branched
    assert len(single_scan) == 200
    for off, sid, _msg, h in single_scan:
        assert sid == 20 + (off % n_ids)
        assert h is not None
    # check the decoded field name/value binding per id
    by_off = {t[0]: t for t in single_scan}
    expect = {r.event_id: r.user_id for r in events.collect()}
    for off, uid in expect.items():
        i = off % n_ids
        assert json.loads(by_off[off][2]) == {f"n{i}": uid}


# --------------------------------------------------------------------------
# One parse per payload: the allow-filter, the kode-6/7 key and the
# transform keypaths all read one from_json struct
# --------------------------------------------------------------------------


def _person_log(spark, path: str, n: int) -> str:
    """An events-shaped log of ``n`` rows whose payload is
    ``{"k": 1|2|3, "person": {"id": <user_id>}, "kind": "view"}``."""
    spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1717200000) + F.col("id")).alias("ts"),
        (F.col("id") % 50).alias("user_id"),
        F.lit("view").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.format_string(
            '{"k":%d,"person":{"id":%d},"kind":"view"}',
            F.col("id") % 3 + 1,
            F.col("id") % 50,
        ).alias("props"),
    ).write.parquet(path)
    return path


def _person_yaml(log: str, target: str, extra: str = "") -> str:
    return f"""
source:
  type: parquet
  topic: events
  schema: json
  path: "{log}"
  message-filters:
    - {{key: k, allowed_value: 1}}
    - {{key: k, allowed_value: 2}}
{extra}target:
{target}
  k6-filter:
    filter-table: skjerming
    filter-col: off_id
    col: person.id
    timestamp: kafka_timestamp
transform:
  - {{src: kafka_offset, dst: kafka_offset}}
  - {{src: kafka_message, dst: kafka_message}}
  - {{src: person.id, dst: person_id}}
  - {{src: kind, dst: kind}}
"""


def _k6_lookup(spark, ids):
    return spark.createDataFrame(
        [(str(i), "1900-01-01", "9999-12-31", 6) for i in ids],
        "off_id string, gyldig_fra_dato string, gyldig_til_dato string, skjermet_kode int",
    )


def test_inferred_schema_run_counts_every_row_read(spark, tmp_path):
    """The payload-schema sample runs before the counted plan is built,
    so an inferred-schema parquet-sink run over more than the sample's
    1000 rows reports every row read, not the sample's row count."""
    n = 2500
    log = _person_log(spark, str(tmp_path / "log"), n)
    sink = str(tmp_path / "sink")
    result = run_pipeline(
        spark,
        _person_yaml(
            log,
            f'  type: parquet\n  path: "{sink}"\n'
            "  skip-duplicates-with: [kafka_offset]",
        ),
        k6_lookup=_k6_lookup(spark, [3]),
    )
    s = result.summary
    assert s.event_count == s.data_count == s.non_empty_count == n
    assert s.written_to_db_count == n
    assert load_parquet(spark, sink).count() == n


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_assign_plan_parses_each_payload_once(spark, tmp_path, monkeypatch, strategy):
    """Plan guard: allow-filter + k6-filter on a payload keypath +
    payload keypath rules optimize to exactly one from_json, and
    get_json_object appears only as the NULL fallback of a struct leaf —
    in the assign plan and in each subscribe micro-batch's plan."""
    import re

    from dvh_airflow_kafka_spark.streaming import pipeline

    log = _person_log(spark, str(tmp_path / "log"), 200)
    if strategy == "assign":
        result = run_pipeline(
            spark,
            _person_yaml(log, "  type: memory\n  table: t_one_parse"),
            k6_lookup=_k6_lookup(spark, [3]),
        )
        plans = [result.dataframe._jdf.queryExecution().optimizedPlan().toString()]
        rows = result.dataframe.collect()
    else:
        plans = []
        dedup = pipeline.dedup_against_existing

        def record_plan(out, *args, **kwargs):  # the batch's planned rows
            plans.append(out._jdf.queryExecution().optimizedPlan().toString())
            return dedup(out, *args, **kwargs)

        monkeypatch.setattr(pipeline, "dedup_against_existing", record_plan)
        sink = str(tmp_path / "sink")
        rows = run_pipeline(
            spark,
            _person_yaml(
                log,
                f'  type: parquet\n  path: "{sink}"\n'
                "  skip-duplicates-with: [kafka_offset]",
                "  strategy: subscribe\n",
            ),
            k6_lookup=_k6_lookup(spark, [3]),
        ).dataframe.collect()
    assert plans
    for plan in plans:
        assert len(re.findall(r"\bfrom_json\(", plan)) == 1, plan
        fallbacks = re.findall(
            r"coalesce\((?:cast\()?[^\s,()]+(?: as string\))?, get_json_object\(",
            plan,
        )
        assert len(re.findall(r"get_json_object\(", plan)) == len(fallbacks), plan
    assert len(rows) == 200
    for r in rows:
        kept = r.kafka_offset % 3 != 2 and r.kafka_offset % 50 != 3
        assert (r.kafka_message is not None) == kept
        assert r.person_id == (r.kafka_offset % 50 if kept else None)
        assert r.kind == ("view" if kept else None)


def _run_payloads(spark, tmp_path, payloads, flagged, payload_schema=None):
    """Run the k6 + allow-filter person pipeline over ``payloads`` (event
    ids 0, 1, ...) into a parquet sink; the sink's rows by offset."""
    log = str(tmp_path / "log")
    spark.createDataFrame(
        [(i, i, p) for i, p in enumerate(payloads)],
        "event_id long, user_id long, props string",
    ).select(
        "event_id",
        F.timestamp_seconds(F.lit(1717200000) + F.col("event_id")).alias("ts"),
        "user_id",
        F.lit("view").alias("event_type"),
        F.lit(1.0).alias("value"),
        "props",
    ).write.parquet(log)
    sink = str(tmp_path / "sink")
    extra = f'  payload-schema: "{payload_schema}"\n' if payload_schema else ""
    run_pipeline(
        spark,
        _person_yaml(
            log,
            f'  type: parquet\n  path: "{sink}"\n'
            "  skip-duplicates-with: [kafka_offset]",
            extra,
        ),
        k6_lookup=_k6_lookup(spark, flagged),
    )
    return {r.kafka_offset: r for r in load_parquet(spark, sink).collect()}


@pytest.mark.parametrize("declared", [False, True])
def test_duplicate_key_person_is_scrubbed(spark, tmp_path, declared):
    """Privacy regression: with a duplicated person id the kode-6/7 probe
    and the transform read the same (last) value, so a flagged person is
    never written unscrubbed under the id the probe did not check."""
    payloads = [
        '{"k":1,"person":{"id":7,"id":9},"kind":"view"}',
        '{"k":1,"person":{"id":7},"kind":"view"}',
    ]
    rows = _run_payloads(
        spark,
        tmp_path,
        payloads,
        [9],
        "k INT, person STRUCT<id: BIGINT>, kind STRING" if declared else None,
    )
    assert rows[0].kafka_message is None and rows[0].person_id is None
    assert rows[1].kafka_message is not None and rows[1].person_id == 7


@pytest.mark.parametrize("partial", ["true", "false"])
def test_failing_sibling_field_keeps_scrub_and_filter(spark, tmp_path, partial):
    """A person field that fails to convert to its declared type must not
    hide the person id or the allow-filter key: without JSON partial
    results the parse NULLs the whole row, and the kode-6/7 key and the
    allow-filter key then read the payload text instead."""
    payloads = [
        '{"k":1,"person":{"id":9,"age":"x"},"kind":"view"}',  # flagged
        '{"k":1,"person":{"id":7,"age":"x"},"kind":"view"}',  # allowed
        '{"k":3,"person":{"id":7,"age":"x"},"kind":"view"}',  # filtered
    ]
    conf = "spark.sql.json.enablePartialResults"
    before = spark.conf.get(conf)
    spark.conf.set(conf, partial)
    try:
        rows = _run_payloads(
            spark,
            tmp_path,
            payloads,
            [9],
            "person STRUCT<id: STRING, age: INT>, kind STRING",
        )
    finally:
        spark.conf.set(conf, before)
    assert rows[0].kafka_message is None and rows[0].person_id is None
    assert rows[1].kafka_message == payloads[1]
    assert rows[2].kafka_message is None


def test_string_mode_allow_filter_probes_raw_value(spark, sf_dir):
    """schema: string stores JSON string literals, so a payload keypath
    never resolves there; a k6 keypath still builds the payload struct,
    and the allow-filter must keep probing the raw value text."""
    yaml_text = f"""
source:
  type: parquet
  topic: events
  schema: string
  path: "{os.path.join(sf_dir, 'events.parquet')}"
  message-filters:
    - {{key: k, allowed_value: 87}}
target:
  type: memory
  table: t_string_mode
  k6-filter:
    filter-table: skjerming
    filter-col: off_id
    col: k
    timestamp: kafka_timestamp
transform:
  - {{src: kafka_offset, dst: kafka_offset}}
  - {{src: kafka_message, dst: kafka_message}}
"""
    result = run_pipeline(spark, yaml_text, k6_lookup=_k6_lookup(spark, [87]))
    got = {r.kafka_offset: r.kafka_message for r in result.dataframe.collect()}
    events = load_table(spark, sf_dir, "events").collect()
    assert len(got) == len(events)
    kept = 0
    for ev in events:
        if json.loads(ev.props).get("k") == 87:
            kept += 1
            assert got[ev.event_id] == json.dumps(ev.props, ensure_ascii=False)
        else:
            assert got[ev.event_id] is None
    assert kept > 0


# --------------------------------------------------------------------------
# A sink that exists but cannot be read is never a "first load"
# --------------------------------------------------------------------------


@pytest.mark.parametrize("delta", [False, True])
def test_unreadable_sink_raises(spark, sf_dir, tmp_path, delta):
    """The dedup read (and the delta-watermark probe) must raise on a
    sink that is there but unreadable: taking it for a missing sink would
    re-append every row."""
    sink = str(tmp_path / "sink")
    yaml_text = _events_yaml(
        sf_dir,
        f"""  type: parquet
  path: "{sink}"
  skip-duplicates-with: [kafka_offset]"""
        + (
            "\n  delta:\n    delta-table: sink\n    delta-column: kafka_timestamp"
            if delta
            else ""
        ),
    )
    run_pipeline(spark, yaml_text)
    n = load_parquet(spark, sink).count()
    # sorts before Spark's part files, so the footer probe meets it first
    corrupt = os.path.join(sink, "part-0000-corrupt.parquet")
    with open(corrupt, "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        run_pipeline(spark, yaml_text)
    os.remove(corrupt)
    assert load_parquet(spark, sink).count() == n  # nothing admitted


def test_sink_without_data_is_first_load(spark, tmp_path):
    """A missing sink, or one holding only hidden entries (a failed first
    write's ``_temporary``), has no data yet."""
    from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs

    sink = str(tmp_path / "sink")
    fs = HadoopFs(spark, sink)
    assert not fs.has_data(sink)
    os.makedirs(os.path.join(sink, "_temporary"))
    assert not fs.has_data(sink)
    open(os.path.join(sink, "part-0.parquet"), "wb").close()
    assert fs.has_data(sink)
