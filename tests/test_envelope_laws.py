"""Envelope laws 1/2/6/7 + J1 idempotence laws 4/5 (SURVEY.md §3.4)."""

from __future__ import annotations

import hashlib
import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dvh_airflow_kafka_spark.config import AllowRule
from dvh_airflow_kafka_spark.io import load_table
from dvh_airflow_kafka_spark.operators import dedup_against_existing, scrub_flagged_persons
from dvh_airflow_kafka_spark.sources import events_as_kafka_frame, with_envelope
from dvh_airflow_kafka_spark.sources.envelope import (
    PAYLOAD_COL,
    decode_key,
    payload_text,
    with_text_leaves,
)


@pytest.fixture(scope="module")
def envelope(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    return events, with_envelope(events_as_kafka_frame(events))


def test_envelope_fidelity(envelope):
    events, env = envelope
    # law 1: offset/partition/topic/key exactly as produced
    ev = {r.event_id: r for r in events.collect()}
    for r in env.collect():
        src = ev[r.kafka_offset]
        assert r.kafka_key == str(src.user_id)
        assert r.kafka_partition == src.user_id % 2
        assert r.kafka_topic == "events"


def test_hash_is_sha256_of_raw_bytes(envelope):
    events, env = envelope
    # law 2: kafka_hash = sha256(raw value bytes), independent of filtering
    props = {r.event_id: r.props for r in events.collect()}
    for r in env.limit(50).collect():
        expect = hashlib.sha256(props[r.kafka_offset].encode()).hexdigest()
        assert r.kafka_hash == expect


def test_filtered_rows_keep_envelope_with_null_payload(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    env = with_envelope(
        events_as_kafka_frame(events),
        message_filters=[AllowRule(key="k", allowed_value=87)],
    )
    total = events.count()
    assert env.count() == total  # law 6: never drops rows
    nulls = env.filter(F.col("kafka_message").isNull()).count()
    hits = env.filter(F.col("kafka_message").isNotNull()).count()
    assert nulls + hits == total and hits > 0 and nulls > 0
    # hash still present on filtered rows (computed pre-filter)
    assert env.filter(F.col("kafka_message").isNull() & F.col("kafka_hash").isNull()).count() == 0


def test_int64_key_decoding(spark):
    # big-endian 8-byte key, as the reference decodes (src/kafka_source.py:77-78)
    df = spark.createDataFrame([(struct.pack(">q", 12345),)], "key binary")
    got = df.select(decode_key(F.col("key"), "int-64").alias("x")).collect()[0].x
    assert got == "12345"
    # NULL key -> '' (reference src/kafka_source.py:80-82)
    nulldf = spark.createDataFrame([(None,)], "key binary")
    assert nulldf.select(decode_key(F.col("key")).alias("x")).collect()[0].x == ""
    # empty (0-byte) key -> '0' like int.from_bytes(b"", "big")
    emptydf = spark.createDataFrame([(b"",)], "key binary")
    assert emptydf.select(decode_key(F.col("key"), "int-64").alias("x")).collect()[0].x == "0"


def test_rerun_writes_nothing_new(spark, sf_dir):
    # laws 4/5: re-running the same interval against the sink inserts 0 rows
    events = load_table(spark, sf_dir, "events").select("event_id", "props")
    first = dedup_against_existing(events, None, ["event_id"])
    assert first.count() == events.count()
    rerun = dedup_against_existing(events, existing=events, keys=["event_id"])
    assert rerun.count() == 0
    # partial failure: half persisted, re-run completes exactly the rest
    half = events.filter(F.col("event_id") % 2 == 0)
    resume = dedup_against_existing(events, existing=half, keys=["event_id"])
    assert resume.count() == events.count() - half.count()


def test_dedup_order_does_not_change_rows(spark):
    """J1: anti-joining against the sink before collapsing within-batch
    duplicates admits the same rows as collapsing first — both decisions
    depend on the key alone. Duplicates here are whole-row redeliveries,
    some of them of keys already in the sink; one key is NULL."""
    rows = [(k, f"m{k}") for k in range(40)] * 3 + [(None, "m-null")] * 2
    batch = spark.createDataFrame(rows, "k int, m string")
    existing = spark.createDataFrame([(k,) for k in range(0, 40, 3)], "k int")
    anti_first = dedup_against_existing(batch, existing, ["k"])
    dedup_first = batch.dropDuplicates(["k"]).join(existing, on=["k"], how="left_anti")
    got = sorted(anti_first.collect(), key=str)
    assert got == sorted(dedup_first.collect(), key=str)
    assert len(got) == 40 - len(range(0, 40, 3)) + 1


# One parse per payload: the struct's text of a keypath equals
# get_json_object's, except for duplicate keys (last-wins, like json.loads).
_TEXT_CASES = {
    "int": '{"k":1}',
    "digit_string": '{"k":"1"}',
    "float": '{"k":1.0}',
    "exponent": '{"k":1e0}',
    "negative_zero": '{"k":-0}',
    "boolean": '{"k":true}',
    "array": '{"k":[1, {"b" : 2}]}',
    "object": '{"k":{"a": 1}}',
    "escaped_string": '{"k":"a\\"b\\u00e5"}',
    "json_null": '{"k":null}',
    "malformed": '{"k":1',
    "twenty_digit_int": '{"k":12345678901234567890}',
    "whitespace": '{ "k" :  1 , "z": 2 }',
    "top_level_array": '[{"k":1}]',
    "empty_string": "",
    "missing_key": '{"x":1}',
    "top_level_string": '"k"',
    "duplicate_key": '{"k":1,"k":2}',
    # the parse cannot convert the sibling "x" to BIGINT, so without
    # partial results it NULLs the whole enclosing struct
    "failing_sibling": '{"k":1,"x":"a"}',
}


@pytest.fixture(scope="module")
def payload_texts(spark):
    """Per case: get_json_object's text and the struct's text of ``k``
    and of ``p.k`` (the case nested under ``p``), each read from a
    STRING leaf alone, a STRING leaf beside a BIGINT sibling ``x``, and
    a BIGINT leaf — with JSON partial results on and off."""
    names = list(_TEXT_CASES)
    raws = [_TEXT_CASES[n] for n in names]
    nested = ['{"p":' + (raw or '""') + "}" for raw in raws]
    df = spark.createDataFrame(list(zip(raws, nested)), "raw string, nested string")
    reads = []
    conf = "spark.sql.json.enablePartialResults"
    before = spark.conf.get(conf)
    try:
        for partial in ("true", "false"):
            spark.conf.set(conf, partial)
            for col, parts, sibling, typed in (
                ("raw", ["k"], "x BIGINT", "k BIGINT"),
                ("nested", ["p", "k"], "p STRUCT<x: BIGINT>", "p STRUCT<k: BIGINT>"),
            ):
                path = "$." + ".".join(parts)
                for schema in (
                    with_text_leaves(T.StructType(), [parts]),
                    with_text_leaves(T.StructType.fromDDL(sibling), [parts]),
                    T.StructType.fromDDL(typed),
                ):
                    rows = (
                        df.withColumn(PAYLOAD_COL, F.from_json(col, schema))
                        .select(
                            F.get_json_object(col, path).alias("expect"),
                            payload_text(schema, parts, F.col(col)).alias("got"),
                        )
                        .collect()
                    )
                    reads.append(rows)
    finally:
        spark.conf.set(conf, before)
    return {n: [rows[i] for rows in reads] for i, n in enumerate(names)}


@pytest.mark.parametrize("case", list(_TEXT_CASES))
def test_struct_text_equals_get_json_object(payload_texts, case):
    for r in payload_texts[case]:
        if case == "duplicate_key":  # the parse keeps the last value, like json.loads
            assert r.got == "2" and r.expect == "1"
        else:
            assert r.got == r.expect, (_TEXT_CASES[case], r)


def test_k6_scrub_nulls_payload_only_for_flagged_interval(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").withColumn(
        "kafka_message", F.col("props")
    )
    lookup = spark.createDataFrame(
        [
            (1, "2024-01-01", "2024-12-31", 6),   # flagged all year
            (2, "2020-01-01", "2020-12-31", 7),   # expired interval
            (3, "2024-01-01", "2024-12-31", 4),   # wrong code
        ],
        "off_id long, gyldig_fra_dato string, gyldig_til_dato string, skjermet_kode int",
    )
    out = scrub_flagged_persons(
        events, lookup, person_id=F.col("user_id"), event_ts=F.col("ts")
    )
    assert out.count() == events.count()  # law 7: rows preserved
    by_user = out.groupBy("user_id").agg(
        F.sum(F.col("kafka_message").isNull().cast("int")).alias("n_null"),
        F.count(F.lit(1)).alias("n"),
    )
    rows = {r.user_id: r for r in by_user.collect()}
    assert rows[1].n_null == rows[1].n       # user 1 fully scrubbed
    assert rows[2].n_null == 0               # expired interval: untouched
    assert rows[3].n_null == 0               # code 4: untouched


def test_passthrough_collision_raises(spark, sf_dir):
    # ADVICE r11: passthrough names that collide with the emitted
    # envelope / Kafka column set must fail loudly, not produce
    # silently-ambiguous duplicate columns downstream
    events = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="collide with the standard Kafka"):
        events_as_kafka_frame(events, passthrough=["value", "user_id"])
    frame = events_as_kafka_frame(events, passthrough=["user_id"])
    with pytest.raises(ValueError, match="collide with envelope output"):
        with_envelope(frame, passthrough=["kafka_key", "user_id"])
    # disjoint passthrough still works and carries the column
    assert "user_id" in with_envelope(frame, passthrough=["user_id"]).columns
