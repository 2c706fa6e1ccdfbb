"""Kafka envelope construction (S3/S5/S6 + F9/F10).

A Kafka DataFrame — from the real ``format("kafka")`` source or any
simulated log — carries the standard columns ``key value topic partition
offset timestamp``. This module turns it into the reference's envelope
(reference src/kafka_source.py:197-218):

    kafka_key, kafka_timestamp (epoch ms), kafka_offset, kafka_partition,
    kafka_topic, kafka_hash (sha256 of raw value), kafka_message
    (canonical JSON of the filtered payload).

All of it is narrow projections: no UDFs, no shuffle — at 100 TB this
fuses with the scan into one codegen stage, and the sha256 runs
vectorized in the JVM.

One parse per payload: given a ``payload_schema``, ``with_envelope``
parses the canonical message ONCE into the ``PAYLOAD_COL`` struct, in a
projection of its own, and the allow-filter reads its keys from that
struct. The runner reads the kode-6/7 person key and the transform
keypaths from the same struct, so every reader of a row sees the same
parse (the reference's single ``json.loads``, src/kafka_source.py:110).
:func:`payload_text` gives a keypath's text exactly as
``get_json_object`` would; duplicate keys are the one difference — the
parse is last-wins, like ``json.loads``.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dvh_airflow_kafka_spark.config import AllowRule, KeyCodec

# The standard Kafka column set every source hands the envelope.
KAFKA_COLUMNS = frozenset({"key", "value", "topic", "partition", "offset", "timestamp"})
ENVELOPE_COLUMNS = frozenset(
    {
        "kafka_key",
        "kafka_timestamp",
        "kafka_offset",
        "kafka_partition",
        "kafka_topic",
        "kafka_hash",
        "kafka_message",
    }
)
# The parsed payload struct; NULL wherever ``kafka_message`` is NULL.
PAYLOAD_COL = "__payload"

# Leaf types whose string cast renders a JSON value exactly as
# get_json_object does (a STRING leaf holds the JSON text of any value).
# Fractional and datetime casts do not ("1" read as DOUBLE casts to
# "1.0"), so those leaves read the text directly.
_EXACT_CAST_TYPES = (
    T.StringType,
    T.BooleanType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
)


def decode_key(key: Column, codec: KeyCodec | str = KeyCodec.UTF_8) -> Column:
    """Key deserializer (S6, reference src/kafka_source.py:74-82):
    bytes -> utf-8 string, or big-endian **unsigned** int-64 rendered as a
    decimal string — the reference does ``int.from_bytes(x,
    byteorder="big")`` with no sign (src/kafka_source.py:78), so an
    MSB-set 8-byte key like 0x80…00 decodes to 9223372036854775808, not a
    negative long. NULL -> ''.

    Unsigned reinterpretation without a UDF: ``conv(hex(key), 16, 10)``
    parses the hex rendering as an unsigned 64-bit value and formats the
    full 0..2^64-1 range as decimal — pure codegen, no Python. Empty
    (0-byte) keys decode to '0' exactly as ``int.from_bytes(b"", "big")``
    does."""
    codec = KeyCodec(codec)
    if codec == KeyCodec.INT_64:
        hexs = F.hex(key.cast("binary"))
        decoded = F.when(hexs == "", F.lit("0")).otherwise(F.conv(hexs, 16, 10))
    else:
        decoded = key.cast("string")
    return F.coalesce(decoded, F.lit(""))


def json_quote(text: Column) -> Column:
    """S5 string schema: the reference stores ``kafka_message =
    json.dumps(text)`` — a JSON-quoted, escape-correct string (reference
    src/kafka_source.py:121-127). JVM-side: serialize a 1-element array and
    strip the brackets, so escaping is ``to_json``'s, not a regex."""
    arr = F.to_json(F.array(text))
    quoted = F.substring(arr, 2, F.length(arr) - F.lit(2))
    return F.when(text.isNull(), F.lit(None)).otherwise(quoted)


def with_text_leaves(
    schema: T.StructType, paths: Sequence[Sequence[str]]
) -> T.StructType:
    """``schema`` plus a STRING leaf for every keypath in ``paths`` it
    lacks, nested through struct fields. A path that runs into a
    non-struct field is left as it is; :func:`payload_text` reads that
    one from the text."""
    for parts in paths:
        schema = _with_text_leaf(schema, list(parts))
    return schema


def _with_text_leaf(schema: T.StructType, parts: list[str]) -> T.StructType:
    head, rest = parts[0], parts[1:]
    names = schema.fieldNames()
    if head not in names:
        leaf = _with_text_leaf(T.StructType(), rest) if rest else T.StringType()
        return T.StructType(schema.fields + [T.StructField(head, leaf, True)])
    field = schema[head]
    if not rest or not isinstance(field.dataType, T.StructType):
        return schema
    nested = T.StructField(head, _with_text_leaf(field.dataType, rest), True)
    return T.StructType([nested if f.name == head else f for f in schema.fields])


def payload_text(
    schema: T.StructType, parts: Sequence[str], raw: Column
) -> Column:
    """The JSON text at keypath ``parts``, as ``get_json_object(raw,
    "$.a.b")`` returns it, read from the ``PAYLOAD_COL`` struct parsed
    with ``schema`` from ``raw``:

    - a STRING leaf holds the text: the parse renders a non-string value
      as its JSON text, exactly like ``get_json_object``;
    - an integral or boolean leaf is cast to string;
    - either one falls back to ``get_json_object`` on rows where it is
      NULL: a typed leaf holding a value of another JSON type or an
      out-of-range number, or any leaf whose enclosing struct the parse
      NULLed because a sibling field failed to convert (PERMISSIVE mode
      without ``spark.sql.json.enablePartialResults``);
    - any other leaf, or a path through a non-struct field, reads
      ``get_json_object(raw, ...)``: the struct does not hold its text.
    """
    path = "$." + ".".join(parts)
    col, dtype = F.col(PAYLOAD_COL), schema
    for part in parts:
        if not isinstance(dtype, T.StructType) or part not in dtype.fieldNames():
            return F.get_json_object(raw, path)
        col, dtype = col[part], dtype[part].dataType
    if isinstance(dtype, _EXACT_CAST_TYPES):
        return F.coalesce(col.cast("string"), F.get_json_object(raw, path))
    return F.get_json_object(raw, path)


def allow_filter_condition(
    payload: Column,
    rules: Sequence[AllowRule],
    text: Optional[Callable[[str], Column]] = None,
) -> Column:
    """P3 message allow-filter (reference src/kafka_source.py:207-218):
    OR over ``{key, allowed_value}`` equality tests on *top-level* payload
    fields. ``text(key)`` reads a key's JSON text; by default
    ``get_json_object`` over the ``payload`` string. Returns the
    keep-condition; the caller NULLs ``kafka_message`` when it is false —
    rows are never dropped."""
    read = text or (lambda key: F.get_json_object(payload, f"$.{key}"))
    conds = []
    for rule in rules:
        field = read(rule.key)
        conds.append(field.isNotNull() & (field == F.lit(str(rule.allowed_value))))
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def with_envelope(
    kafka_df: DataFrame,
    key_codec: KeyCodec | str = KeyCodec.UTF_8,
    message_filters: Optional[Sequence[AllowRule]] = None,
    canonical_message: Optional[Column] = None,
    schema_id: Optional[Column] = None,
    hash_bytes: Optional[Column] = None,
    filter_payload: Optional[Column] = None,
    passthrough: Sequence[str] = (),
    payload_schema: Optional[T.StructType] = None,
) -> DataFrame:
    """S3/S5 + F9/F10: standard Kafka columns -> reference envelope.

    - ``kafka_hash`` is sha256 of the raw value bytes — computed before
      any payload filtering (law 2, reference src/kafka_source.py:114;
      test_integration.py:167). Avro mode hashes the header-STRIPPED
      payload (``msg[5:]``, reference :150) — pass ``hash_bytes``.
    - ``kafka_message`` defaults to the raw value decoded as string; pass
      ``canonical_message`` (e.g. a filtered-payload ``to_json``) to
      override — it is stored *post-filter* while the hash stays
      pre-filter.
    - ``message_filters`` NULLs the message (never drops the row). The
      filter evaluates against ``filter_payload`` when given (the
      reference probes the deserialized-and-FILTERED dict,
      src/kafka_source.py:207-218 — pass the decoded JSON for Avro, the
      filtered payload when drop/flag ops ran); defaults to the raw
      value string.
    - ``payload_schema`` appends ``PAYLOAD_COL``: the canonical message
      parsed once with that schema, in its own projection, so the
      optimizer cannot inline the parse into each reader. Without a
      ``filter_payload`` the allow-filter then reads its keys from this
      struct (the schema needs them: :func:`with_text_leaves`), and the
      struct is NULLed wherever the message is.
    - ``schema_id`` (Avro mode) appends ``kafka_schema_id`` — the
      reference adds it to every Avro row (src/kafka_source.py:149);
      pass ``kafka.confluent_schema_id(F.col("value"))``.
    - ``passthrough`` carries extra input columns (by name) beside the
      envelope — downstream stages (k6 scrub on the person id, monitor
      projections) need them without a re-join; still one narrow
      projection.
    """
    emitted = set(ENVELOPE_COLUMNS) | (
        {"kafka_schema_id"} if schema_id is not None else set()
    )
    if payload_schema is not None:
        emitted.add(PAYLOAD_COL)
    clash = sorted(emitted & set(passthrough))
    if clash:
        raise ValueError(
            f"passthrough columns {clash} collide with envelope output "
            "columns — the duplicate names would be silently ambiguous "
            "downstream; rename them on the input frame first"
        )
    message = (
        canonical_message if canonical_message is not None else F.col("value").cast("string")
    )
    filter_struct = (
        bool(message_filters) and payload_schema is not None and filter_payload is None
    )
    if message_filters and not filter_struct:
        probe = (
            filter_payload
            if filter_payload is not None
            else F.col("value").cast("string")
        )
        keep = allow_filter_condition(probe, message_filters)
        message = F.when(keep, message).otherwise(F.lit(None))
    cols = [
        decode_key(F.col("key"), key_codec).alias("kafka_key"),
        F.unix_millis(F.col("timestamp").cast("timestamp")).alias("kafka_timestamp"),
        F.col("offset").alias("kafka_offset"),
        F.col("partition").alias("kafka_partition"),
        F.col("topic").alias("kafka_topic"),
        F.sha2(
            (hash_bytes if hash_bytes is not None else F.col("value")).cast("binary"),
            256,
        ).alias("kafka_hash"),
        message.alias("kafka_message"),
    ]
    if schema_id is not None:
        cols.append(schema_id.cast("long").alias("kafka_schema_id"))
    cols.extend(F.col(c) for c in passthrough)
    env = kafka_df.select(*cols)
    if payload_schema is None:
        return env
    env = env.withColumn(
        PAYLOAD_COL, F.from_json(F.col("kafka_message"), payload_schema)
    )
    if not filter_struct:
        return env
    keep = allow_filter_condition(
        F.col("kafka_message"),
        message_filters,
        text=lambda key: payload_text(payload_schema, [key], F.col("kafka_message")),
    )
    return env.withColumns(
        {
            c: F.when(keep, F.col(c)).otherwise(F.lit(None))
            for c in ("kafka_message", PAYLOAD_COL)
        }
    )


def events_as_kafka_frame(
    events: DataFrame,
    topic: str | Column = "events",
    n_partitions: int = 2,
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """Map the driver's ``events`` table onto the standard Kafka column
    set (FIXTURES.md F-1 mapping): ``event_id -> offset``, ``ts ->
    timestamp``, ``user_id -> key``, ``props -> value``. Partition id is
    derived deterministically as ``user_id % n_partitions`` (the reference
    tests produce with ``partition=i % 2``, test_integration.py:110-117).
    ``topic`` may be a Column for multi-topic fan-in (one subscribe over
    several topics, S2) — the reference runs one Mapping per topic
    (src/mapping.py:10-47); a column-valued topic lets ONE conformed
    pipeline carry them all, keyed apart by the composite
    (topic, partition, offset) identity.
    ``passthrough`` keeps extra source columns beside the Kafka set (for
    ``with_envelope(..., passthrough=...)`` to carry further).
    """
    clash = sorted(KAFKA_COLUMNS & set(passthrough))
    if clash:
        raise ValueError(
            f"passthrough columns {clash} collide with the standard "
            "Kafka column set — the duplicate names would be silently "
            "ambiguous downstream (ingest_transform renames the events "
            "measure value -> event_value for exactly this reason); "
            "rename them on the input frame first"
        )
    return events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.col("props").cast("binary").alias("value"),
        (F.lit(topic) if isinstance(topic, str) else topic).alias("topic"),
        F.pmod(F.col("user_id"), F.lit(n_partitions)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        *[F.col(c) for c in passthrough],
    )


def as_kafka_frame(df: DataFrame, topic: str = "events") -> DataFrame:
    """``df`` as it is when it already carries :data:`KAFKA_COLUMNS`,
    else an ``events``-table frame mapped onto them
    (:func:`events_as_kafka_frame`)."""
    if KAFKA_COLUMNS.issubset(df.columns):
        return df
    return events_as_kafka_frame(df, topic=topic)
