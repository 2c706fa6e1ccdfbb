"""Per-schema-mode payload expressions, shared by the batch runner and
the streaming spine (so both paths honour ``schema: json|string|avro``
identically — one source of truth for the reference's deserializer
semantics, src/kafka_source.py:102-151).

Returns the trio the envelope needs: the canonical ``kafka_message``
expression, the per-mode hash bytes (Avro hashes the header-STRIPPED
payload, :150), and the ``kafka_schema_id`` column (Avro only, :149).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.config import PayloadSchema, SourceSpec
from dvh_airflow_kafka_spark.operators.payload import filter_json_payload
from dvh_airflow_kafka_spark.sources.envelope import json_quote


@dataclass
class PayloadExprs:
    canonical: Column  # the kafka_message expression
    hash_bytes: Optional[Column]  # None -> raw value bytes
    schema_id: Optional[Column]  # Avro only
    # what allow-filters probe: the deserialized-and-filtered payload
    # (reference src/kafka_source.py:207-218); the raw value string in
    # string mode, where kafka_message is a JSON string literal
    filter_payload: Column


def payload_exprs(
    src: SourceSpec,
    avro_schema_json: Optional[str] = None,
    avro_schemas_by_id: Optional[dict] = None,
) -> PayloadExprs:
    """Build the envelope expressions for ``src``'s schema mode. JSON
    re-serializes the drop/flag-filtered payload; string stores the
    JSON-quoted text; Avro strips the Confluent header and decodes the
    binary record to canonical JSON, then applies the same drop/flag
    ops.

    Avro resolves the writer schema one of two ways: a single
    ``avro_schema_json`` (declared schema, or one per-id branch of the
    runner's branched plan), or ``avro_schemas_by_id`` — the id→schema
    map for the SINGLE-SCAN multi-schema decode the runner switches to
    when a topic carries more distinct writer-schema ids than branching
    can afford (see ``runner._AVRO_BRANCH_LIMIT``)."""
    mode = PayloadSchema(src.schema_type)
    if mode == PayloadSchema.STRING:
        raw = F.col("value").cast("string")
        return PayloadExprs(
            canonical=json_quote(raw),
            hash_bytes=None,
            schema_id=None,
            filter_payload=raw,
        )
    hash_bytes = None
    schema_id = None
    if mode == PayloadSchema.AVRO:
        from dvh_airflow_kafka_spark.sources.kafka import (
            avro_payload_json,
            confluent_schema_id,
            strip_confluent_header,
        )

        if avro_schemas_by_id is not None:
            from dvh_airflow_kafka_spark.sources.avro_codec import (
                avro_decode_multi_to_json_udf,
            )

            raw = avro_decode_multi_to_json_udf(avro_schemas_by_id)(
                F.col("value")
            )
        elif avro_schema_json:
            raw = avro_payload_json(F.col("value"), avro_schema_json)
        else:
            raise ValueError(
                "schema: avro needs `avro-schema` in the source config or a "
                "schema_registry client passed to run_pipeline"
            )
        hash_bytes = strip_confluent_header(F.col("value"))
        schema_id = confluent_schema_id(F.col("value"))
    else:
        raw = F.col("value").cast("string")
    if src.message_fields_filter or src.flag_field_config:
        canonical = filter_json_payload(
            raw,
            drop_keypaths=src.message_fields_filter,
            flag_keypaths=src.flag_field_config,
            sep=src.keypath_separator or "/",
        )
    else:
        canonical = raw
    return PayloadExprs(
        canonical=canonical,
        hash_bytes=hash_bytes,
        schema_id=schema_id,
        filter_payload=canonical,
    )
