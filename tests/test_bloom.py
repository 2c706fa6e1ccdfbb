"""Bloom-probed dedup: the textbook guarantees — zero false negatives,
real pruning, and exact equivalence with the plain anti-join — and the
streaming set-bit twin of the batch Bloom filter."""

from __future__ import annotations

from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.ext.bloom import (
    bloom_dedup,
    bloom_partition,
    build_bloom,
)
from dvh_airflow_kafka_spark.io import load_table
from tests.compare import twin_rows


def _key(cols):
    return F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])


def test_no_false_negatives(spark, sf_dir):
    # Every key that IS in the sink must be bloom-positive.
    events = load_table(spark, sf_dir, "events").select("event_id")
    sink = events.filter(F.col("event_id") % 2 == 0)
    bits = build_bloom(sink, _key(["event_id"]))
    flagged = bloom_partition(sink, _key(["event_id"]), bits)
    assert flagged.filter(~F.col("bloom_maybe")).count() == 0


def test_bloom_prunes_most_new_keys(spark, sf_dir):
    # Keys NOT in the sink should mostly fail the filter (fp rate small
    # at this occupancy), so the exact anti-join sees a sliver.
    events = load_table(spark, sf_dir, "events").select("event_id")
    sink = events.filter(F.col("event_id") % 2 == 0)
    fresh = events.filter(F.col("event_id") % 2 == 1)
    bits = build_bloom(sink, _key(["event_id"]))
    flagged = bloom_partition(fresh, _key(["event_id"]), bits)
    n = fresh.count()
    fp = flagged.filter(F.col("bloom_maybe")).count()
    assert fp / n < 0.05  # m=2^22 bits vs ~500 keys: fp ~ 0


def test_bloom_dedup_equals_exact_antijoin(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    batch = events.filter(F.col("event_id") < 400)
    sink = events.filter(F.col("event_id") % 3 == 0).select("event_id")
    got = {
        r["event_id"]
        for r in bloom_dedup(batch, sink, ["event_id"]).collect()
    }
    want = {
        r["event_id"]
        for r in batch.join(sink, "event_id", "left_anti").collect()
    }
    assert got == want
    assert got  # non-trivial fixture


def test_bloom_dedup_idempotent(spark, sf_dir):
    # Re-inserting the surviving rows against a sink that now contains
    # them yields nothing — law 4/5 of the reference dedup.
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    batch = events.filter(F.col("event_id") < 200)
    sink = events.filter(F.col("event_id") % 2 == 0).select("event_id")
    first = bloom_dedup(batch, sink, ["event_id"])
    sink2 = sink.unionByName(first.select("event_id"))
    assert bloom_dedup(first, sink2, ["event_id"]).count() == 0


def test_streaming_bloom_matches_batch_twin_and_bits_law(spark, sf_dir):
    # result-level twin law: the streaming-bits readout reproduces the
    # batch Bloom dedup exactly
    batch, stream = twin_rows(
        spark, sf_dir, "bloom_dedup_insert", "streaming_bloom_bits"
    )
    assert batch == stream
    assert len(batch) > 0
    # bits-level twin law: the DRAINED streaming state snapshot equals
    # the batch build_bloom frame EXACTLY (not just any superset — extra
    # set bits would be invisible to the result-level check above, since
    # they only shrink the fast path)
    from dvh_airflow_kafka_spark.catalog.q05_chunking import _bloom_bits_snapshot

    sink = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 2 == 0)
        .select("event_id")
    )
    key = F.concat_ws("\x1f", F.col("event_id").cast("string"))
    batch_bits = {r["pos"] for r in build_bloom(sink, key).collect()}
    stream_bits = {
        r["pos"] for r in _bloom_bits_snapshot(spark, sf_dir).collect()
    }
    assert stream_bits == batch_bits
    assert len(batch_bits) > 0
