"""Streaming state-boundedness probe, promoted into CI: a state-leak
regression in the drained stateful queries must fail loudly, not wait
for a manual ``tools/scaling_probe.py stream`` run.

Invariants (measured from the engine's own ``stateOperators.numRowsTotal``
via the drain runner's record, ``stateful.last_drain()``, never prose):

- ``streaming_countmin_sketch``: state is the fixed depth×256 counter
  grid + top-k heads — a function of the sketch SHAPE. It must be
  byte-for-byte FLAT when the corpus doubles, and equal to the pinned
  grid size.
- ``streaming_late_data_audit``: watermarked window aggregate — state
  is bounded by the open windows inside the watermark horizon, so
  doubling the corpus by REPLAYING the same time range (the worst case
  for a leak: every window sees 2× traffic) must leave max state rows
  exactly flat.

Budget: ~60s at sf0.001 staging on a quiet machine (to ~3min under
neighbor CPU steal; set SCALE_PROBE_STREAM=0 to skip).  The full
multi-factor curve at sf0.1 stays in the manual probe tool.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.catalog import REGISTRY
from dvh_airflow_kafka_spark.io import load_table
from dvh_airflow_kafka_spark.streaming import stateful

pytestmark = pytest.mark.skipif(
    os.environ.get("SCALE_PROBE_STREAM", "1") == "0",
    reason="stream scale probe disabled via SCALE_PROBE_STREAM=0",
)

# The pinned countmin state size: depth(4) × width(256) grid rows + the
# driver-side top-k heads tracked in the same store. Measured 117 at
# every corpus factor (SCALE.md); a different value means the sketch
# state started depending on data volume — a leak.
COUNTMIN_STATE_ROWS = 117

# The pinned Misra-Gries state-store size: one state row per shard (the
# shard's whole <=64-counter summary is ONE stored tuple), so 8 — at any
# corpus volume.  The probe asserting the k-bound INSIDE the tuple lives
# in tests/test_streaming_mg.py (emitted candidates per shard per batch).
MG_STATE_ROWS = 8


def _stage(spark, sf_dir, out_dir, factor: int) -> None:
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    ev_all, docs_all = ev, docs
    for i in range(1, factor):
        # same time range replayed with fresh ids: every window sees
        # factor× the rows — the worst case for state leaks
        ev_all = ev_all.unionByName(
            ev.withColumn("event_id", F.col("event_id") + F.lit(i * 10_000_000))
        )
        docs_all = docs_all.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
        )
    ev_all.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")
    docs_all.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def _drain_state(spark, name: str, sf_dir: str) -> int:
    REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    record = stateful.last_drain()
    assert record is not None, f"{name}: drain recorded no progress stats"
    return record.max_state_rows


def test_stream_state_flat_under_2x_replication(spark, sf_dir, tmp_path):
    states: dict[str, dict[int, int]] = {
        "countmin": {},
        "late": {},
        "ddsketch": {},
        "mg": {},
        "hll": {},
        "kmv": {},
        "bloom": {},
    }
    for factor in (1, 2):
        staged = str(tmp_path / f"x{factor}")
        _stage(spark, sf_dir, staged, factor)
        states["hll"][factor] = _drain_state(
            spark, "streaming_hll_registers", staged
        )
        states["countmin"][factor] = _drain_state(
            spark, "streaming_countmin_sketch", staged
        )
        states["late"][factor] = _drain_state(
            spark, "streaming_late_data_audit", staged
        )
        states["ddsketch"][factor] = _drain_state(
            spark, "streaming_ddsketch_quantiles", staged
        )
        states["mg"][factor] = _drain_state(
            spark, "streaming_frequent_tokens", staged
        )
        states["kmv"][factor] = _drain_state(
            spark, "streaming_kmv_minima", staged
        )
        # membership-family staging: duplicate ROWS with the SAME ids —
        # Bloom state is a function of the distinct key SET, so volume
        # replay must leave the occupied-bit count byte-flat (fresh-id
        # replication would legitimately grow it toward m)
        ev = load_table(spark, sf_dir, "events")
        ev_dup = ev
        for _ in range(1, factor):
            ev_dup = ev_dup.unionByName(ev)
        bstage = str(tmp_path / f"bloom_x{factor}")
        ev_dup.write.mode("overwrite").parquet(f"{bstage}/events.parquet")
        states["bloom"][factor] = _drain_state(
            spark, "streaming_bloom_bits", bstage
        )
    # FLAT: doubling the corpus must not move max state rows at all
    assert states["countmin"][1] == states["countmin"][2], states
    assert states["late"][1] == states["late"][2], states
    # the ddsketch state is the occupied (event_type, bucket) grid — a
    # function of the VALUE DISTRIBUTION, never of row volume
    assert states["ddsketch"][1] == states["ddsketch"][2], states
    # countmin state is a function of the sketch shape alone
    assert states["countmin"][1] == COUNTMIN_STATE_ROWS, states
    # Misra-Gries state-store rows = one row per shard (each row holds
    # the shard's <=k-counter summary), a function of the SHARDING alone
    # — flat and equal to the pinned shard count at any volume
    assert states["mg"][1] == states["mg"][2] == MG_STATE_ROWS, states
    # HLL state = occupied (event_type, bucket) registers — a function
    # of the distinct-user HASHES, never of row volume (the replication
    # replays the same user ids), and bounded by 5 types x 256 buckets
    assert states["hll"][1] == states["hll"][2], states
    assert 0 < states["hll"][1] <= 5 * 256, states
    # KMV state-store rows = one row per event type (the whole k-min
    # array is ONE stored tuple) — flat at any volume and bounded by the
    # event-type domain; the replication replays the same user ids, so
    # even the retained hash VALUES are identical across factors
    assert states["kmv"][1] == states["kmv"][2], states
    assert 0 < states["kmv"][1] <= 5, states
    # Bloom state-store rows = occupied set bits, a function of the
    # sink's distinct KEY SET (<= k per key), never of row volume
    assert states["bloom"][1] == states["bloom"][2], states
    assert 0 < states["bloom"][1], states
    # the window aggregate holds real (nonzero) but bounded state
    assert 0 < states["late"][1], states
    assert 0 < states["ddsketch"][1], states


def test_mixture_twin_state_is_source_domain_bounded(spark, sf_dir, tmp_path):
    """The streaming rebalance totals hold ONE state row per source —
    replicating the corpus (fresh ids; 1e6 ≡ 0 mod 4 keeps each
    replica's increment membership identical) must leave max state rows
    exactly flat at the source-domain size."""
    states: dict[int, int] = {}
    docs = load_table(spark, sf_dir, "documents")
    n_sources = docs.filter(F.col("source").isNotNull()).select(
        "source"
    ).distinct().count()
    for factor in (1, 2):
        staged = docs
        for i in range(1, factor):
            staged = staged.unionByName(
                docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
            )
        out = str(tmp_path / f"mix_x{factor}")
        staged.write.mode("overwrite").parquet(f"{out}/documents.parquet")
        states[factor] = _drain_state(
            spark, "streaming_mixture_rebalance", out
        )
    assert states[1] == states[2] == n_sources, (states, n_sources)


def test_neardup_gate_state_function_of_existing_corpus_only(
    spark, sf_dir, tmp_path
):
    """The streaming ingest gate's state is the EXISTING corpus's
    inverted shingle index — incoming probes must write NOTHING.
    Doubling the incoming side with fresh ids (1e6 ≡ 0 mod 5 keeps the
    replicas on the incoming side) must leave max state rows exactly
    flat; a moving value means probes leaked into the index.  The row
    metric counts occupied BUCKETS (the index is bucket-grouped with
    the entries interned inside each bucket tuple); the content-level
    probes-never-rewrite-state law is pinned per-updater in
    tests/test_stateful_streaming.py."""
    states: dict[int, int] = {}
    docs = load_table(spark, sf_dir, "documents")
    for factor in (1, 2):
        staged_docs = docs
        for i in range(1, factor):
            staged_docs = staged_docs.unionByName(
                docs.filter(F.col("doc_id") % 5 == 0).withColumn(
                    "doc_id", F.col("doc_id") + F.lit(i * 1_000_000)
                )
            )
        out = str(tmp_path / f"gate_x{factor}")
        staged_docs.write.mode("overwrite").parquet(
            f"{out}/documents.parquet"
        )
        states[factor] = _drain_state(spark, "streaming_neardup_gate", out)
    assert states[1] == states[2], states
    assert states[1] > 0, states


def test_priority_sample_twin_state_is_source_domain_bounded(
    spark, sf_dir, tmp_path
):
    """The streaming priority sample holds ONE state row per source
    (the whole top-k sample is one stored tuple) — replicating the
    corpus with fresh doc ids must leave max state rows exactly flat at
    the source-domain size; only the retained VALUES may change (better
    priorities can arrive), never the row count."""
    states: dict[int, int] = {}
    docs = load_table(spark, sf_dir, "documents")
    n_sources = docs.select("source").distinct().count()
    for factor in (1, 2):
        staged = docs
        for i in range(1, factor):
            staged = staged.unionByName(
                docs.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(i * 1_000_000)
                )
            )
        out = str(tmp_path / f"prio_x{factor}")
        staged.write.mode("overwrite").parquet(f"{out}/documents.parquet")
        states[factor] = _drain_state(
            spark, "streaming_priority_sample", out
        )
    assert states[1] == states[2] == n_sources, (states, n_sources)
