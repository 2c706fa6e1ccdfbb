"""[EXT] DataFrame-native Bloom filter for sink-key dedup probes.

The reference dedups an incoming batch with ``WHERE NOT EXISTS`` against
the sink's key column (src/oracle_target.py:97-104). At 100 TB the sink
side of that anti-join is the whole table; the streaming key index
(``streaming/keyindex.py``) bounds it with a keys-only sidecar,
and this module adds the constant-size cousin: a Bloom filter over the
sink keyset, materialised as a plain DataFrame of set bit positions.

Why a DataFrame of positions instead of a driver-side sketch object:

- building it is one ``groupBy``-free projection + DISTINCT over
  ``k·|sink|`` longs — fully distributed, map-side combined;
- it is at most ``num_bits`` rows (constant, independent of sink size),
  so it BROADCASTS — probing is a map-side join, no shuffle of either
  the batch or the sink;
- it round-trips through parquet like any other table, so the filter
  can be maintained incrementally next to the sink and reused across
  batches (append the new keys' positions + DISTINCT).

Probe semantics are the textbook guarantee: a key whose ``k`` positions
are not all present is DEFINITELY new (no false negatives, proven in
tests/test_bloom.py); only the bloom-positive remainder — true dups
plus the ~``(1-e^{-kn/m})^k`` false-positive sliver — pays the exact
anti-join against the sink.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Defaults sized for a probe-window keyset (~2^20 keys): m = 2^22 bits,
# k = 2 seeds -> ~8% fp at full load, lower in practice. m rows of one
# long each broadcast in ~32 MB worst case; real occupancy is far lower.
NUM_BITS = 1 << 22
SEEDS = (0x5EED1, 0x5EED2)


def bloom_positions(
    key: Column, num_bits: int = NUM_BITS, seeds: tuple[int, ...] = SEEDS
) -> list[Column]:
    """The k bit positions of a key: ``xxhash64(seed_i, key) mod m``.
    xxhash64 is a JVM codegen expression — no UDF, no driver round-trip;
    folding the seed in as a leading column gives k independent hashes."""
    return [
        F.pmod(F.xxhash64(F.lit(s), key.cast("string")), F.lit(num_bits))
        for s in seeds
    ]


def build_bloom(
    sink: DataFrame,
    key: Column,
    *,
    num_bits: int = NUM_BITS,
    seeds: tuple[int, ...] = SEEDS,
) -> DataFrame:
    """Materialise the Bloom filter of ``key`` over ``sink`` as a
    single-column DataFrame ``(pos BIGINT)`` of distinct set bits."""
    pos = F.explode(F.array(*bloom_positions(key, num_bits, seeds))).alias("pos")
    return sink.select(pos).distinct()


def bloom_partition(
    batch: DataFrame,
    key: Column,
    bits: DataFrame,
    *,
    num_bits: int = NUM_BITS,
    seeds: tuple[int, ...] = SEEDS,
) -> DataFrame:
    """Append ``bloom_maybe`` (true = all k bits set, key MAY be in the
    sink) to ``batch``. k broadcast left joins against the bits frame —
    the batch never shuffles; rows with ``bloom_maybe = false`` are
    guaranteed-new and can skip the exact anti-join entirely."""
    out = batch
    maybe = F.lit(True)
    for i, p in enumerate(bloom_positions(key, num_bits, seeds)):
        hit = f"__bloom_hit{i}"
        side = bits.select(
            F.col("pos").alias(f"__pos{i}"), F.lit(True).alias(hit)
        )
        out = out.withColumn(f"__pos{i}", p).join(
            F.broadcast(side), f"__pos{i}", "left"
        )
        maybe = maybe & F.coalesce(F.col(hit), F.lit(False))
    drop = [c for c in out.columns if c.startswith("__pos") or c.startswith("__bloom_hit")]
    return out.withColumn("bloom_maybe", maybe).drop(*drop)


def bloom_dedup_with_bits(
    batch: DataFrame,
    sink: DataFrame,
    bits: DataFrame,
    key_cols: list[str],
    *,
    num_bits: int = NUM_BITS,
    seeds: tuple[int, ...] = SEEDS,
) -> DataFrame:
    """The probe + residual-anti-join READOUT of ``bloom_dedup``, taking
    a prebuilt ``(pos)`` bits frame — shared by the batch query (which
    builds the bits with ``build_bloom``) and the streaming twin
    (``streaming_bloom_bits``, which maintains the same set-bit frame as
    streaming state), so twin equality holds by construction.  The union
    is EXACTLY ``batch ANTI JOIN sink`` for ANY superset of the sink's
    true bit positions — extra set bits only shrink the fast path, never
    change the answer; the exact-equality twin law is pinned in pytest
    on the bits frame itself."""
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols])
    flagged = bloom_partition(batch, key, bits, num_bits=num_bits, seeds=seeds)
    definite_new = flagged.filter(~F.col("bloom_maybe")).drop("bloom_maybe")
    verified_new = (
        flagged.filter(F.col("bloom_maybe"))
        .drop("bloom_maybe")
        .join(sink.select(*key_cols), key_cols, "left_anti")
    )
    return definite_new.unionByName(verified_new)


def bloom_dedup(
    batch: DataFrame,
    sink: DataFrame,
    key_cols: list[str],
    *,
    num_bits: int = NUM_BITS,
    seeds: tuple[int, ...] = SEEDS,
) -> DataFrame:
    """Exact new-rows-only dedup with a Bloom fast path: rows failing the
    filter pass straight through (definitely new, zero sink I/O); only
    bloom-positive rows are verified with the exact left-anti join. The
    union is EXACTLY ``batch ANTI JOIN sink`` — the filter prunes work,
    never changes the answer."""
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols])
    bits = build_bloom(sink, key, num_bits=num_bits, seeds=seeds)
    return bloom_dedup_with_bits(
        batch, sink, bits, key_cols, num_bits=num_bits, seeds=seeds
    )
