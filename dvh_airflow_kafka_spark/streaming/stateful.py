"""Stateful Structured-Streaming operators: watermarked windowed
aggregation and a custom session operator on ``applyInPandasWithState``.

The reference's consumer loop has no windowed state (it is a straight
poll→write pump), but a 100 TB event pipeline needs both canonical
stateful shapes:

- **tumbling-window counts** — pure built-ins (``withWatermark`` +
  ``window()`` groupBy): Spark keeps per-window partial aggregates in the
  state store, emits a window exactly once when the watermark passes its
  end (append mode), and drops the state. Scale cost is one shuffle on
  (window, group) with map-side partial aggregation — the same plan shape
  as the batch rollup.

- **gap sessionization** — no built-in produces per-session custom
  payloads incrementally, so this is the documented escape hatch:
  ``applyInPandasWithState`` (Arrow-batched, grouped by user) holding one
  open session per user in the state store. Sessions close either when a
  later event arrives past the gap, or when the event-time timeout fires
  (watermark passed last_event + gap). Emission is append-only — each
  closed session exactly once — which keeps the sink contract identical
  to the batch ``events_sessionization`` query.

State per user is O(1) (start, last, count, sum), so state-store size is
bounded by |active users|, not event volume — the property that keeps
this runnable against an unbounded stream.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from dataclasses import dataclass
from typing import Callable, Iterator, Sequence, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

# Open-session state: microsecond epochs (longs round-trip the state store
# without timezone ambiguity).
SESSION_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

_US = 1_000_000


def windowed_event_counts(
    stream: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    exact_sum: bool = False,
) -> DataFrame:
    """Tumbling event-time window counts per event_type (append-ready).

    Late rows beyond ``watermark`` are dropped by the state store; each
    window emits exactly once, when the watermark passes its end.

    ``exact_sum`` accumulates in DECIMAL(18,6) instead of double —
    summation-order-independent, so the result is bit-identical to any
    other engine's sum over the same values (the cross-engine-oracle
    mode; double mode keeps the cheaper native accumulator).
    """
    value = (
        F.col("value").cast("decimal(18,6)") if exact_sum else F.col("value")
    )
    agg = F.sum(value)
    if exact_sum:
        agg = agg.cast("double")
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            agg.alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _session_frame(user_id: int, start_us: int, last_us: int, n: int, sv: float):
    return _sessions_frame(user_id, [(start_us, last_us, n, sv)])


def _sessions_frame(user_id: int, sessions: list):
    """One output frame for a LIST of closed sessions: the per-session
    1-row-DataFrame construction was the dominant per-group cost of the
    sessionizer (~0.5 ms each × one per session), so closed sessions are
    buffered and emitted as a single frame per invocation — identical
    rows, one constructor (optimization guide §4.2: batch the Python
    work, don't loop it)."""
    starts, lasts, ns, svs = zip(*sessions)
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(sessions),
            "session_start": pd.to_datetime(list(starts), unit="us"),
            "session_end": pd.to_datetime(list(lasts), unit="us"),
            "n_events": list(ns),
            "sum_value": list(svs),
        }
    )


def _make_sessionizer(gap_us: int):
    """Build the applyInPandasWithState function for a given gap."""

    def sessionize(
        key: Tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            # Watermark passed last_event + gap with no new data: the open
            # session is final — emit and drop the state.
            start_us, last_us, n, sv = state.get
            state.remove()
            yield _session_frame(user_id, start_us, last_us, n, sv)
            return

        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values("ts", kind="mergesort")
        # Arrow hands timestamps as datetime64[ns] or [us] depending on the
        # pandas/pyarrow pairing — normalise to ns before slicing to µs.
        ts_us = (
            rows["ts"].astype("datetime64[ns]").astype("int64") // 1000
        ).to_numpy()
        vals = rows["value"].fillna(0.0).to_numpy()

        # Seed with the open session from the state store, if any.
        if state.exists:
            start_us, last_us, n, sv = state.get
        else:
            start_us, last_us, n, sv = int(ts_us[0]), int(ts_us[0]) - 1, 0, 0.0

        closed: list = []
        for t, v in zip(ts_us, vals):
            t = int(t)
            if n > 0 and t - last_us > gap_us:
                closed.append((start_us, last_us, n, sv))
                start_us, n, sv = t, 0, 0.0
            elif n == 0:
                start_us = t
            last_us, n, sv = max(last_us, t), n + 1, sv + float(v)
        if closed:
            yield _sessions_frame(user_id, closed)

        state.update((start_us, last_us, n, sv))
        # Event-time timeout: fire when the watermark passes last + gap.
        state.setTimeoutTimestamp((last_us + gap_us) // 1000)

    return sessionize


def sessionize_with_state(
    stream: DataFrame, *, gap: str = "30 minutes", watermark: str = "0 seconds"
) -> DataFrame:
    """Gap-based sessionization as a custom stateful operator.

    ``applyInPandasWithState`` (Arrow-batched, EventTimeTimeout) keeps one
    open session per user; closed sessions append exactly once. Semantics
    match the batch ``events_sessionization`` lag/cumsum query — the
    batch query is the oracle for the streaming operator in tests.
    """
    gap_us = int(_parse_minutes(gap) * 60 * _US)
    return (
        stream.withWatermark("ts", watermark)
        .select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sessionizer(gap_us),
            outputStructType=SESSION_OUTPUT,
            stateStructType=SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _parse_minutes(spec: str) -> float:
    n, unit = spec.split()
    n = float(n)
    return {"second": n / 60, "minute": n, "hour": n * 60}[unit.rstrip("s")]


@dataclass(frozen=True)
class DrainRecord:
    """What one drain did, read from the engine's own per-trigger
    progress events (``q.recentProgress``): the run id and the
    state-store rows after each micro-batch (summed over the query's
    stateful operators; 0 for a stateless query).  ``table`` is the
    memory sink's result as a batch frame, None for the other sinks."""

    run_id: str
    state_rows_per_batch: tuple[int, ...]
    table: DataFrame | None = None

    @property
    def n_batches(self) -> int:
        return len(self.state_rows_per_batch)

    @property
    def max_state_rows(self) -> int:
        return max(self.state_rows_per_batch, default=0)


_last_record: DrainRecord | None = None


def last_drain() -> DrainRecord | None:
    """The most recent drain's record, for readers that reach a drain
    only through a catalog query (the scaling probe's stream mode, the
    state-boundedness tests); None if that drain's progress read
    failed."""
    return _last_record


# q.recentProgress is a ring buffer capped by
# spark.sql.streaming.numRecentProgressUpdates (default 100); a drain
# with more micro-batches than that would silently under-report
# n_batches/max_state_rows in its record.  The runner raises the cap
# before start(); keep it comfortably above the volume-scaled batch
# count (ceil(n/50k)) at any input the scaling probe stages.
_PROGRESS_BUFFER = 10_000
_PROGRESS_CAP_KEY = "spark.sql.streaming.numRecentProgressUpdates"
_SHUFFLE_KEY = "spark.sql.shuffle.partitions"


def run_drain(
    stream: DataFrame,
    *,
    sink: str | Callable[[DataFrame, int], None] | None = None,
    mode: str = "append",
    checkpoint: str | None = None,
    shuffle_partitions: int | None = None,
    partition_by: Sequence[str] = (),
) -> DrainRecord:
    """Drain ``stream`` until its source is exhausted
    (``availableNow``) and return the drain's record — the package's
    one bounded-drain runner, the Spark form of the reference's
    poll/write/commit loop that stops at the first empty poll.

    ``sink`` picks the writer: a callable is a ``foreachBatch`` body
    (Spark commits each epoch only after it returns); a path is the
    exactly-once parquet file sink (``_spark_metadata`` commit log),
    partitioned by ``partition_by``; None is a memory sink under a
    fresh query name, returned as the record's ``table``.  ``mode`` is
    the output mode (``append``, ``update`` or ``complete``).

    ``checkpoint`` None drains under a temporary checkpoint that is
    removed even when the drain raises; a given checkpoint is kept, so
    a restart with it resumes from the committed offsets and state.

    ``shuffle_partitions`` right-sizes the query's partition count:
    stateful operators pin ``spark.sql.shuffle.partitions`` at FIRST
    start (it becomes part of the checkpoint), and every micro-batch
    then pays a fixed per-partition cost (task launch + state-store
    open/commit) regardless of data volume.  A production stream sizes
    it to its steady-state load; the staged catalog drains carry a few
    hundred rows per batch, where 32 state partitions are pure
    overhead.  None keeps the session value.  Both it and the progress
    cap are restored only after termination: the stream thread clones
    the session state lazily, so flipping them back right after
    ``start()`` could race it into the restored value.

    A failed progress read never fails the drain: its record has no
    batches, and ``last_drain()`` returns None."""
    global _last_record
    spark = stream.sparkSession
    writer = stream.writeStream.outputMode(mode)
    name = None
    if callable(sink):
        writer = writer.foreachBatch(sink)
    elif sink is not None:
        writer = writer.format("parquet").option("path", sink)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
    else:
        name = f"drain_{uuid.uuid4().hex}"
        writer = writer.format("memory").queryName(name)
    ckpt = checkpoint or tempfile.mkdtemp(prefix="drain_ckpt_")
    old_parts = spark.conf.get(_SHUFFLE_KEY)
    old_cap = spark.conf.get(_PROGRESS_CAP_KEY, None)
    if shuffle_partitions is not None:
        spark.conf.set(_SHUFFLE_KEY, str(shuffle_partitions))
    spark.conf.set(_PROGRESS_CAP_KEY, str(_PROGRESS_BUFFER))
    try:
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(_SHUFFLE_KEY, old_parts)
        if old_cap is None:
            spark.conf.unset(_PROGRESS_CAP_KEY)
        else:
            spark.conf.set(_PROGRESS_CAP_KEY, old_cap)
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)
    table = spark.table(name) if name else None
    try:
        rows = tuple(
            sum(
                int(op.get("numRowsTotal", 0))
                for op in p.get("stateOperators") or []
            )
            for p in q.recentProgress
        )
    except Exception:  # metrics must never fail a drain
        _last_record = None
        return DrainRecord(str(q.runId), (), table)
    _last_record = DrainRecord(str(q.runId), rows, table)
    return _last_record


def read_event_stream(
    spark: SparkSession, source_dir: str, *, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-stream simulation of the event log (schema from a batch read,
    one file per micro-batch by default)."""
    from dvh_airflow_kafka_spark.io import stream_source_schema

    schema = stream_source_schema(spark, source_dir)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )


def dedup_stream(
    stream: DataFrame,
    keys,
    *,
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming deduplication in the state store — the streaming-native
    form of the reference's insert-time anti-join (J1): the first row per
    key passes, replays and late duplicates are dropped by keyed state,
    and ``dropDuplicatesWithinWatermark`` bounds that state by evicting
    keys once the watermark passes them (plain ``dropDuplicates`` on a
    stream retains keys forever — unusable on an unbounded log).

    Dedup therefore only spans duplicates arriving within the watermark
    horizon of each other — exactly the at-least-once replay window the
    micro-batch spine produces; cross-horizon idempotence stays with the
    sink anti-join."""
    if isinstance(keys, str):
        keys = [keys]
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


# --------------------------------------------------------------------------
# Rolling z-score anomaly detection (custom stateful operator #2)
# --------------------------------------------------------------------------

ANOMALY_OUTPUT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n_prior", T.LongType()),
    ]
)

# Per-user state: the last <=window cent-quantized values, oldest first.
ANOMALY_STATE = T.StructType(
    [T.StructField("vals", T.ArrayType(T.LongType()))]
)


def _make_anomaly_detector(window: int = 20, min_prior: int = 8, z: int = 3):
    """Build the applyInPandasWithState function: flag events more than
    ``z`` sample standard deviations from the mean of the user's previous
    ``<=window`` events (at least ``min_prior`` required). The test is the
    division-free integer form ``(n·c − s)²·(n−1) > z²·n·(n·ss − s²)``
    over cent-quantized values — Python ints are exact at any magnitude,
    so this matches the batch ``events_anomaly_zscore`` SQL bit-for-bit."""

    def detect(
        key: Tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:  # pragma: no cover - NoTimeout configured
            state.remove()
            return

        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        vals = list(state.get[0]) if state.exists else []
        s = sum(vals)
        ss = sum(v * v for v in vals)
        out_ev: list[int] = []
        out_val: list[float] = []
        out_n: list[int] = []
        import numpy as np

        cents = np.floor(rows["value"].to_numpy() * 100.0 + 0.5).astype("int64")
        for eid, v, c in zip(
            rows["event_id"].to_numpy(), rows["value"].to_numpy(), cents
        ):
            n = len(vals)
            c = int(c)
            if n >= min_prior:
                dev = n * c - s
                if dev * dev * (n - 1) > z * z * n * (n * ss - s * s):
                    out_ev.append(int(eid))
                    out_val.append(float(v))
                    out_n.append(n)
            vals.append(c)
            s += c
            ss += c * c
            if len(vals) > window:
                old = vals.pop(0)
                s -= old
                ss -= old * old
        state.update((vals,))
        if out_ev:
            yield pd.DataFrame(
                {
                    "event_id": out_ev,
                    "user_id": [user_id] * len(out_ev),
                    "value": out_val,
                    "n_prior": out_n,
                }
            )

    return detect


def detect_anomalies_with_state(
    stream: DataFrame, *, window: int = 20, min_prior: int = 8, z: int = 3
) -> DataFrame:
    """Rolling 3σ anomaly detection as a custom stateful operator.

    Unlike sessionization there is nothing to time out: the verdict for
    an event depends only on the user's PRIOR events, so each micro-batch
    emits its anomalies immediately (append mode, NoTimeout) and the
    state is the O(window) ring of recent values — state-store size is
    |active users|·window longs regardless of stream length. Semantics
    match the batch ``events_anomaly_zscore`` query, which is the oracle."""
    return (
        stream.select("event_id", "user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_anomaly_detector(window=window, min_prior=min_prior, z=z),
            outputStructType=ANOMALY_OUTPUT,
            stateStructType=ANOMALY_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# Stream-stream interval join (built-in stateful shape #3)
# --------------------------------------------------------------------------


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    max_lag: str = "30 minutes",
    watermark: str = "31 minutes",
) -> DataFrame:
    """Inner stream-stream join: each left row matched to the same key's
    right rows with ``r.ts in (l.ts - max_lag, l.ts]`` — the
    attribution/funnel shape (purchase joined to the error that preceded
    it). Both sides carry a watermark one tick past the lag bound, so
    Spark can evict join state as event time advances: state holds only
    the trailing ``max_lag`` window per key instead of the whole stream —
    the property that keeps a 100 TB join runnable. Emission is
    append-mode and exactly-once per matched pair; an availableNow drain
    is complete because inner-join results never wait on the watermark.
    """
    lag_us = int(_parse_minutes(max_lag) * 60 * _US)
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    return l.join(
        r,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("r.ts") <= F.col("l.ts"))
        & (F.col("r.ts") > F.col("l.ts") - F.expr(f"INTERVAL {lag_us} MICROSECOND")),
        "inner",
    )


def interval_join_streams_left_outer(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    max_lag: str = "30 minutes",
    watermark: str = "31 minutes",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: like
    ``interval_join_streams`` but every unmatched left row is ALSO
    emitted (right columns NULL) — the attribution shape that must
    distinguish "purchase with no preceding error" from "not yet
    known".  The subtle semantics: an unmatched left row can only emit
    once the watermark has passed its join window (until then a match
    could still arrive), so outer results trail the data by the
    watermark delay and — critically for drains — need at least one
    FURTHER micro-batch after the watermark advances past them, because
    the watermark used by batch N is computed from batches < N.
    Callers staging file-based drains append watermark-advancing
    sentinel batches (and filter them from the result) to flush the
    tail; an unbounded production stream gets this for free from the
    next arriving data."""
    lag_us = int(_parse_minutes(max_lag) * 60 * _US)
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    return l.join(
        r,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("r.ts") <= F.col("l.ts"))
        & (F.col("r.ts") > F.col("l.ts") - F.expr(f"INTERVAL {lag_us} MICROSECOND")),
        "leftOuter",
    )


# --------------------------------------------------------------------------
# transformWithState running totals (Spark 4 arbitrary-state API)
# --------------------------------------------------------------------------

RUNNING_TOTALS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)

_RUNNING_TOTALS_STATE = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("cents", T.LongType())]
)


# --------------------------------------------------------------------------
# Streaming Misra-Gries heavy-hitter candidates (custom stateful op #3)
# --------------------------------------------------------------------------

MG_OUTPUT = T.StructType(
    [
        T.StructField("shard", T.LongType()),
        T.StructField("token", T.StringType()),
    ]
)

# Per-shard state: the Misra-Gries counter dict as two parallel arrays —
# bounded at k entries by the decrement-all rule, REGARDLESS of how many
# distinct tokens the shard's stream carries.
MG_STATE = T.StructType(
    [
        T.StructField("toks", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
)


def _make_mg_updater(k: int):
    """Build the applyInPandasWithState function: resume the shard's
    Misra-Gries counters from the state store, feed the batch's texts
    through the same decrement-counter loop the batch sketch uses
    (``ext/sketch._mg_feed``), store the updated counters, and emit the
    current candidate tokens (<= k rows per shard per batch)."""
    from dvh_airflow_kafka_spark.ext.sketch import _mg_feed

    def update(
        key: Tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (shard,) = key
        if state.exists:
            toks, counts = state.get
            counters = dict(zip(toks, counts))
        else:
            counters = {}
        for pdf in pdfs:
            _mg_feed(counters, pdf["text"], k)
        state.update((list(counters.keys()), [int(c) for c in counters.values()]))
        if counters:
            yield pd.DataFrame(
                {"shard": shard, "token": list(counters.keys())}
            )

    return update


def mg_candidates_with_state(stream: DataFrame, *, k: int = 64) -> DataFrame:
    """Streaming Misra-Gries candidate maintenance: the incoming document
    stream is sharded (``shard`` column must exist), each shard holds one
    k-counter MG summary in the state store across micro-batches, and
    every batch emits the shard's current candidate set (update mode).

    Guarantee (same pigeonhole as the batch two-pass sketch): a token
    with GLOBAL frequency > N/k must exceed n_shard/k on at least one
    shard, and per-shard MG retains every such token — so the union of
    emitted candidates over the drain is a superset of every global
    heavy hitter, and an exact verify pass over the same corpus
    (``ext/sketch.verify_candidate_counts``) makes the output exact.
    State is O(k) per shard FOREVER — the property that keeps a
    heavy-hitter monitor resident against an unbounded stream."""
    return (
        stream.select("shard", "text")
        .groupBy("shard")
        .applyInPandasWithState(
            _make_mg_updater(k),
            outputStructType=MG_OUTPUT,
            stateStructType=MG_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# Streaming KMV/theta k-minimum-values sketch (custom stateful op #4)
# --------------------------------------------------------------------------

KMV_OUTPUT = T.StructType(
    [
        T.StructField("g", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("kmins", T.ArrayType(T.LongType())),
    ]
)

# Per-group state: the k smallest distinct element hashes seen so far
# (ascending) plus a batch sequence number so the reader can pick each
# group's LATEST snapshot out of the update-mode emission history.
KMV_STATE = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("kmins", T.ArrayType(T.LongType())),
    ]
)


def _make_kmv_updater(k: int):
    """Build the applyInPandasWithState function: resume the group's
    retained k-minima from the state store, fold each Arrow chunk of the
    micro-batch in (set semantics — duplicate elements collapse exactly
    as the batch sketch's DISTINCT does), keep the k smallest, and emit
    the current snapshot (one row per group per batch).

    The fold truncates to the k smallest after EVERY chunk, so the
    Python working set stays O(k + chunk-distinct) — bounded by the
    Arrow batch size, never by the micro-batch's total distinct-hash
    count.  Truncating early is lossless: a hash outranked by ≥ k
    smaller hashes within any prefix of the stream is outranked in every
    superset (minima only improve), the same telescoping that makes the
    cross-batch merge exact."""

    def update(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (g,) = key
        if state.exists:
            seq, kept = state.get
            minima = set(int(h) for h in kept)
        else:
            seq, minima = 0, set()
        for pdf in pdfs:
            cutoff = max(minima) if len(minima) >= k else None
            if cutoff is None:
                minima.update(int(h) for h in pdf["h"])
            else:
                minima.update(
                    h for h in (int(v) for v in pdf["h"]) if h < cutoff
                )
            if len(minima) > k:
                minima = set(sorted(minima)[:k])
        merged = sorted(minima)[:k]
        seq = int(seq) + 1
        state.update((seq, merged))
        yield pd.DataFrame({"g": [g], "seq": [seq], "kmins": [merged]})

    return update


def kmv_minima_with_state(stream: DataFrame, *, k: int = 64) -> DataFrame:
    """Streaming KMV/theta sketch maintenance: the incoming stream carries
    (g, h) — group key and the 60-bit element hash, computed JVM-side
    with ``ext/sketch.kmv_hash`` BEFORE this operator so Python never
    hashes — and each group holds its k smallest distinct hashes in the
    state store across micro-batches, emitting the current snapshot
    every batch (update mode).

    Correctness (standard KMV mergeability, Bar-Yossef et al. RANDOM'02):
    a hash discarded from the retained set was outranked by ≥ k smaller
    hashes, and minima only improve — so it can never re-enter the global
    k-min, and k-min(state ∪ batch) per batch telescopes to the exact
    k-min over the whole stream regardless of batch composition.  The
    final snapshot therefore equals the batch ``kmv_sketch`` output
    bit-for-bit.

    State is O(k) longs per group FOREVER — the resident audience-overlap
    monitor at 100 TB ingest, immune to the unbounded element domain that
    makes a streaming groupBy(element) grow without bound."""
    return (
        stream.select("g", "h")
        .groupBy("g")
        .applyInPandasWithState(
            _make_kmv_updater(k),
            outputStructType=KMV_OUTPUT,
            stateStructType=KMV_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# Shingle-index probe emissions: per (bucket micro-batch) the PARTIAL
# shared-distinct-shingle count between an incoming and an existing doc
# within this bucket; sizes ride along so the readout never re-joins
# the corpus.  Σ c over buckets = the exact shared-shingle count.
SHINGLE_PROBE_OUTPUT = T.StructType(
    [
        T.StructField("in_id", T.LongType()),
        T.StructField("n_in", T.LongType()),
        T.StructField("ex_id", T.LongType()),
        T.StructField("n_ex", T.LongType()),
        T.StructField("c", T.LongType()),
    ]
)

# Per-BUCKET state: the existing-corpus inverted index entries hashed
# into this bucket.  Shingle strings are INTERNED — ``gs`` holds each
# distinct shingle once, entries reference it by position (``gi``) —
# because a hot shingle's doc list would otherwise repeat its string
# per entry and dominate state (de)serialization.  Bucketing (vs one
# group per shingle) bounds the per-batch Python invocation count at
# the bucket fan-out — at sf0.1 the per-shingle form paid ~10^5 group
# calls per micro-batch (~57s total); the bucketed form pays
# ≤ SHINGLE_BUCKETS.
SHINGLE_INDEX_STATE = T.StructType(
    [
        T.StructField("gs", T.ArrayType(T.StringType())),
        T.StructField("gi", T.ArrayType(T.IntegerType())),
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("sizes", T.ArrayType(T.LongType())),
    ]
)

# the detect_late_existing variant appends a per-bucket "probe has run"
# flag (written at most once per bucket, so ≤ SHINGLE_BUCKETS extra
# writes over a whole drain)
SHINGLE_INDEX_STATE_DETECT = T.StructType(
    SHINGLE_INDEX_STATE.fields + [T.StructField("probed", T.IntegerType())]
)

SHINGLE_BUCKETS = 64


def _make_shingle_probe_updater(detect_late_existing: bool = False):
    """applyInPandasWithState function for the directional ingest gate:
    per shingle-hash bucket, fold this batch's EXISTING rows into the
    bucket's inverted index FIRST (two-pass over the Arrow chunks —
    probes are buffered, so an incoming doc always sees every existing
    doc of its own batch, matching the batch kernel's
    incoming-vs-ALL-existing join), then emit the PARTIAL shared-count
    per (incoming, existing) candidate pair found in this bucket — a
    vectorized pandas merge + groupby-size, no Python row loops.  The
    state is written back only when new existing entries arrived —
    probe-only batches never touch the store.

    With ``detect_late_existing`` the state carries one extra flag per
    bucket — "a probe has run here" — written at most ONCE per bucket
    (the first probe batch; later probe batches see it set and write
    nothing), and a batch folding NEW existing entries into a
    probed bucket raises instead of silently weakening the gate.  The
    default keeps the probe-only-batches-never-write law exactly
    (CI-pinned in tests/test_stateful_streaming.py) for callers that
    guarantee ordering themselves."""

    def update(
        key: Tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        probed = 0
        if state.exists:
            if detect_late_existing:
                gs, gi, ids, sizes, probed = state.get
            else:
                gs, gi, ids, sizes = state.get
            gs = list(gs)
            idx = pd.DataFrame(
                {
                    "g": pd.array(gi, dtype="int64"),
                    "ex_id": pd.array(ids, dtype="int64"),
                    "n_ex": pd.array(sizes, dtype="int64"),
                }
            )
            idx["g"] = pd.Series(gs, dtype="object").iloc[idx["g"]].values
        else:
            gs = []
            idx = pd.DataFrame(
                {"g": [], "ex_id": [], "n_ex": []}
            ).astype({"ex_id": "int64", "n_ex": "int64"})
        chunks = list(pdfs)
        batch = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        )
        ex_rows = batch[~batch["is_new"]]
        if len(ex_rows):
            new = ex_rows.rename(
                columns={"doc_id": "ex_id", "n": "n_ex"}
            )[["g", "ex_id", "n_ex"]].drop_duplicates(["g", "ex_id"])
            if len(idx):
                merged = new.merge(
                    idx[["g", "ex_id"]],
                    on=["g", "ex_id"],
                    how="left",
                    indicator=True,
                )
                new = merged[merged["_merge"] == "left_only"].drop(
                    columns="_merge"
                )
            if len(new):
                if detect_late_existing and probed:
                    raise ValueError(
                        f"shingle bucket {key[0]}: {len(new)} existing-"
                        "corpus index entries arrived AFTER a probe "
                        "batch — earlier probes never saw them, so the "
                        "gate's equality with the batch kernel is void "
                        "(the source must deliver every existing row "
                        "no later than the probes that must see it)"
                    )
                idx = pd.concat([idx, new], ignore_index=True)
                intern = {g: i for i, g in enumerate(gs)}
                for g in new["g"]:
                    if g not in intern:
                        intern[g] = len(gs)
                        gs.append(g)
                tup = (
                    gs,
                    [int(intern[g]) for g in idx["g"]],
                    [int(v) for v in idx["ex_id"]],
                    [int(v) for v in idx["n_ex"]],
                )
                state.update(tup + (probed,) if detect_late_existing else tup)
        # no new existing entries -> no state write at all: a bucket
        # seeing only probes never occupies a state-store row, keeping
        # the store a function of the EXISTING corpus alone
        inc = batch[batch["is_new"]]
        if detect_late_existing and len(inc) and not probed:
            # first probe in this bucket: remember it (once — later
            # probe batches see the flag and skip the write)
            state.update(
                (
                    gs,
                    [int(v) for v in idx["g"].map({g: i for i, g in enumerate(gs)})]
                    if len(idx)
                    else [],
                    [int(v) for v in idx["ex_id"]],
                    [int(v) for v in idx["n_ex"]],
                    1,
                )
            )
        if len(inc) and len(idx):
            hits = inc.rename(columns={"doc_id": "in_id", "n": "n_in"})[
                ["g", "in_id", "n_in"]
            ].merge(idx, on="g")
            if len(hits):
                out = (
                    hits.groupby(
                        ["in_id", "n_in", "ex_id", "n_ex"], sort=False
                    )
                    .size()
                    .rename("c")
                    .reset_index()
                )
                yield out.astype("int64")

    return update


def shingle_index_probe_with_state(
    stream: DataFrame, detect_late_existing: bool = False
) -> DataFrame:
    """The DIRECTIONAL near-dup ingest gate's candidate join as
    streaming state (the ``ext/dedup.jaccard_ingest_gate`` candidate
    stage, ST3 at similarity level): the state store holds the
    EXISTING corpus's inverted shingle index — bucketed by shingle
    hash; per bucket, the (shingle, doc, distinct-shingle-count)
    entries — and each incoming micro-batch probes it, emitting partial
    shared-shingle counts per candidate (incoming, existing) pair,
    which the batch readout sums into exact Jaccard.

    ORDERING PRECONDITION: equality with the batch gate requires every
    existing-corpus row to arrive no later than the probes that must
    see it (same micro-batch is fine — existing rows are folded before
    probes within a batch).  An existing row delivered AFTER a probe is
    silently invisible to that probe, under-counting shared shingles
    and admitting near-duplicates.  Callers that cannot guarantee
    delivery order (the catalog query does, via staged file mtimes)
    should pass ``detect_late_existing=True``: the state then carries a
    once-written per-bucket "probe ran" flag and a violated
    precondition RAISES with the late-entry count instead of weakening
    the gate (ADVICE r11).

    The input stream carries (g, doc_id, is_new, n): shingle,
    document, side flag, and the doc's distinct-shingle count — all
    projected JVM-side (tokens → n-grams → array_distinct → explode)
    BEFORE this operator, so Python never tokenizes.

    State growth is bounded by the EXISTING corpus's inverted index —
    O(distinct shingles · docs-per-shingle), i.e. exactly the index a
    batch gate would build, resident instead of rebuilt — and is
    INDEPENDENT of ingest volume: probe-only batches never write state
    (tests/test_scale_probe_stream.py pins flatness under 2× incoming
    replay).  The hot-shingle cap (``ext/dedup.drop_hot_shingles``)
    bolts on upstream exactly as in batch when a corpus needs it."""
    return (
        stream.select(
            F.pmod(F.xxhash64(F.lit("shbkt"), F.col("g")), F.lit(SHINGLE_BUCKETS))
            .cast("int")
            .alias("bkt"),
            "g",
            "doc_id",
            "is_new",
            "n",
        )
        .groupBy("bkt")
        .applyInPandasWithState(
            _make_shingle_probe_updater(detect_late_existing),
            outputStructType=SHINGLE_PROBE_OUTPUT,
            stateStructType=(
                SHINGLE_INDEX_STATE_DETECT
                if detect_late_existing
                else SHINGLE_INDEX_STATE
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_totals_with_state(stream: DataFrame) -> DataFrame:
    """Per-user lifetime (count, cent-sum) maintained in a ValueState via
    Spark 4's ``transformWithStateInPandas`` — the successor API to
    ``applyInPandasWithState`` (SPARK-40434 →  SPARK-42931): typed state
    handles instead of a single opaque tuple, per-state TTL, and
    composable value/list/map state. Each micro-batch emits the updated
    totals per touched user; the LAST emission per user equals the batch
    ``groupBy(user).agg(count, sum)`` exactly (integer cents — no float
    summation order).

    ENVIRONMENT GATE: the transformWithState Python worker speaks
    protobuf to the JVM state server; ``google.protobuf`` is not
    installed in this sandbox, so the operator raises ImportError here
    and is exercised by an importorskip-gated test
    (``tests/test_stateful_streaming.py``) wherever protobuf exists —
    the same honest gating as the Kafka-jar and Oracle-JDBC paths.
    State is O(1) per user; output mode Update."""
    import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401  (gate)
    from pyspark.sql.streaming import StatefulProcessor

    class RunningTotals(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState("totals", _RUNNING_TOTALS_STATE)

        def handleInputRows(self, key, rows, timerValues):
            n, cents = self._state.get() if self._state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["c"].sum())
            self._state.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_cents": [cents],
                }
            )

        def close(self) -> None:
            pass

    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c")
    return (
        stream.select("user_id", c)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType=RUNNING_TOTALS_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
    )


# --------------------------------------------------------------------------
# Streaming weighted priority sample (custom stateful op #8)
# --------------------------------------------------------------------------

PRIORITY_TOPK_OUTPUT = T.StructType(
    [
        T.StructField("g", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("weights", T.ArrayType(T.LongType())),
        T.StructField("priorities", T.ArrayType(T.LongType())),
    ]
)

# Per-group state: the current top-k sample rows ordered by
# (priority DESC, doc_id ASC) plus the snapshot sequence number.
PRIORITY_TOPK_STATE = T.StructType(PRIORITY_TOPK_OUTPUT.fields[1:])


def _make_priority_topk_updater(k: int):
    """applyInPandasWithState function for the streaming priority
    sample: resume the group's retained top-k (priority DESC, doc_id
    ASC) rows, fold the micro-batch in with set semantics on doc_id
    (an at-least-once redelivery carries the identical deterministic
    priority, so duplicates collapse exactly as the batch kernel's one
    row per doc does), truncate to k, emit the snapshot.

    Mergeability is the same telescoping as KMV: a row outranked by
    ≥ k better-ranked rows in any prefix is outranked in every
    superset (insertions only improve the retained set), so
    top-k(state ∪ batch) per batch equals the one-pass top-k over the
    whole stream regardless of batch composition.  Working set is
    O(k + batch rows for this group) — the sort never sees the
    stream."""

    def update(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (g,) = key
        if state.exists:
            seq, ids, weights, priorities = state.get
            kept = pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "weight": pd.array(weights, dtype="int64"),
                    "priority": pd.array(priorities, dtype="int64"),
                }
            )
        else:
            seq = 0
            kept = pd.DataFrame(
                {"doc_id": [], "weight": [], "priority": []}
            ).astype("int64")
        chunks = [pdf[["doc_id", "weight", "priority"]] for pdf in pdfs]
        merged = pd.concat([kept] + chunks, ignore_index=True)
        merged = (
            merged.drop_duplicates("doc_id")
            .sort_values(
                ["priority", "doc_id"], ascending=[False, True]
            )
            .head(k)
        )
        seq = int(seq) + 1
        tup = (
            seq,
            [int(v) for v in merged["doc_id"]],
            [int(v) for v in merged["weight"]],
            [int(v) for v in merged["priority"]],
        )
        state.update(tup)
        yield pd.DataFrame(
            {
                "g": [g],
                "seq": [seq],
                "ids": [tup[1]],
                "weights": [tup[2]],
                "priorities": [tup[3]],
            }
        )

    return update


def priority_topk_with_state(stream: DataFrame, *, k: int = 20) -> DataFrame:
    """Streaming weighted priority sampling (Duffield-Lund-Thorup) —
    the batch ``weighted_priority_sample`` kernel's top-k per group
    maintained as resident state: the input carries (g, doc_id, weight,
    priority) with the EXACT-integer priority ``w·2^32 div (h+1)``
    computed JVM-side BEFORE this operator (Python never hashes), and
    each group's current k-row sample lives in the state store across
    micro-batches, snapshotted every batch (update mode).

    State is O(k) rows per group FOREVER — the resident
    weight-proportional corpus subsample at 100 TB ingest, the eighth
    batch/streaming twin family beside ddsketch, count-min,
    Misra-Gries, HLL, KMV, Bloom, and the mixture COUNT/SUM state.  The
    final snapshot equals the batch kernel bit-for-bit (deterministic
    priorities; top-k-of-union telescopes), so the catalog twin shares
    ``weighted_priority_sample``'s DuckDB oracle verbatim."""
    return (
        stream.select("g", "doc_id", "weight", "priority")
        .groupBy("g")
        .applyInPandasWithState(
            _make_priority_topk_updater(k),
            outputStructType=PRIORITY_TOPK_OUTPUT,
            stateStructType=PRIORITY_TOPK_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
