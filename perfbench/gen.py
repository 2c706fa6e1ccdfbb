"""Seeded input generator and correctness oracle for the pipeline benchmark.

Runs in the orchestrating process, untimed, with NumPy and PyArrow only:
the engine under test never sees this module, only the parquet files it
writes.  The expected outputs are computed here from the generated
arrays, never by asking the engine.

The log has the engine's ``events`` shape (``event_id ts user_id
event_type value props``), which ``sources.envelope.events_as_kafka_frame``
maps onto the Kafka columns: ``event_id`` is the offset, ``user_id % 2``
the partition, ``props`` the JSON payload::

    {"k": 1, "person": {"id": 17}, "kind": "view", "amount": 311}

Payload field ``k`` drives the allow-filter (``k`` in ALLOWED_K keeps the
payload), ``person.id`` (= ``user_id``) the kode-6/7 lookup.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TOPIC = "events"
ALLOWED_K = (1, 2)
KINDS = pa.array(["view", "click", "buy", "share"])
DAY_MS = 86_400_000
DATE_MIN, DATE_MAX = -25_567, 2_932_896  # 1900-01-01 and 9999-12-31 as epoch days
T0_MS = int(dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
# file mtimes: fixed and increasing, because the file-stream source
# orders its input by modification time
MTIME0 = 1_700_000_000

# Input properties per workload.  perfbench/workloads.json records the
# same figures for readers; keep the two in step.
SIZES = {
    "assign_interval": dict(
        files=20, in_interval=2_000_000, outside=100_000, users=50_000,
        span_days=4, preloaded_share=0.5,
    ),
    "subscribe_drain": dict(
        files=20, rows_per_file=2_000, redelivered_share=0.10, users=2_000,
        span_days=4,
    ),
    "ingest_drain": dict(
        files=20, rows_per_file=2_000, redelivered_share=0.10, users=2_000,
        span_days=4, initial_log_share=0.2, initial_older=10_000,
    ),
}
ALLOW_SHARE = 0.8  # share of messages whose ``k`` is allowed
FLAGGED_SHARE = 0.05  # share of persons with a kode-6/7 lookup row


@dataclass
class Oracle:
    """What a correct run produces, computed from the generated arrays."""

    keys: np.ndarray  # sorted int64 offsets the sink must hold, once each
    new_keys: np.ndarray  # sorted offsets this run adds (not pre-loaded)
    new_null: int  # added rows whose payload is NULL (filtered or scrubbed)
    new_ts_sum: int  # sum of kafka_timestamp over the added rows
    new_person_sum: int  # sum of person.id over added rows with a payload
    summary: dict  # expected ProcessSummary / IngestDirs.summary fields
    batches: int  # expected non-empty micro-batches (0: one bounded read)
    props: dict = field(default_factory=dict)  # measured input properties


def _props(rng: np.random.Generator, user: np.ndarray) -> tuple[pa.Array, np.ndarray]:
    n = len(user)
    allowed = rng.random(n) < ALLOW_SHARE
    k = np.where(
        allowed, rng.choice(ALLOWED_K, n), rng.integers(3, 100, n)
    ).astype(np.int64)
    amount = rng.integers(0, 1000, n)
    s = lambda a: pa.array(a).cast(pa.string())  # noqa: E731
    props = pc.binary_join_element_wise(
        '{"k":', s(k), ',"person":{"id":', s(user), '},"kind":"',
        _kinds(rng, n), '","amount":', s(amount), "}", "",
    )
    return props, allowed


def _kinds(rng: np.random.Generator, n: int) -> pa.Array:
    codes = pa.array(rng.integers(0, len(KINDS), n).astype(np.int32))
    return pa.DictionaryArray.from_arrays(codes, KINDS).cast(pa.string())


def _events_table(event_id, ts_ms, user, props, rng) -> pa.Table:
    n = len(event_id)
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts_ms * 1000, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(user, pa.int64()),
            "event_type": _kinds(rng, n),
            "value": pa.array(np.round(rng.random(n) * 100, 3)),
            "props": props,
        }
    )


def _write(table: pa.Table, path: str, **kw) -> None:
    # dictionary-encode only the low-cardinality column: the payload and
    # hash columns are near-unique, where dictionary pages only cost time
    pq.write_table(table, path, use_dictionary=["event_type", "kind"], **kw)


def _write_files(table: pa.Table, out_dir: str, n_files: int, name: str = "part", **kw) -> None:
    """Contiguous slices, one parquet file each, with increasing mtimes."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = [i * table.num_rows // n_files for i in range(n_files + 1)]
    for i in range(n_files):
        path = os.path.join(out_dir, f"{name}-{i:05d}.parquet")
        _write(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path, **kw)
        os.utime(path, (MTIME0 + i, MTIME0 + i))


def _lookup(rng: np.random.Generator, users: int, mid_day: int, out_dir: str):
    """kode-6/7 lookup.  Half the flagged persons are flagged for good,
    half only until ``mid_day``; code-1 rows for other persons must be
    ignored.  Returns ``scrubbed(user, ts_ms) -> bool mask``."""
    ids = np.arange(users, dtype=np.int64)
    flagged = rng.choice(ids, int(users * FLAGGED_SHARE), replace=False)
    code = rng.choice([6, 7], len(flagged)).astype(np.int32)
    until = np.where(rng.random(len(flagged)) < 0.5, mid_day, DATE_MAX)
    other = rng.choice(np.setdiff1d(ids, flagged), len(flagged), replace=False)
    off_id = np.concatenate([flagged, other])
    table = pa.table(
        {
            "off_id": pa.array(off_id),
            "gyldig_fra_dato": pa.array(np.full(len(off_id), DATE_MIN, np.int32), pa.date32()),
            "gyldig_til_dato": pa.array(
                np.concatenate([until, np.full(len(other), DATE_MAX)]).astype(np.int32),
                pa.date32(),
            ),
            "skjermet_kode": pa.array(
                np.concatenate([code, np.ones(len(other), np.int32)])
            ),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "lookup.parquet"))
    flagged_until = np.full(users, -1, np.int64)
    flagged_until[flagged] = until

    def scrubbed(user: np.ndarray, ts_ms: np.ndarray) -> np.ndarray:
        return ts_ms // DAY_MS <= flagged_until[user]

    return scrubbed


def gen_assign(root: str, seed: int) -> Oracle:
    """One bounded interval read: ``in_interval`` messages between the
    configured start and end timestamps, ``outside`` more around them,
    and a sink pre-loaded with ``preloaded_share`` of the interval's keys."""
    p = SIZES["assign_interval"]
    rng = np.random.default_rng(seed)
    n = p["in_interval"] + p["outside"]
    before = p["outside"] // 2
    step = p["span_days"] * DAY_MS // n
    ts_ms = T0_MS + np.arange(n, dtype=np.int64) * step
    event_id = 1_000_000 + np.arange(n, dtype=np.int64)
    user = rng.integers(0, p["users"], n)
    props, allowed = _props(rng, user)
    _write_files(_events_table(event_id, ts_ms, user, props, rng), f"{root}/log", p["files"])
    mid_day = (T0_MS + p["span_days"] * DAY_MS // 2) // DAY_MS
    scrubbed = _lookup(rng, p["users"], mid_day, f"{root}/lookup")

    lo, hi = before, before + p["in_interval"]
    payload = allowed & ~scrubbed(user, ts_ms)
    pre = np.zeros(n, bool)
    pre[lo:hi] = rng.random(p["in_interval"]) < p["preloaded_share"]
    _write_preloaded_sink(f"{root}/sink", event_id, ts_ms, user, props, payload, pre)

    new = np.zeros(n, bool)
    new[lo:hi] = ~pre[lo:hi]
    m = p["in_interval"]
    return Oracle(
        keys=event_id[lo:hi].copy(),
        new_keys=event_id[new],
        new_null=int((new & ~payload).sum()),
        new_ts_sum=int(ts_ms[new].sum()),
        new_person_sum=int(user[new & payload].sum()),
        summary=dict(
            event_count=m, data_count=m, error_count=0, written_to_db_count=m,
            committed_to_producer_count=-1, empty_count=0, non_empty_count=m,
        ),
        batches=0,
        props=dict(
            interval=[int(ts_ms[lo]), int(ts_ms[hi])],
            messages_in_interval=m,
            messages_scanned=n,
            files=p["files"],
            redelivered_share=0.0,
            allow_filtered_share=round(float(1 - allowed[lo:hi].mean()), 4),
            k67_scrubbed_share=round(float((allowed & ~payload)[lo:hi].mean()), 4),
            preloaded_sink_share=round(float(pre[lo:hi].mean()), 4),
        ),
    )


def _write_preloaded_sink(out_dir, event_id, ts_ms, user, props, payload, pre) -> None:
    """The rows an earlier run already wrote, in the sink's own schema
    (the transform rules of ``ASSIGN_YAML`` in perfbench/task.py)."""
    idx = np.flatnonzero(pre)
    raw = props.take(pa.array(idx))
    keep = pa.array(payload[idx])
    kind = pc.struct_field(pc.extract_regex(raw, r'"kind":"(?P<kind>[a-z]+)"'), "kind")
    null_str = pa.nulls(len(idx), pa.string())
    table = pa.table(
        {
            "kafka_topic": pa.array(np.full(len(idx), TOPIC)),
            "kafka_partition": pa.array((user[idx] % 2).astype(np.int32)),
            "kafka_offset": pa.array(event_id[idx]),
            "kafka_timestamp": pa.array(ts_ms[idx]),
            "kafka_hash": _sha256_hex(raw),
            "kafka_message": pc.if_else(keep, raw, null_str),
            "person_id": pc.if_else(keep, pa.array(user[idx]), pa.nulls(len(idx), pa.int64())),
            "kind": pc.if_else(keep, kind, null_str),
            "lastet_tid": pa.array(
                np.full(len(idx), T0_MS * 1000, np.int64), pa.timestamp("us")
            ),
        }
    )
    # Spark writes TIMESTAMP as INT96 by default; match the engine's files
    _write_files(table, out_dir, 8, "part-preloaded", use_deprecated_int96_timestamps=True)


def _sha256_hex(strings: pa.Array) -> pa.Array:
    """sha256 hex digest of each value's UTF-8 bytes (the envelope's
    ``kafka_hash``), hashed straight from the Arrow buffers."""
    import hashlib

    _, offsets, data = strings.buffers()
    off = np.frombuffer(offsets, np.int32)[strings.offset : strings.offset + len(strings) + 1]
    mv = memoryview(data)
    return pa.array(
        [hashlib.sha256(mv[a:b]).hexdigest() for a, b in zip(off[:-1].tolist(), off[1:].tolist())]
    )


def _drain_log(root: str, rng: np.random.Generator, p: dict):
    """``files`` files of ``rows_per_file`` rows; ``redelivered_share`` of
    each file are exact copies of messages already delivered (earlier
    files, or the same file for the first one)."""
    per = p["rows_per_file"]
    n_dup = int(per * p["redelivered_share"])
    n_new = per - n_dup
    n = n_new * p["files"]
    step = p["span_days"] * DAY_MS // n
    ts_ms = T0_MS + np.arange(n, dtype=np.int64) * step
    event_id = 5_000_000 + np.arange(n, dtype=np.int64)
    user = rng.integers(0, p["users"], n)
    props, allowed = _props(rng, user)
    originals = _events_table(event_id, ts_ms, user, props, rng)
    rows = []
    for i in range(p["files"]):
        fresh = np.arange(i * n_new, (i + 1) * n_new)
        dup = rng.integers(0, max(i, 1) * n_new, n_dup)
        rows.append(rng.permutation(np.concatenate([fresh, dup])))
    order = np.concatenate(rows)
    _write_files(originals.take(pa.array(order)), f"{root}/log", p["files"])
    mid_day = (T0_MS + p["span_days"] * DAY_MS // 2) // DAY_MS
    scrubbed = _lookup(rng, p["users"], mid_day, f"{root}/lookup")
    payload = allowed & ~scrubbed(user, ts_ms)
    return originals, event_id, ts_ms, user, allowed, payload, n_dup * p["files"]


def _drain_props(p, allowed, payload, redelivered, n_rows) -> dict:
    return dict(
        messages=n_rows,
        files=p["files"],
        rows_per_file=p["rows_per_file"],
        redelivered_share=round(redelivered / n_rows, 4),
        allow_filtered_share=round(float(1 - allowed.mean()), 4),
        k67_scrubbed_share=round(float((allowed & ~payload).mean()), 4),
    )


def gen_subscribe(root: str, seed: int) -> Oracle:
    """A drain of ``files`` one-file triggers into an empty sink (the
    subscribe strategy has no k6 step)."""
    p = SIZES["subscribe_drain"]
    rng = np.random.default_rng(seed)
    _, event_id, ts_ms, user, allowed, payload, redelivered = _drain_log(root, rng, p)
    total = p["files"] * p["rows_per_file"]
    return Oracle(
        keys=event_id.copy(),
        new_keys=event_id.copy(),
        new_null=int((~allowed).sum()),
        new_ts_sum=int(ts_ms.sum()),
        new_person_sum=0,
        summary=dict(
            event_count=total, data_count=total, error_count=0,
            written_to_db_count=total, committed_to_producer_count=total,
            empty_count=0, non_empty_count=total,
        ),
        batches=p["files"],
        props=dict(
            _drain_props(p, allowed, payload, redelivered, total),
            k67_scrubbed_share=0.0,
            preloaded_sink_share=0.0,
        ),
    )


def gen_ingest(root: str, seed: int) -> Oracle:
    """The same log shape, drained by the ingest spine against an
    initial sink of ``initial_older`` older messages plus
    ``initial_log_share`` of the log's own messages."""
    p = SIZES["ingest_drain"]
    rng = np.random.default_rng(seed)
    originals, event_id, ts_ms, user, allowed, payload, redelivered = _drain_log(root, rng, p)
    n_old = p["initial_older"]
    old_ts = T0_MS - DAY_MS + np.arange(n_old, dtype=np.int64) * (DAY_MS // n_old)
    old_user = rng.integers(0, p["users"], n_old)
    old_props, _ = _props(rng, old_user)
    older = _events_table(
        4_000_000 + np.arange(n_old, dtype=np.int64), old_ts, old_user, old_props, rng
    )
    pre = rng.random(len(event_id)) < p["initial_log_share"]
    initial = pa.concat_tables([older, originals.filter(pa.array(pre))])
    os.makedirs(f"{root}/initial", exist_ok=True)
    _write(initial, f"{root}/initial/part-00000.parquet")

    total = p["files"] * p["rows_per_file"]
    admitted = int((~pre).sum())
    return Oracle(
        keys=np.sort(np.concatenate([older.column("event_id").to_numpy(), event_id])),
        new_keys=event_id[~pre],
        new_null=int((~pre & ~payload).sum()),
        new_ts_sum=int(ts_ms[~pre].sum()),
        new_person_sum=int(user[~pre & payload].sum()),
        summary=dict(
            event_count=total, data_count=total, error_count=0,
            written_to_db_count=admitted,
            # the ingest drain documents assign-style -1 here
            committed_to_producer_count=-1,
            empty_count=0, non_empty_count=total,
            skipped_duplicates=total - admitted,
        ),
        batches=p["files"],
        props=dict(
            _drain_props(p, allowed, payload, redelivered, total),
            initial_sink_rows=initial.num_rows,
            preloaded_sink_share=round(float(pre.mean()), 4),
        ),
    )


GENERATORS = {
    "assign_interval": gen_assign,
    "subscribe_drain": gen_subscribe,
    "ingest_drain": gen_ingest,
}
