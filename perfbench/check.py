"""Output checks: the sink and the run counters against the generator's
oracle.  Reads the engine's output files with PyArrow, never with Spark.

Every check yields ``(name, expected, got)``; the set of checks is fixed
per workload, so the number passed is comparable across runs.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from perfbench.gen import Oracle


def _read(files: list[str], columns: list[str]) -> dict:
    if not files:  # the engine wrote nothing: every column is empty
        return {c: pa.nulls(0) for c in columns}
    table = ds.dataset(files, format="parquet").to_table(columns=columns)
    return {c: table.column(c) for c in columns}


def _parquet_files(root: str) -> list[str]:
    return sorted(
        p
        for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if not os.path.basename(p).startswith((".", "_"))
    )


def _key_checks(all_keys: np.ndarray, oracle: Oracle) -> list[tuple]:
    uniq = np.unique(all_keys)
    return [
        ("sink.duplicate_keys", 0, int(len(all_keys) - len(uniq))),
        ("sink.missing_keys", 0, int(len(np.setdiff1d(oracle.keys, uniq)))),
        ("sink.extra_keys", 0, int(len(np.setdiff1d(uniq, oracle.keys)))),
        ("sink.rows", int(len(oracle.keys)), int(len(all_keys))),
    ]


def _new_row_checks(new: dict, oracle: Oracle, person_col: str | None) -> list[tuple]:
    """Checks on the rows this run wrote: their keys, how many lost their
    payload (allow-filter or kode-6/7), and column sums."""
    msg_null = pc.is_null(new["kafka_message"])
    out = [
        ("new.keys", len(oracle.new_keys), len(np.intersect1d(np.asarray(new["kafka_offset"], np.int64), oracle.new_keys))),
        ("new.null_messages", oracle.new_null, int(pc.sum(msg_null).as_py() or 0)),
        ("new.kafka_timestamp_sum", oracle.new_ts_sum, int(pc.sum(new["kafka_timestamp"]).as_py() or 0)),
    ]
    if person_col:
        kept = pc.filter(new[person_col], pc.invert(msg_null))
        out.append(("new.person_sum", oracle.new_person_sum, int(pc.sum(kept).as_py() or 0)))
    return out


def _summary_checks(summary: dict, oracle: Oracle) -> list[tuple]:
    return [(f"summary.{k}", v, summary.get(k)) for k, v in oracle.summary.items()]


def run_checks(workload: str, data: str, oracle: Oracle, result: dict) -> list[tuple]:
    cols = ["kafka_offset", "kafka_message", "kafka_timestamp"]
    if workload == "assign_interval":
        files = _parquet_files(os.path.join(data, "sink"))
        written = [f for f in files if "part-preloaded" not in f]
        keys = _read(files, ["kafka_offset"])["kafka_offset"]
        checks = _key_checks(np.asarray(keys, np.int64), oracle)
        checks += _new_row_checks(_read(written, cols + ["person_id"]), oracle, "person_id")
    elif workload == "subscribe_drain":
        written = _parquet_files(os.path.join(data, "sink"))
        new = _read(written, cols)
        checks = _key_checks(np.asarray(new["kafka_offset"], np.int64), oracle)
        checks += _new_row_checks(new, oracle, None)
    else:
        work = os.path.join(data, "work")
        written = _parquet_files(os.path.join(work, "sink"))
        initial = _read(_parquet_files(os.path.join(work, "initial")), ["kafka_offset"])
        new = _read(written, cols + ["user_id"])
        keys = np.concatenate(
            [np.asarray(initial["kafka_offset"], np.int64), np.asarray(new["kafka_offset"], np.int64)]
        )
        checks = _key_checks(keys, oracle)
        checks += _new_row_checks(new, oracle, "user_id")
        for root in ("bits", "hll", "dd", "mg"):
            tags = glob.glob(os.path.join(work, root, "b*"))
            checks.append((f"artifacts.{root}_batch_dirs", oracle.batches, len(tags)))
    checks += _summary_checks(result.get("summary", {}), oracle)
    if oracle.batches:
        checks.append(("stream.non_empty_batches", oracle.batches, len(result.get("batches", []))))
    return checks
