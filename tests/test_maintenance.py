"""Compaction and merge-upsert: data preserved byte-for-byte, file counts
shrink, matched keys replaced, unmatched appended."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.io import load_table
from dvh_airflow_kafka_spark.operators.maintenance import (
    compact_parquet,
    file_stats,
    merge_upsert,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_compact_shrinks_files_preserves_rows(spark, sf_dir, tmp_path):
    path = str(tmp_path / "frag")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ev.repartition(20).write.parquet(path)
    before_rows = _rows(spark.read.parquet(path))
    assert file_stats(path)["n_files"] == 20

    n = compact_parquet(spark, path, target_file_bytes=1 << 30)
    after = file_stats(path)
    assert n == 1 and after["n_files"] == 1
    assert _rows(spark.read.parquet(path)) == before_rows


def test_compact_sort_within_restores_locality(spark, sf_dir, tmp_path):
    path = str(tmp_path / "frag")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    ev.repartition(8).write.parquet(path)
    compact_parquet(
        spark, path, target_file_bytes=1 << 30, sort_within_by=["event_id"]
    )
    got = [r["event_id"] for r in spark.read.parquet(path).collect()]
    assert got == sorted(got)  # single file, fully ordered


def test_merge_upsert_replaces_and_appends(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    ).write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    merge_upsert(spark, path, updates, keys=["k"])
    got = {r["k"]: (r["s"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_upsert_duplicate_keys_deterministic(spark, tmp_path):
    """Duplicate-key CDC batches must pick a deterministic survivor:
    greatest version_col when given, else greatest remaining columns —
    never partition-order-dependent."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 0, "init")], "k long, ver long, s string").write.parquet(path)
    dup = spark.createDataFrame(
        [(1, 2, "second"), (1, 3, "third"), (1, 1, "first"), (2, 1, "new")],
        "k long, ver long, s string",
    ).repartition(8)  # scatter duplicates across partitions
    merge_upsert(spark, path, dup, keys=["k"], version_col="ver")
    got = {r["k"]: (r["ver"], r["s"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: (3, "third"), 2: (1, "new")}
    # without version_col: lexicographically greatest remaining columns
    path2 = str(tmp_path / "t2")
    spark.createDataFrame([(9, "x")], "k long, s string").write.parquet(path2)
    dup2 = spark.createDataFrame(
        [(1, "b"), (1, "a"), (1, "c")], "k long, s string"
    ).repartition(8)
    merge_upsert(spark, path2, dup2, keys=["k"])
    got2 = {r["k"]: r["s"] for r in spark.read.parquet(path2).collect()}
    assert got2 == {1: "c", 9: "x"}


def test_merge_upsert_idempotent_replay(spark, tmp_path):
    """Replaying the same update batch (at-least-once delivery) leaves the
    table unchanged — the upsert is the idempotent sink the streaming
    spine's dedup contract assumes."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double").write.parquet(path)
    updates = spark.createDataFrame([(2, 5.0), (3, 3.0)], "k long, v double")
    merge_upsert(spark, path, updates, keys=["k"])
    once = _rows(spark.read.parquet(path))
    merge_upsert(spark, path, updates, keys=["k"])
    assert _rows(spark.read.parquet(path)) == once


def test_delete_where_erases_only_targets(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.operators.maintenance import delete_where

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    path = str(tmp_path / "ev")
    ev.write.parquet(path)
    flagged = {3, 7, 11}
    before, deleted = delete_where(
        spark, path, F.col("user_id").isin(*flagged)
    )
    assert before == ev.count()
    assert deleted == ev.filter(F.col("user_id").isin(*flagged)).count()
    after = spark.read.parquet(path)
    assert after.filter(F.col("user_id").isin(*flagged)).count() == 0
    assert after.count() == before - deleted
    # idempotent: a second erasure deletes nothing
    _, again = delete_where(spark, path, F.col("user_id").isin(*flagged))
    assert again == 0


def test_maintenance_recovers_interrupted_swap(spark, sf_dir, tmp_path):
    """A crash between swap renames must degrade to 'rewrite didn't
    happen', never to a vanished table."""
    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.operators.maintenance import compact_parquet
    from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    path = str(tmp_path / "ev")
    ev.write.parquet(path)
    n = spark.read.parquet(path).count()
    fs = HadoopFs(spark, path)
    # simulate: base renamed aside, replacement never landed
    fs.rename(path, path + ".__old_cafe01")
    assert not fs.exists(path)
    assert fs.recover(path) is True
    assert spark.read.parquet(path).count() == n
    # the maintenance ops self-heal: rename aside again, then compact
    fs.rename(path, fs.aside(path))
    compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert spark.read.parquet(path).count() == n


class _Crash(Exception):
    """A process death, as seen by the code it interrupts: not an
    ``OSError``, so ``swap`` does not roll back in process."""


def _ids(spark, path):
    return sorted(r.id for r in spark.read.parquet(path).collect())


def test_swap_recovery_restores_newest_copy(spark, tmp_path, monkeypatch):
    """A completed rewrite whose aside-half survived, an append, then a
    swap crashed between its renames: recovery must bring back the
    newest copy, never the stale half of the earlier rewrite."""
    from dvh_airflow_kafka_spark.operators.maintenance import delete_where
    from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs

    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    fs = HadoopFs(spark, path)
    real_delete, real_rename = HadoopFs.delete, HadoopFs.rename

    # 1. a delete_where rewrite to ids 5-9 completes, but the process
    #    dies before its aside-half (ids 0-9) is deleted
    monkeypatch.setattr(
        HadoopFs,
        "delete",
        lambda self, p: None if p == fs.aside(path) else real_delete(self, p),
    )
    delete_where(spark, path, F.col("id") < 5)
    monkeypatch.undo()
    assert fs.exists(fs.aside(path)) and _ids(spark, path) == list(range(5, 10))

    # 2. ids 10-14 are appended
    spark.range(10, 15).write.mode("append").parquet(path)

    # 3. the next swap dies after its rename-aside, before the rename-in
    def crash_on_rename_in(self, src, dst):
        if dst == path:
            raise _Crash()
        real_rename(self, src, dst)

    new = fs.staging(path)
    spark.read.parquet(path).coalesce(1).write.mode("overwrite").parquet(new)
    monkeypatch.setattr(HadoopFs, "rename", crash_on_rename_in)
    with pytest.raises(_Crash):
        fs.swap(new, path)
    monkeypatch.undo()
    assert not fs.exists(path)

    assert fs.recover(path) is True
    assert _ids(spark, path) == list(range(5, 15))
    halves = [n for n in fs.list_names(str(tmp_path)) if "__old" in n]
    assert halves == []


def test_swap_rolls_back_failed_rename_in(spark, tmp_path, monkeypatch):
    from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs

    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    fs = HadoopFs(spark, path)
    real_rename = HadoopFs.rename

    def fail_rename_in(self, src, dst):
        if dst == path and src != fs.aside(path):
            raise OSError("rename failed")
        real_rename(self, src, dst)

    new = fs.staging(path)
    spark.range(7).write.parquet(new)
    monkeypatch.setattr(HadoopFs, "rename", fail_rename_in)
    with pytest.raises(OSError):
        fs.swap(new, path)
    monkeypatch.undo()
    assert _ids(spark, path) == [0, 1, 2]
    assert not fs.exists(fs.aside(path))


def test_swap_recovery_refuses_to_guess(spark, tmp_path):
    """A missing table with two aside-halves (only the earlier
    ``<name>.__old_<hex>`` protocol leaves that) raises: either half
    could be the last copy."""
    from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs

    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path + ".__old_00aa0000")
    spark.range(5, 15).write.parquet(path + ".__old_ff110000")
    fs = HadoopFs(spark, path)
    with pytest.raises(RuntimeError, match="swap halves"):
        fs.recover(path)
    assert not fs.exists(path)
