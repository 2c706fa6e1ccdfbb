"""Round-13 ingest artifact-layer laws (VERDICT r12 punch list + ADVICE):

- the ENTIRE artifact layer (batch-dir listings, stage_initial /
  compact_sink / erase_users swaps, bits_cum retention, control files)
  goes through the Hadoop FileSystem API — object-store-visible — and a
  drain works end-to-end on a ``file://``-URI work_dir;
- a stray non-``b<digits>`` entry in a data root can no longer crash
  the listings (ADVICE r12 #1), and erase-swap tears heal at every
  entry point, both those of ``fsio.HadoopFs.swap`` (a hidden sibling
  half) and those of the earlier destination-encoded ``__erase_trash``;
- erasure PERSISTS across runs: a later drain on the same work_dir
  reads the erased copy-on-write initial (ADVICE r12 #2);
- the epoch contract is persisted per checkpoint: wrong offset on
  resume raises, colliding offset on a fresh checkpoint raises, None
  auto-derives (VERDICT r12 item 5);
- ``erase_users(purge_keys=True)`` removes erased key material from
  the sidecar and Bloom gate: a redelivered erased message is then
  ADMITTED (the opt-in policy), while non-erased duplicates stay
  rejected and the probe keeps superseting the sink's keys
  (VERDICT r12 item 4).
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from tests.test_round12_ops import (
    _empty_lookup,
    _mk_events,
    _row,
    _run,
    _stage,
)


# --------------------------------------------------------------------------
# FS-API observance
# --------------------------------------------------------------------------


def test_ingest_module_has_no_driver_local_fs_calls():
    # the artifact layer's swaps/sentinels only exist on object stores
    # if they go through the Hadoop FS API (VERDICT r12 "missing" #1) —
    # pin the module source free of every driver-local escape hatch it
    # used through round 12.  os.path.join/basename stay: pure string
    # ops, scheme-safe.
    import inspect

    import dvh_airflow_kafka_spark.streaming.ingest as mod

    src = inspect.getsource(mod)
    banned = [
        "glob.glob",
        "import glob",
        "os.rename",
        "os.remove",
        "os.listdir",
        "os.makedirs",
        "os.stat",
        "os.path.isdir(",
        "os.path.exists(",
        "os.path.abspath(",
        "shutil.",
        "tempfile.",
        "open(",
    ]
    hits = [b for b in banned if b in src]
    assert not hits, f"driver-local fs calls crept back in: {hits}"


def test_markers_and_dirs_visible_through_fs_api(spark, tmp_path):
    from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs
    from dvh_airflow_kafka_spark.streaming.ingest import _batch_dirs

    src = str(tmp_path / "src")
    _stage(_mk_events(spark, [_row(i, i % 3) for i in range(6)]), src)
    work, ck = str(tmp_path / "w"), str(tmp_path / "ck")
    dirs = _run(spark, src, work, ck, _mk_events(spark, []))
    fs = HadoopFs(spark, work)
    # every contract artifact observed via the FS API, not os.path
    assert fs.is_dir(dirs.sink)
    assert _batch_dirs(fs, dirs.sink), "no committed batch dirs listed"
    assert fs.exists(dirs.sink + "__keys/_seeded")
    epochs = fs.list_names(os.path.join(work, "_epochs"))
    assert len(epochs) == 1 and epochs[0].startswith("ck_")
    # ADVICE r12 #1 regression: stray non-b<digits> entries are ignored
    fs.mkdirs(os.path.join(dirs.sink, "b00000.__erased"))
    fs.mkdirs(os.path.join(dirs.sink, "__trash"))
    tags = [p.rsplit("/", 1)[-1] for p in _batch_dirs(fs, dirs.sink)]
    assert all(
        t.startswith("b") and t[1:].isdigit() for t in tags
    ), tags
    # and the high-level readout still works with the strays present
    init = spark.read.parquet(dirs.initial)
    assert dirs.admitted(spark, init).count() == 6


def test_ingest_pipeline_accepts_uri_work_dir(spark, tmp_path):
    # the whole drain — staging renames, sidecar markers, epoch control
    # file, per-batch artifacts — on a scheme-qualified work_dir
    src = str(tmp_path / "src")
    _stage(_mk_events(spark, [_row(i, i % 3) for i in range(8)]), src)
    work = f"file://{tmp_path}/w_uri"
    dirs = _run(spark, src, work, str(tmp_path / "ck"), _mk_events(spark, []))
    init = spark.read.parquet(dirs.initial)
    assert dirs.admitted(spark, init).count() == 8
    assert dirs.summary["written_to_db_count"] == 8
    # a second drain over the same source dedups everything (the
    # sidecar + bits round-tripped through the URI layer)
    dirs2 = _run(
        spark, src, work, str(tmp_path / "ck2"), _mk_events(spark, [])
    )
    assert dirs2.admitted(spark, init).count() == 8


# --------------------------------------------------------------------------
# erase swap recovery (ADVICE r12 #1) + persisted repoint (#2)
# --------------------------------------------------------------------------


def _drain_simple(spark, tmp_path, n=9):
    src = str(tmp_path / "src")
    _stage(_mk_events(spark, [_row(i, i % 3) for i in range(n)]), src)
    return _run(
        spark,
        src,
        str(tmp_path / "w"),
        str(tmp_path / "ck"),
        _mk_events(spark, [_row(900 + i, 10 + i) for i in range(3)]),
    )


def test_erase_swap_recovery_heals_torn_sink_dir(spark, tmp_path):
    from dvh_airflow_kafka_spark.streaming.ingest import (
        _ERASE_TRASH,
        erase_users,
    )

    dirs = _drain_simple(spark, tmp_path)
    init = spark.read.parquet(dirs.initial)
    before = sorted(map(tuple, dirs.admitted(spark, init).collect()))
    # simulate the worst tear: a batch dir renamed into the trash with
    # the replacement never landing (crash between the two renames)
    bdir = sorted(glob.glob(os.path.join(dirs.sink, "b*")))[0]
    tag = os.path.basename(bdir)
    trash = os.path.join(dirs.work_dir, _ERASE_TRASH)
    os.makedirs(trash, exist_ok=True)
    shutil.move(bdir, os.path.join(trash, f"sink__{tag}"))
    assert not os.path.exists(bdir)
    # entry-time recovery restores the original and the erase proceeds
    stats = erase_users(
        spark, dirs, spark.createDataFrame([(1,)], "user_id long")
    )
    assert stats["rows_erased"] == 3
    after = sorted(map(tuple, dirs.admitted(spark, init).collect()))
    assert after == [t for t in before if t[7] != 1]  # user_id col
    assert not os.path.exists(trash)
    # redundant leftover (swap completed, trash not dropped): recovery
    # deletes it instead of clobbering the newer dir (ADVICE r12 #4)
    os.makedirs(os.path.join(trash, f"sink__{tag}"))
    erase_users(spark, dirs, spark.createDataFrame([(1,)], "user_id long"))
    assert not os.path.exists(trash)
    assert sorted(map(tuple, dirs.admitted(spark, init).collect())) == after


def test_erase_swap_torn_inside_swap_heals_at_every_entry(
    spark, tmp_path, monkeypatch
):
    """A ``sink/<tag>`` swap torn through ``HadoopFs.swap`` (the process
    dies after the rename-aside): no reader sees the hidden half, and
    ``erase_users``, ``run_ingest_pipeline`` and ``compact_sink`` each
    heal it on entry."""
    from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs
    from dvh_airflow_kafka_spark.streaming.ingest import (
        _batch_dirs,
        compact_sink,
        erase_users,
    )

    class Crash(Exception):  # not an OSError: no in-process rollback
        pass

    src = str(tmp_path / "src")
    # two source files -> two batches; users 0-2 only in the first
    _mk_events(spark, [_row(i, i % 3) for i in range(9)]).coalesce(1).write.parquet(src)
    time.sleep(1.1)  # the file source orders by modification time
    _mk_events(spark, [_row(20 + i, 5) for i in range(4)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    work, ck = str(tmp_path / "w"), str(tmp_path / "ck")
    initial = _mk_events(spark, [_row(900 + i, 10 + i) for i in range(3)])
    dirs = _run(spark, src, work, ck, initial)
    init = spark.read.parquet(dirs.initial)
    fs = HadoopFs(spark, work)
    first, second = _batch_dirs(fs, dirs.sink)
    before = sorted(map(tuple, dirs.admitted(spark, init).collect()))

    real_rename = HadoopFs.rename

    def crash_on_rename_in(self, s, d):
        if d == first:
            raise Crash()
        real_rename(self, s, d)

    def torn_erase(user):
        monkeypatch.setattr(HadoopFs, "rename", crash_on_rename_in)
        with pytest.raises(Crash):
            erase_users(spark, dirs, spark.createDataFrame([(user,)], "user_id long"))
        monkeypatch.undo()
        assert not fs.exists(first) and fs.exists(fs.aside(first))
        # the half holds rows, yet neither a recursive read of the sink
        # root nor the batch listing sees them
        assert spark.read.parquet(fs.aside(first)).count() > 0
        n_second = spark.read.parquet(second).count()
        sink_rows = spark.read.option("recursiveFileLookup", "true").parquet(
            dirs.sink
        )
        assert sink_rows.count() == n_second
        assert _batch_dirs(fs, dirs.sink) == [second]

    # torn, then healed at erase_users entry; the erase then completes
    torn_erase(1)
    stats = erase_users(spark, dirs, spark.createDataFrame([(1,)], "user_id long"))
    assert stats["rows_erased"] == 3
    after = sorted(map(tuple, dirs.admitted(spark, init).collect()))
    assert after == [t for t in before if t[7] != 1]  # user_id col
    assert not fs.exists(fs.aside(first))

    # torn again, then healed at run_ingest_pipeline start: the resumed
    # drain reads the pre-erase copy of the batch back
    torn_erase(2)
    dirs = _run(spark, src, work, ck, initial)
    assert _batch_dirs(fs, dirs.sink) == [first, second]
    assert not fs.exists(fs.aside(first))
    assert sorted(map(tuple, dirs.admitted(spark, init).collect())) == after

    # torn once more: compact_sink heals it before consolidating, so the
    # consolidated sink keeps the batch's rows
    torn_erase(0)
    assert compact_sink(spark, dirs)["tag"] == os.path.basename(second)
    assert not fs.exists(fs.aside(first))
    assert sorted(map(tuple, dirs.admitted(spark, init).collect())) == after


def test_erasure_persists_across_runs(spark, tmp_path):
    # ADVICE r12 #2: erase, then run a FRESH run_ingest_pipeline on the
    # same work_dir — the new run must read the erased copy-on-write
    # initial, not resurrect the original
    from dvh_airflow_kafka_spark.streaming.ingest import erase_users

    dirs = _drain_simple(spark, tmp_path)
    erased = spark.createDataFrame([(11,)], "user_id long")  # initial-only
    stats = erase_users(spark, dirs, erased)
    assert stats["initial_rows_erased"] == 1
    # second increment, same work_dir, fresh checkpoint
    src2 = str(tmp_path / "src2")
    _stage(_mk_events(spark, [_row(50 + i, 20 + i) for i in range(2)]), src2)
    dirs2 = _run(
        spark,
        src2,
        str(tmp_path / "w"),
        str(tmp_path / "ck2"),
        _mk_events(spark, []),
    )
    init2 = spark.read.parquet(dirs2.initial)
    assert dirs2.initial.endswith("initial_erased")
    assert init2.filter(F.col("user_id") == 11).count() == 0
    assert dirs2.admitted(spark, init2).count() == 9 + 2


# --------------------------------------------------------------------------
# persisted epoch contract (VERDICT r12 item 5)
# --------------------------------------------------------------------------


def test_epoch_offset_contract(spark, tmp_path):
    dirs = _drain_simple(spark, tmp_path)
    ck = str(tmp_path / "ck")
    src = str(tmp_path / "src")
    # resume with the WRONG offset now raises instead of mis-probing
    with pytest.raises(ValueError, match="dirs-below"):
        _run(
            spark, src, dirs.work_dir, ck, _mk_events(spark, []),
            epoch_offset=7,
        )
    # resume with None adopts the stored offset (and dedups everything)
    dirs2 = _run(spark, src, dirs.work_dir, ck, _mk_events(spark, []))
    init = spark.read.parquet(dirs2.initial)
    assert dirs2.admitted(spark, init).count() == 9
    # fresh checkpoint + colliding offset raises
    max_tag = max(
        int(os.path.basename(p)[1:])
        for p in glob.glob(os.path.join(dirs.sink, "b*"))
    )
    with pytest.raises(ValueError, match="collides"):
        _run(
            spark, src, dirs.work_dir, str(tmp_path / "ck3"),
            _mk_events(spark, []), epoch_offset=max_tag,
        )
    # fresh checkpoint + None auto-derives max_tag + 1
    src3 = str(tmp_path / "src3")
    _stage(_mk_events(spark, [_row(70 + i, 30 + i) for i in range(2)]), src3)
    dirs3 = _run(
        spark, src3, dirs.work_dir, str(tmp_path / "ck4"),
        _mk_events(spark, []),
    )
    tags = sorted(
        int(os.path.basename(p)[1:])
        for p in glob.glob(os.path.join(dirs.sink, "b*"))
    )
    assert tags[-1] > max_tag and dirs3.probe_log[0]["batch_id"] > max_tag


# --------------------------------------------------------------------------
# purge_keys: the key-material hygiene arm (VERDICT r12 item 4)
# --------------------------------------------------------------------------


def test_purge_keys_admits_erased_redelivery_keeps_dup_rejection(
    spark, tmp_path
):
    from dvh_airflow_kafka_spark.streaming.ingest import erase_users

    src = str(tmp_path / "src")
    rows = [_row(i, i % 3) for i in range(9)]
    _stage(_mk_events(spark, rows), src)
    work, ck = str(tmp_path / "w"), str(tmp_path / "ck")
    dirs = _run(spark, src, work, ck, _mk_events(spark, []))
    erase_users(
        spark,
        dirs,
        spark.createDataFrame([(1,)], "user_id long"),
        purge_keys=True,
    )
    init = spark.read.parquet(dirs.initial)
    assert dirs.admitted(spark, init).count() == 6
    # probe-superset law survives the purge: the sidecar still covers
    # every key the (erased) sink holds
    sink_keys = set(
        map(
            tuple,
            dirs.admitted(spark, init)
            .select("kafka_topic", "kafka_partition", "kafka_offset")
            .collect(),
        )
    )
    side_keys = set(
        map(
            tuple,
            spark.read.parquet(dirs.sink + "__keys")
            .select("kafka_topic", "kafka_partition", "kafka_offset")
            .collect(),
        )
    )
    assert sink_keys <= side_keys
    # redeliver the erased rows AND one already-present duplicate
    redeliver = [_row(i, i % 3) for i in range(9) if i % 3 == 1]
    dup = [_row(0, 0)]  # user 0, never erased -> must stay rejected
    inc = str(tmp_path / "inc")
    _stage(_mk_events(spark, redeliver + dup), inc)
    time.sleep(1.1)
    for f in glob.glob(inc + "/part-*"):
        shutil.move(f, src + "/zz-" + f.rsplit("/", 1)[1])
    dirs2 = _run(spark, src, work, str(tmp_path / "ck2"), _mk_events(spark, []))
    adm = dirs2.admitted(spark, init)
    # the 3 erased rows re-enter (the purge policy's contract); the
    # non-erased duplicate stays out
    assert adm.count() == 9
    assert adm.filter(F.col("user_id") == 1).count() == 3
    assert adm.filter(F.col("kafka_offset") == 0).count() == 1


def test_purge_keys_without_rebuild_target_raises(spark, tmp_path):
    # shared initial_bits + zero committed batches: no owned frame to
    # rebuild the Bloom gate into -> loud error, not silent staleness
    from dvh_airflow_kafka_spark.streaming.ingest import (
        IngestDirs,
        erase_users,
        stage_initial,
    )

    shared_rows = str(tmp_path / "shared_rows")
    shared_bits = str(tmp_path / "shared_bits")
    stage_initial(
        spark,
        _mk_events(spark, [_row(i, i) for i in range(4)]),
        _empty_lookup(spark),
        [],
        shared_rows,
        shared_bits,
    )
    work = str(tmp_path / "w")
    os.makedirs(work)
    dirs = IngestDirs(work)
    dirs.initial, dirs.initial_bits = shared_rows, shared_bits
    with pytest.raises(ValueError, match="purge_keys"):
        erase_users(
            spark,
            dirs,
            spark.createDataFrame([(1,)], "user_id long"),
            purge_keys=True,
        )


# --------------------------------------------------------------------------
# subscribe-strategy lifecycle twin (VERDICT r12 item 7)
# --------------------------------------------------------------------------


def test_subscribe_lifecycle_multi_epoch_crash_resume(spark, sf_dir, tmp_path):
    """The multi-epoch operating loop certified assign-style by
    ``ingest_lifecycle_capstone`` (staged files, fresh checkpoint +
    ``epoch_offset`` per epoch), re-driven through the OTHER consumer
    strategy: ``run_streaming_pipeline``'s subscribe spine keeps ONE
    checkpoint identity across epochs (the consumer group's committed
    offsets, reference src/kafka_source.py:362-414) and rate-limited
    triggers (``maxFilesPerTrigger=1`` = ``batch-size``).  Laws pinned:

    - epoch B's increment resumes from the SAME checkpoint and reads
      only the new files (ST5/ST1);
    - a crash AFTER epoch B's first batch wrote but BEFORE its epoch
      committed (the worst-case ST4 point) replays on restart and the
      sidecar-probed anti-join absorbs it — zero loss, zero dup;
    - an at-least-once REDELIVERY of epoch-A messages inside epoch B
      stays rejected across both the epoch boundary and a sidecar
      COMPACTION run between the epochs (the lifecycle capstone's
      redelivery law, subscribe-side).
    """
    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.streaming import run_streaming_pipeline
    from dvh_airflow_kafka_spark.streaming.keyindex import SinkKeyIndex

    src = str(tmp_path / "log")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, sf_dir, "events")
    epoch_a = events.filter(F.col("event_id") < 200)
    epoch_b = events.filter(
        (F.col("event_id") >= 200) & (F.col("event_id") < 300)
    )
    n_a, n_b = epoch_a.count(), epoch_b.count()

    # epoch A: 3 files -> 3 rate-limited micro-batches, full drain
    epoch_a.repartition(3).write.parquet(src)
    run_a = run_streaming_pipeline(spark, src, sink, ckpt)
    assert run_a.summary.written_to_db_count == n_a
    assert spark.read.parquet(sink).count() == n_a

    # between epochs: compact the key sidecar (the in-lifecycle
    # maintenance step) — markers and pruning must survive into epoch B
    SinkKeyIndex(
        spark, sink, ("kafka_topic", "kafka_partition", "kafka_offset")
    ).compact()

    # epoch B increment lands in the SAME log: 2 files of new messages
    # plus 1 file REDELIVERING a slice of epoch A (at-least-once)
    time.sleep(1.1)
    inc = str(tmp_path / "inc")
    epoch_b.repartition(2).write.parquet(inc)
    redeliver = str(tmp_path / "redeliver")
    epoch_a.filter(F.col("event_id") < 50).repartition(1).write.parquet(
        redeliver
    )
    for i, f in enumerate(
        glob.glob(inc + "/part-*") + glob.glob(redeliver + "/part-*")
    ):
        shutil.move(f, f"{src}/zz-epoch-b-{i}-{os.path.basename(f)}")

    # crash after the FIRST epoch-B batch wrote but before commit
    with pytest.raises(Exception, match="injected failure"):
        run_streaming_pipeline(spark, src, sink, ckpt, fail_after_batches=1)

    # resume, same checkpoint: replays the uncommitted batch, drains the
    # rest; the redelivered epoch-A slice is rejected by the anti-join
    run_b = run_streaming_pipeline(spark, src, sink, ckpt)
    final = spark.read.parquet(sink)
    assert final.count() == n_a + n_b  # zero loss, zero dup
    assert (
        final.select(
            "kafka_topic", "kafka_partition", "kafka_offset"
        ).distinct().count()
        == n_a + n_b
    )
    # the resumed run terminated on the drained log (ST5) and committed
    # everything it wrote
    assert run_b.summary.written_to_db_count >= n_b
    # a third drain reads nothing: the whole lifecycle is committed
    run_c = run_streaming_pipeline(spark, src, sink, ckpt)
    assert run_c.summary.event_count == 0


def test_sidecar_append_writes_one_file_per_append(spark, tmp_path):
    """``SinkKeyIndex.append`` is one narrow ``coalesce(1)`` write: each
    append adds exactly ONE parquet file to the sidecar, however many
    input partitions the keys frame has — never a per-task sliver
    fan-out."""
    from dvh_airflow_kafka_spark.streaming.keyindex import SinkKeyIndex

    sink = str(tmp_path / "sink")
    kidx = SinkKeyIndex(spark, sink, ["k"])
    keys = spark.range(0, 200).select(F.col("id").alias("k")).repartition(8)

    def n_files() -> int:
        return len([f for f in os.listdir(kidx.path) if f.endswith(".parquet")])

    kidx.append(keys)
    assert n_files() == 1
    kidx.append(keys)
    assert n_files() == 2
    assert kidx.probe(keys).count() == 400  # duplicates cost bytes only


def test_stream_source_schema_cached_per_path(spark, tmp_path):
    """Round-13 optimization law: the stream-source schema helper infers
    once per path (the per-start footer read is gone) and returns the
    real schema; a schema-preserving append does not invalidate it."""
    from dvh_airflow_kafka_spark import io as dio

    src = str(tmp_path / "src")
    spark.range(5).select(F.col("id").alias("a")).write.parquet(src)
    s1 = dio.stream_source_schema(spark, src)
    assert [f.name for f in s1.fields] == ["a"]
    # second call must be a cache hit (no Spark read): poison the reader
    # to prove the path is not re-inferred
    import pyspark.sql.readwriter as rw

    orig = rw.DataFrameReader.parquet
    def boom(self, *p):  # pragma: no cover - would fail the test if hit
        raise AssertionError("schema re-inferred despite cache")
    rw.DataFrameReader.parquet = boom
    try:
        s2 = dio.stream_source_schema(spark, src)
    finally:
        rw.DataFrameReader.parquet = orig
    assert s2 is s1
    dio._STREAM_SCHEMA_CACHE.pop(src, None)


def test_load_table_schema_cached_per_path(spark):
    """Round-13 optimization law: ``load_table`` reads the immutable
    testdata tables with a cached raw schema — the per-call driver-side
    footer-inference job is gone — and the cached-read frame is
    row-identical to a fresh inferred read.  Mutable-path reads
    (``load_parquet`` without ``cache_schema``) must NOT populate or
    consult the cache."""
    import pyspark.sql.readwriter as rw

    from dvh_airflow_kafka_spark import io as dio

    sf_dir = "/root/testdata/sf0.001"
    path = f"{sf_dir}/region.parquet"
    dio._TABLE_SCHEMA_CACHE.pop(path, None)
    fresh = dio.load_table(spark, sf_dir, "region")
    assert path in dio._TABLE_SCHEMA_CACHE
    # second call must route through DataFrameReader.schema(...) with
    # the cached StructType (no inference): spy on it to prove it
    seen = {}
    orig_schema = rw.DataFrameReader.schema

    def spy_schema(self, s):
        seen["schema"] = s
        return orig_schema(self, s)

    rw.DataFrameReader.schema = spy_schema
    try:
        cached = dio.load_table(spark, sf_dir, "region")
    finally:
        rw.DataFrameReader.schema = orig_schema
    assert seen.get("schema") is dio._TABLE_SCHEMA_CACHE[path]
    assert cached.schema == fresh.schema
    assert sorted(map(tuple, cached.collect())) == sorted(
        map(tuple, fresh.collect())
    )
    # mutable-path reads stay cache-free
    before = set(dio._TABLE_SCHEMA_CACHE)
    dio.load_parquet(spark, path)
    assert set(dio._TABLE_SCHEMA_CACHE) == before
