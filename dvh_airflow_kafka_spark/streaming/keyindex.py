"""Bounded dedup probe for streaming sinks (ST3/J1 at scale).

The reference's NOT-EXISTS dedup is evaluated by Oracle against an
indexed table — O(batch · log sink) per batch (reference
src/oracle_target.py:97-104). A parquet sink has no index, and re-reading
the whole sink every micro-batch is O(sink) work per batch — unbounded
growth as the sink accretes, the classic streaming scale-killer. This
module maintains the missing index: a flat keys-only parquet sidecar of
the sink's dedup keys. A batch's probe reads only the key columns
(column pruning) of a sidecar whose file count compaction bounds, so
per-batch probe cost is independent of the sink's payload width and of
how many batches have run.

Why flat and not hash-bucketed: splitting the sidecar into n hash
buckets would let a probe skip the buckets none of its keys hash into,
but a batch of b distinct keys leaves on average only n·e^(−b/n) of the
n buckets untouched — ≈0 once b is a few times n (16 buckets against a
micro-batch of ~1,800 keys, or the reference's 5,000-row batches). The
pruned probe would read the whole sidecar anyway, while every append
paid an n-way exchange, n writer tasks and n files. So an append is one
narrow ``coalesce(1)`` write — one file, no exchange — and the probe
returns the whole sidecar.

The file bound comes from compaction: :meth:`SinkKeyIndex.compact`
rewrites the sidecar to ONE file of distinct keys, so a drain that
compacts every c batches probes at most c + 1 files per batch.

Crash-correctness — the sidecar is advisory; the *sink* stays the source
of truth. Per epoch the order is: attempt-marker → probe → sink append →
sidecar append → (Spark commits the epoch). The dangerous window is a
crash after the sink append but before the sidecar append: a pure-sidecar
probe on replay would miss those keys and duplicate them. The attempt
marker closes it: a batch whose ``_attempted_<epoch>`` marker already
exists is a RE-attempt (a prior try may have reached the sink), and
probes the full sink for that one batch instead. So the rare crash-replay
batch is O(sink) and every normal batch reads only the keys-only sidecar
— the same amortized contract as the reference's indexed NOT EXISTS.

The sidecar tolerates duplicate keys (replays may append a key twice);
the anti-join deduplicates the probe side, so duplicates cost bytes, not
correctness; compaction drops them. Compaction carries the epoch and
seed markers over.

A sidecar written by the earlier bucketed layout (``__kidx_bucket=<n>``
partition dirs) is flattened once when it is opened: a parquet read of
bucket dirs plus flat files at the root silently drops the flat files'
rows, which would admit duplicates.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

# partition-dir prefix of the earlier hash-bucketed sidecar layout; read
# only to flatten such a sidecar when it is opened
_LEGACY_BUCKET_PREFIX = "__kidx_bucket="


class _Fs:
    """Thin wrapper over the Hadoop FileSystem API for the sidecar's
    marker/listing/rename bookkeeping. The sink and index data already go
    through Spark; driving the metadata ops through
    ``Path.getFileSystem`` makes the crash-replay machinery work on any
    store the deployment writes to (HDFS, S3A, local ``file://``) instead
    of silently no-opping off-box — on a driver-local ``os.*`` view of an
    object store the markers would never exist and every probe would
    degrade to "no index"."""

    def __init__(self, spark: SparkSession, base: str) -> None:
        jvm = spark._jvm
        self._jpath = jvm.org.apache.hadoop.fs.Path
        self._base = self._jpath(base)
        self._fs = self._base.getFileSystem(spark._jsc.hadoopConfiguration())

    def child(self, name: str):
        return self._jpath(self._base, name)

    def exists(self, path=None) -> bool:
        return self._fs.exists(path if path is not None else self._base)

    def mkdirs(self) -> None:
        self._fs.mkdirs(self._base)

    def touch(self, path) -> bool:
        return self._fs.createNewFile(path)

    def names(self) -> list[str]:
        if not self.exists():
            return []
        return [s.getPath().getName() for s in self._fs.listStatus(self._base)]

    def sibling_names(self) -> list[str]:
        """Entries next to the base dir (used to find orphaned swap
        halves after a crash mid-compaction)."""
        parent = self._base.getParent()
        if parent is None or not self._fs.exists(parent):
            return []
        return [s.getPath().getName() for s in self._fs.listStatus(parent)]

    def rename_sibling_to_base(self, name: str) -> bool:
        parent = self._base.getParent()
        return self._fs.rename(self._jpath(parent, name), self._base)

    def rename_to(self, dst: "_Fs") -> bool:
        return self._fs.rename(self._base, dst._base)

    def delete(self) -> None:
        self._fs.delete(self._base, True)


class SinkKeyIndex:
    """Flat keys-only sidecar of a parquet sink's dedup keys, living at
    ``<sink>__keys``."""

    def __init__(
        self,
        spark: SparkSession,
        sink_path: str,
        keys: Sequence[str],
    ) -> None:
        self.spark = spark
        self.path = sink_path.rstrip("/") + "__keys"
        self.keys = list(keys)
        self._fs = _Fs(spark, self.path)
        # sidecar schema is fixed after the first write (the key
        # columns); cache it so per-batch probes skip the driver-side
        # footer-inference pass (guide §6)
        self._schema = None
        self._flatten_legacy_layout()

    def _flatten_legacy_layout(self) -> None:
        """Convert a sidecar written by the earlier hash-bucketed layout
        (``__kidx_bucket=<n>`` dirs) to the flat one, once, before any
        probe or append: a read over bucket dirs plus flat files at the
        root drops the flat files' rows, and those missing keys would be
        admitted as new. ``compact`` does the rewrite (it reads the key
        columns only, so the bucket column falls away)."""
        self._recover_interrupted_swap()
        if any(n.startswith(_LEGACY_BUCKET_PREFIX) for n in self._fs.names()):
            self.compact()

    def _recover_interrupted_swap(self) -> None:
        """Close the compaction crash window: ``compact`` swaps with
        rename-aside → rename-in, and a crash BETWEEN the renames leaves
        no base dir while the old index sits in a ``.__old_*`` sibling.
        Without recovery the next probe would see "no index", skip the
        sink probe, and silently admit duplicates — so before any epoch
        work, if the base is missing but a swap half exists, restore it
        (the conservative choice: the old pre-compaction index is always
        a correct superset probe)."""
        if self._fs.exists():
            return
        base_name = self.path.rstrip("/").rsplit("/", 1)[-1]
        orphans = sorted(
            n
            for n in self._fs.sibling_names()
            if n.startswith(f"{base_name}.__old_")
        )
        if orphans:
            self._fs.rename_sibling_to_base(orphans[0])

    def seed(self, keys: DataFrame) -> None:
        """Idempotently seed the sidecar with a pre-existing sink's keys
        (e.g. the ingest pipeline's initial sink), once per sidecar.
        Marker-protected: key data present WITHOUT the ``_seeded``
        marker means a crash tore a previous seed — since seeding
        precedes the first epoch, no batch keys can exist yet and the
        sidecar is safe to wipe and rebuild.  After the marker exists
        the sidecar is never wiped (``compact`` carries the marker
        over)."""
        self._recover_interrupted_swap()
        marker = self._fs.child("_seeded")
        if self._fs.exists() and self._fs.exists(marker):
            return
        if self._fs.exists():
            self._fs.delete()
        self.append(keys)
        self._fs.mkdirs()
        self._fs.touch(marker)

    def begin_epoch(self, epoch_id: int) -> bool:
        """Record that this epoch is being attempted. Returns True when a
        prior attempt exists — the caller must then probe the sink itself
        (the prior attempt may have appended to the sink without reaching
        the sidecar append)."""
        self._recover_interrupted_swap()
        self._fs.mkdirs()
        marker = self._fs.child(f"_attempted_{epoch_id}")
        if self._fs.exists(marker):
            return True
        self._fs.touch(marker)
        return False

    def has_data(self) -> bool:
        """Whether the sidecar holds key files yet. Markers and
        ``_SUCCESS`` are ``_``-prefixed, so any other entry is data, as
        is a legacy bucket dir."""
        return any(
            n.startswith(_LEGACY_BUCKET_PREFIX) or not n.startswith(("_", "."))
            for n in self._fs.names()
        )

    def _read(self) -> DataFrame:
        if self._schema is None:
            self._schema = (
                self.spark.read.parquet(self.path).select(*self.keys).schema
            )
        return (
            self.spark.read.schema(self._schema)
            .parquet(self.path)
            .select(*self.keys)
        )

    def probe(self, batch: DataFrame) -> Optional[DataFrame]:
        """Existing-keys frame for ``batch``'s anti-join, or None when the
        index holds no data. It is the whole sidecar, column-pruned to
        the key columns: with no bucket layout there is nothing to prune
        by ``batch``'s keys, and, once the key schema is cached, building
        the frame runs no job."""
        if not self.has_data():
            return None
        return self._read()

    def append(self, fresh: DataFrame) -> None:
        """Append the just-written rows' keys as ONE file: a narrow
        ``coalesce(1)``, no exchange, one writer task. The sidecar gains
        one file per append; ``compact`` folds them back to one."""
        (
            fresh.select(*self.keys)
            .coalesce(1)
            .write.mode("append")
            .parquet(self.path)
        )

    def compact(self, purge: Optional[DataFrame] = None) -> None:
        """Rewrite the sidecar to ONE file of distinct keys, keeping the
        ``_attempted_*`` / ``_seeded`` markers (crash-replay detection /
        seed idempotence). Safe between drains or from inside a
        ``foreachBatch`` body (batches are sequential; the swap is
        rename-based with crash recovery in ``begin_epoch``) — not
        concurrently with another writer of the same sidecar.

        ``purge`` (round 13, the GDPR key-material hygiene arm of
        ``ingest.erase_users(purge_keys=True)``): a keys frame to
        SUBTRACT during the rewrite — the compacted sidecar drops those
        keys entirely, so content-derived key material (e.g. a
        ``kafka_hash`` key column) does not survive erasure.  The probe
        stays a superset of the (erased) sink's keys because the erased
        rows are gone from the sink too; a re-delivered erased message
        is then ADMITTED by design — the caller chooses that policy."""
        import uuid

        self._recover_interrupted_swap()
        # clear stale swap halves from an earlier interrupted compaction
        base_name = self.path.rstrip("/").rsplit("/", 1)[-1]
        for n in self._fs.sibling_names():
            if n.startswith(f"{base_name}.__compact_") or n.startswith(
                f"{base_name}.__old_"
            ):
                _Fs(self.spark, f"{self.path.rsplit('/', 1)[0]}/{n}").delete()
        if not self.has_data():
            return
        idx = self._read().distinct()
        if purge is not None:
            idx = idx.join(
                purge.select(*self.keys).distinct(), self.keys, "anti"
            )
        tmp = _Fs(self.spark, f"{self.path}.__compact_{uuid.uuid4().hex[:8]}")
        idx.coalesce(1).write.mode("overwrite").parquet(tmp._base.toString())
        # carry the epoch + seed markers over: losing ``_attempted_``
        # would blind crash-replay detection; losing ``_seeded`` would
        # make the next ``seed()`` call wipe the (batch-key-bearing!)
        # sidecar and rebuild it initial-keys-only — silent duplicates
        for entry in self._fs.names():
            if entry.startswith("_attempted_") or entry == "_seeded":
                tmp.touch(tmp.child(entry))
        trash = _Fs(self.spark, f"{self.path}.__old_{uuid.uuid4().hex[:8]}")
        self._fs.rename_to(trash)
        tmp.rename_to(self._fs)
        trash.delete()
