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
seed markers over.  Its rename swap is ``streaming/fsio``'s one
``HadoopFs.swap``, and every entry point (``seed``, ``begin_epoch``,
opening the sidecar) first runs ``HadoopFs.recover``: a crash between
the swap's renames would otherwise leave no sidecar, and a probe of
"no index" would admit duplicates.  All marker, listing and rename
bookkeeping goes through the same FS boundary, so it works on whatever
store the sink lives on.

A sidecar written by the earlier bucketed layout (``__kidx_bucket=<n>``
partition dirs) is flattened once when it is opened: a parquet read of
bucket dirs plus flat files at the root silently drops the flat files'
rows, which would admit duplicates.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs

# partition-dir prefix of the earlier hash-bucketed sidecar layout; read
# only to flatten such a sidecar when it is opened
_LEGACY_BUCKET_PREFIX = "__kidx_bucket="


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
        self._fs = HadoopFs(spark, self.path)
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
        self._fs.recover(self.path)
        if any(
            n.startswith(_LEGACY_BUCKET_PREFIX)
            for n in self._fs.list_names(self.path)
        ):
            self.compact()

    def seed(self, keys: DataFrame) -> None:
        """Idempotently seed the sidecar with a pre-existing sink's keys
        (e.g. the ingest pipeline's initial sink), once per sidecar.
        Marker-protected: key data present WITHOUT the ``_seeded``
        marker means a crash tore a previous seed — since seeding
        precedes the first epoch, no batch keys can exist yet and the
        sidecar is safe to wipe and rebuild.  After the marker exists
        the sidecar is never wiped (``compact`` carries the marker
        over)."""
        self._fs.recover(self.path)
        marker = f"{self.path}/_seeded"
        if self._fs.exists(marker):
            return
        self._fs.delete(self.path)
        self.append(keys)
        self._fs.mkdirs(self.path)
        self._fs.touch(marker)

    def begin_epoch(self, epoch_id: int) -> bool:
        """Record that this epoch is being attempted. Returns True when a
        prior attempt exists — the caller must then probe the sink itself
        (the prior attempt may have appended to the sink without reaching
        the sidecar append)."""
        self._fs.recover(self.path)
        self._fs.mkdirs(self.path)
        marker = f"{self.path}/_attempted_{epoch_id}"
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
            for n in self._fs.list_names(self.path)
        )

    def stored_keys(self) -> Optional[DataFrame]:
        """Every key the sidecar holds (duplicates included), or None
        when it holds none.  The one read of the sidecar: it is
        column-pruned to the key columns, and, once the key schema is
        cached, building the frame runs no job."""
        if not self.has_data():
            return None
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
        index holds no data. It is the whole sidecar (``stored_keys``):
        with no bucket layout there is nothing to prune by ``batch``'s
        keys."""
        return self.stored_keys()

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
        stored = self.stored_keys()
        if stored is None:
            return
        idx = stored.distinct()
        if purge is not None:
            idx = idx.join(
                purge.select(*self.keys).distinct(), self.keys, "anti"
            )
        tmp = self._fs.staging(self.path)
        idx.coalesce(1).write.mode("overwrite").parquet(tmp)
        # carry the epoch + seed markers over: losing ``_attempted_``
        # would blind crash-replay detection; losing ``_seeded`` would
        # make the next ``seed()`` call wipe the (batch-key-bearing!)
        # sidecar and rebuild it initial-keys-only — silent duplicates
        for entry in self._fs.list_names(self.path):
            if entry.startswith("_attempted_") or entry == "_seeded":
                self._fs.touch(f"{tmp}/{entry}")
        self._fs.swap(tmp, self.path)
