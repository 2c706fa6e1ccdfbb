"""The package's one Hadoop FileSystem boundary, and its one swap.

Every driver-side metadata operation — exists, list, rename, delete,
marker files, data-file sizes — goes through :class:`HadoopFs`, which
resolves the filesystem from the path's scheme (``file://``,
``hdfs://``, ``s3a://``…).  Driver-local ``os``/``glob``/``shutil`` calls
would see a different filesystem on a real deployment: markers would
never exist where the executors look, and every "atomic" swap would be
a local-disk fiction.

The reference makes each batch atomic with one Oracle commit
(src/oracle_target.py:83-123).  A parquet directory gets the same
effect from a rename-aside swap plus recovery, :meth:`HadoopFs.swap` /
:meth:`HadoopFs.recover`, used by every rewrite-in-place: the
maintenance operators, the key sidecar's compaction and erasure.
Invariants:

1. ``swap(new, dst)`` first recovers ``dst``, so the aside-half a
   completed swap left behind is cleared before the next one starts:
   at any crash point at most one half of a ``dst`` exists.
2. The aside-half is the ``.``-prefixed sibling ``.<name>.__old``
   (:meth:`HadoopFs.aside`), and a replacement is written to the
   ``.``-prefixed sibling :meth:`HadoopFs.staging` before it is swapped
   in.  Spark listings, ``has_data`` and batch-dir listings skip
   ``.``-prefixed names, so neither is read as data — which matters
   where ``dst`` sits inside a data root (erasure swaps ``sink/<tag>``).
3. A rename-in that fails (``OSError``) rolls the half back in process.
   Any other failure is treated as a crash and left for ``recover``.

``recover(dst)``: when ``dst`` exists its halves are leftovers and are
deleted; when it is missing, its one half is restored.  Two candidate
halves for a missing ``dst`` raise instead of guessing which is
newest: only the earlier ``<name>.__old_<hex>`` protocol, whose swap
never cleared a completed swap's leftover, can leave that state, and
recovery still accepts that visible name so tears on disk from it heal.

``compact_sink``'s five-root marker protocol (``streaming/ingest.py``)
is deliberately a second protocol: it is all-or-nothing across roots,
which a per-directory swap cannot express.

Atomic-rename contract: directory rename is atomic on HDFS-semantics
stores (HDFS, local file://, ABFS, GCS connector); on S3A it is a
non-atomic copy+delete.  The swap stays CRASH-CONSISTENT there too —
a torn copy is healed by recovery, not read — but the single-writer
assumption becomes load-bearing: two concurrent writers on raw S3
could interleave inside a swap.  Deployments there should front the
sink with a rename-atomic layer.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import SparkSession


def _split(path: str) -> tuple[str, str]:
    parent, name = posixpath.split(path.rstrip("/"))
    return parent or ".", name


class HadoopFs:
    """String-path facade over ``org.apache.hadoop.fs.FileSystem``.

    One instance binds the filesystem of ``anchor``'s scheme; every
    method takes plain path strings (absolute paths or URIs).  Local
    ``file://`` paths are normalized back to plain ``/…`` strings so
    the returned values stay byte-comparable with caller-built
    ``os.path.join`` paths."""

    def __init__(self, spark: SparkSession, anchor: str) -> None:
        jvm = spark._jvm
        self._jvm = jvm
        self._jpath = jvm.org.apache.hadoop.fs.Path
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._jpath(anchor).getFileSystem(self._conf)

    def _p(self, path: str):
        return self._jpath(path)

    def _str(self, jp) -> str:
        uri = jp.toUri()
        if uri.getScheme() in (None, "file"):
            return uri.getPath()
        return jp.toString()

    # -- predicates ------------------------------------------------------
    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def is_dir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p)) and bool(
            self._fs.getFileStatus(p).isDirectory()
        )

    def has_data(self, path: str) -> bool:
        """Whether ``path`` holds data yet: it exists and lists an entry
        that is not hidden (``_``/``.``-prefixed, such as the
        ``_temporary`` a failed first write leaves). This is the one
        test for "first load": callers read the path only when it holds
        True and let every read error raise — an unreadable sink taken
        for an empty one would let dedup-on-insert admit duplicates."""
        return any(not n.startswith(("_", ".")) for n in self.list_names(path))

    # -- mutation --------------------------------------------------------
    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def touch(self, path: str) -> bool:
        """Create an empty marker file; False if it already existed."""
        return bool(self._fs.createNewFile(self._p(path)))

    def rename(self, src: str, dst: str) -> None:
        """Atomic move (on HDFS-semantics stores).  The destination must
        NOT exist: unlike POSIX ``os.rename``, Hadoop moves ``src``
        INSIDE an existing directory, so an existing one raises instead
        of nesting silently."""
        if self._fs.exists(self._p(dst)):
            raise FileExistsError(f"rename destination exists: {dst}")
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def delete(self, path: str) -> None:
        """Recursive delete; missing paths are a no-op."""
        self._fs.delete(self._p(path), True)

    # -- the rename-aside swap -------------------------------------------
    @staticmethod
    def aside(dst: str) -> str:
        """Where ``swap`` parks the old ``dst`` between its renames."""
        parent, name = _split(dst)
        return posixpath.join(parent, f".{name}.__old")

    @staticmethod
    def staging(dst: str) -> str:
        """Where a replacement for ``dst`` is written before ``swap``
        moves it in.  One fixed name per ``dst``: write it with
        ``mode("overwrite")`` and a crashed write's leftover is replaced
        by the next one."""
        parent, name = _split(dst)
        return posixpath.join(parent, f".{name}.__new")

    def swap(self, new: str, dst: str) -> None:
        """Replace ``dst`` (which may be absent) with ``new``: recover
        ``dst``, rename it aside, rename ``new`` in, delete the aside
        half.  See the module docstring for the invariants."""
        self.recover(dst)
        half = self.aside(dst)
        moved = self.exists(dst)
        if moved:
            self.rename(dst, half)
        try:
            self.rename(new, dst)
        except OSError:
            if moved:
                self.rename(half, dst)
            raise
        self.delete(half)

    def recover(self, dst: str) -> bool:
        """Heal ``dst`` after a crash inside ``swap``; True when a half
        was restored.  Raises when ``dst`` is missing and more than one
        half could be its last copy."""
        parent, name = _split(dst)
        halves = [
            posixpath.join(parent, n)
            for n in self.list_names(parent)
            if n == f".{name}.__old" or n.startswith(f"{name}.__old_")
        ]
        if not halves:
            return False
        if self.exists(dst):
            for half in halves:
                self.delete(half)
            return False
        if len(halves) > 1:
            raise RuntimeError(
                f"{dst} is missing and {len(halves)} swap halves could be "
                f"its last copy ({sorted(halves)}); restore one by hand"
            )
        self.rename(halves[0], dst)
        return True

    def torn_swaps(self, root: str) -> list[str]:
        """The ``dst`` paths directly under ``root`` that have an
        aside-half (pass each to ``recover``)."""
        return [
            posixpath.join(root, n[1 : -len(".__old")])
            for n in self.list_names(root)
            if n.startswith(".") and n.endswith(".__old")
        ]

    # -- listing ---------------------------------------------------------
    def list_names(self, path: str) -> list[str]:
        """Child entry names of a directory; [] when it doesn't exist."""
        p = self._p(path)
        if not self._fs.exists(p):
            return []
        return [s.getPath().getName() for s in self._fs.listStatus(p)]

    def list_children(self, path: str) -> list[tuple[str, str]]:
        """Sorted ``(name, full_path)`` child entries; [] when missing."""
        p = self._p(path)
        if not self._fs.exists(p):
            return []
        out = [
            (s.getPath().getName(), self._str(s.getPath()))
            for s in self._fs.listStatus(p)
        ]
        out.sort()
        return out

    def data_files(self, path: str) -> list[tuple[str, int]]:
        """``(path, byte size)`` of the parquet files under ``path``,
        recursively (footer-exact lengths); [] when ``path`` is
        missing."""
        p = self._p(path)
        if not self._fs.exists(p):
            return []
        files = []
        it = self._fs.listFiles(p, True)
        while it.hasNext():
            st = it.next()
            if st.getPath().getName().endswith(".parquet"):
                files.append((self._str(st.getPath()), st.getLen()))
        return files

    def total_bytes(self, path: str) -> int:
        return sum(size for _, size in self.data_files(path))

    # -- small control files (markers carrying JSON payloads) -------------
    def write_text(self, path: str, text: str) -> None:
        out = self._fs.create(self._p(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, path: str) -> str:
        inp = self._fs.open(self._p(path))
        try:
            buf = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                inp, buf, self._conf, False
            )
            return buf.toString("UTF-8")
        finally:
            inp.close()
