"""Lake-maintenance operators: small-file compaction and keyed
merge/upsert on parquet paths.

Any streaming or frequently-appending pipeline (the reference appends a
batch per poll; this engine's streaming spine appends a file per
micro-batch) accretes small files, and small files are the quiet killer
at 100 TB — a scan pays per-file open/footer costs and the driver pays
per-file listing, so a million 1 MB files can cost more than the data
read. These two operators are the standard maintenance pair a lake table
needs between appends.

No table format (Delta/Iceberg) ships in this environment, so every
rewrite here writes to the side and replaces the directory with the one
rename-aside swap of ``streaming/fsio`` (``HadoopFs.swap``; each
operator first runs ``HadoopFs.recover``, so a rewrite interrupted
between the renames degrades to "the rewrite didn't happen", never to a
vanished table).  On a real deployment the same call shapes map onto
``OPTIMIZE`` / ``MERGE INTO`` / ``DELETE WHERE``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs


def _rewrite(spark: SparkSession, out: DataFrame, path: str) -> None:
    """Write ``out`` beside ``path`` and swap it in."""
    fs = HadoopFs(spark, path)
    tmp_out = fs.staging(path)
    out.write.mode("overwrite").parquet(tmp_out)
    fs.swap(tmp_out, path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~``target_file_bytes`` files.

    Sizes from the on-disk bytes (not row counts, which mis-size wide vs
    narrow rows). ``sort_within_by`` re-sorts rows inside each output
    file while writing — restoring scan locality (min/max row-group
    pruning) that interleaved appends destroyed. Returns the number of
    files written.
    """
    fs = HadoopFs(spark, path)
    fs.recover(path)
    total = fs.total_bytes(path)
    n_files = max(1, -(-total // target_file_bytes))  # ceil
    df = spark.read.parquet(path)
    out = df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    _rewrite(spark, out, path)
    return n_files


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    version_col: str | None = None,
) -> None:
    """Keyed upsert into a parquet path: rows whose key matches an update
    are replaced, new keys are appended, untouched rows are preserved —
    ``MERGE INTO … WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT`` on a
    format without transaction support.

    Plan shape: one left-anti join of target against the (deduplicated)
    update keys, then a union — the target is scanned once. The anti-join
    broadcasts whenever the update batch is dimension-sized (the common
    CDC case); a bucketed target (io.write_bucketed) makes it
    shuffle-free on the target side.

    Duplicate-key updates pick a DETERMINISTIC survivor: the row with the
    greatest ``version_col`` (CDC last-write-wins; pass the batch's
    sequence/timestamp column), ties and the no-version case broken by
    every remaining column descending — never ``dropDuplicates``, whose
    survivor depends on partition order and varies run to run.
    """
    HadoopFs(spark, target_path).recover(target_path)
    order_cols = [version_col] if version_col else []
    order_cols += [c for c in updates.columns if c not in keys and c != version_col]
    if order_cols:
        w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc_nulls_last() for c in order_cols])
        last = (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:  # key-only frame: any duplicate is identical
        last = updates.dropDuplicates(keys)
    target = spark.read.parquet(target_path)
    kept = target.join(last.select(*keys), on=keys, how="left_anti")
    merged = kept.unionByName(last.select(*target.columns))
    _rewrite(spark, merged, target_path)


def file_stats(path: str) -> dict:
    """(n_files, total_bytes, min/max file bytes) for a parquet dir —
    the before/after evidence for compaction.  Listed through the
    active session's Hadoop FS, so it sees the same files on any store
    ``compact_parquet`` sizes from."""
    sizes = [n for _, n in HadoopFs(SparkSession.active(), path).data_files(path)]
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "min_bytes": min(sizes) if sizes else 0,
        "max_bytes": max(sizes) if sizes else 0,
    }


def interleave_bits(cols: list, bits: int = 16):
    """Morton/Z-value of already-bucketed non-negative ints: bit i of
    column j lands at position ``i*len(cols)+j``. Pure shift/or codegen —
    ``bits*len(cols)`` terms, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftrightunsigned(c.cast("long"), i).bitwiseAND(
                        F.lit(1).cast("long")
                    ),
                    i * len(cols) + j,
                )
            )
    return z


def zorder_layout(
    spark: SparkSession,
    path: str,
    cols: list[str],
    *,
    bits: int = 16,
    n_files: int | None = None,
) -> None:
    """Rewrite a parquet directory clustered on the Z-order curve of
    ``cols`` — the data-skipping layout: after the rewrite, every file
    covers a narrow range of EACH clustering column simultaneously, so
    parquet min/max footer stats prune files/row-groups for predicates
    on ANY of the columns (a plain sort only skips on its leading
    column).

    Plan shape: a 1-row min/max aggregate per column (broadcast scalar,
    the documented O(n·1) pattern) normalises each column into a
    ``bits``-bit bucket; the Morton interleave is pure codegen; then ONE
    range shuffle on the z-value with a sort-within-partition. At 100 TB
    that is the same cost as any global sort-rewrite — one pass, one
    exchange — and the range partitioner keeps output files evenly
    sized regardless of key skew."""
    HadoopFs(spark, path).recover(path)
    df = spark.read.parquet(path)
    mm = df.agg(
        *[F.min(c).cast("double").alias(f"__mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"__mx_{c}") for c in cols],
    )
    scale = (1 << bits) - 1
    with_mm = df.crossJoin(F.broadcast(mm))
    buckets = [
        F.when(
            F.col(f"__mx_{c}") > F.col(f"__mn_{c}"),
            F.floor(
                (F.col(c).cast("double") - F.col(f"__mn_{c}"))
                / (F.col(f"__mx_{c}") - F.col(f"__mn_{c}"))
                * scale
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        for c in cols
    ]
    z = with_mm.withColumn("__z", interleave_bits(buckets, bits))
    n = n_files or max(1, spark.sparkContext.defaultParallelism)
    out = (
        z.repartitionByRange(n, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__mn_{c}" for c in cols], *[f"__mx_{c}" for c in cols])
    )
    _rewrite(spark, out, path)


def column_range_stats(path: str, cols: list[str]) -> dict:
    """Per-file min/max footer stats for ``cols`` — the evidence that a
    layout clusters: sum over files of (file range / global range) per
    column. 1.0·n_files means every file spans the whole domain (no
    skipping possible); values near 1.0 total mean near-perfect
    clustering. Lists the files through the active session's Hadoop FS
    (a missing ``path`` raises) and reads only their footers, through
    the pyarrow filesystem of ``path``'s URI."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq
    from pyarrow.fs import FileSystem

    hfs = HadoopFs(SparkSession.active(), path)
    if not hfs.exists(path):
        raise FileNotFoundError(path)
    pafs, _ = FileSystem.from_uri(path)
    per_file: dict[str, list[tuple[float, float]]] = {c: [] for c in cols}
    for file, _ in hfs.data_files(path):
        fs_path = urlparse(file).path if "://" in file else file
        md = pq.read_metadata(fs_path, filesystem=pafs)
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for c in cols:
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or st.min is None:
                    continue
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                per_file[c].append((float(lo), float(hi)))
    out = {}
    for c, ranges in per_file.items():
        if not ranges:
            out[c] = {"n_files": 0, "relative_coverage": 0.0}
            continue
        glo = min(r[0] for r in ranges)
        ghi = max(r[1] for r in ranges)
        width = (ghi - glo) or 1.0
        out[c] = {
            "n_files": len(ranges),
            "relative_coverage": sum((hi - lo) / width for lo, hi in ranges),
        }
    return out


def delete_where(
    spark: SparkSession,
    path: str,
    predicate,
) -> tuple[int, int]:
    """Hard-delete every row matching ``predicate`` from a parquet path —
    the right-to-be-forgotten primitive the reference's kode-6/7 duty
    implies but its insert-only sink cannot express. Rewrites the
    surviving rows to the side and swaps atomically (same protocol as
    compaction; on Delta/Iceberg this maps to ``DELETE WHERE``).
    Returns (rows_before, rows_deleted).

    At 100 TB the rewrite cost is one scan + one write of survivors; on
    a date/bucket-partitioned layout only the partitions that can match
    need rewriting (partition-prune the predicate first) — pair with
    ``zorder_layout``/``write_bucketed`` so erasure targets stay
    clustered in few files."""
    HadoopFs(spark, path).recover(path)
    df = spark.read.parquet(path)
    total = df.count()
    keep = df.filter(~predicate | predicate.isNull())
    kept = keep.count()
    _rewrite(spark, keep, path)
    return total, total - kept
