"""Landed-table maintenance — the OPTIMIZE half of running a 100 TB
lakehouse without a table format.

Every long-lived pipeline table here (landed corpus stages, chunk
tables, shard exports) accretes small files: each AQE-sized task,
each incremental append writes its own parquet part.  At scale, scan cost is dominated by file-open
overhead once parts drop below ~tens of MB — the classic small-file
problem.  ``compact_table`` rewrites a table's parts toward a target
file size with a staged, verified, two-rename publish.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession


def _parquet_bytes(table_dir: str) -> tuple[int, int]:
    """(total_bytes, n_files) over data parts (``_``-prefixed metadata
    like _SUCCESS excluded, matching Spark's own reader rule)."""
    total = 0
    n = 0
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            if f.startswith("_") or f.startswith("."):
                continue
            total += os.path.getsize(os.path.join(root, f))
            n += 1
    return total, n


def compact_table(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 << 20,
    partition_cols: tuple = (),
) -> dict:
    """Rewrite a landed parquet table's small parts into
    ``ceil(total_bytes / target_file_bytes)`` files (unpartitioned) or
    one file per partition value (partitioned), then atomically swap
    the rewritten table in.  Returns
    ``{files_before, files_after, bytes, rows}``.

    Safety contract:
      - the rewrite lands in ``<dir>.__compact_tmp`` and is COUNTED
        against the source before any rename — a failed or partial
        rewrite never touches the live table
      - the swap is two directory renames (brief non-atomic window;
        fine for the stopped-writer maintenance window this is for —
        an object-store deployment publishes to a fresh path and flips
        a pointer instead, same staging discipline)
      - data is byte-identical rows, only file layout changes

    Partitioned tables (``partition_cols``): rows hash to their
    partition value, so each partition value compacts to ONE file —
    the common OPTIMIZE outcome for date/lang-style partitions.  A
    single partition bigger than ``target_file_bytes`` stays one file;
    splitting giant partitions needs per-partition size accounting
    (deliberately out of scope — partition such tables finer instead).

    Scale shape: one scan + one exchange (round-robin for the
    unpartitioned sizing, hash(partition_cols) otherwise) + the write.
    Sizing uses ON-DISK bytes (compressed), the standard heuristic —
    output files land near the target, not exactly on it.
    """
    if not os.path.isdir(table_dir):
        raise ValueError(f"compact_table: no such table dir {table_dir}")
    if target_file_bytes < 1:
        raise ValueError("compact_table: target_file_bytes must be >= 1")

    total, files_before = _parquet_bytes(table_dir)
    if files_before == 0:
        raise ValueError(f"compact_table: {table_dir} has no data files")

    df = spark.read.parquet(table_dir)
    rows_before = df.count()

    tmp = table_dir.rstrip("/") + ".__compact_tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)  # leftover from a failed earlier attempt
    if partition_cols:
        missing = [c for c in partition_cols if c not in df.columns]
        if missing:
            raise ValueError(f"compact_table: no partition column(s) {missing}")
        out = df.repartition(*partition_cols)
        out.write.partitionBy(*partition_cols).parquet(tmp)
    else:
        n_files = max(1, math.ceil(total / target_file_bytes))
        df.repartition(n_files).write.parquet(tmp)

    # verify the staged rewrite BEFORE swapping anything
    rows_after = spark.read.parquet(tmp).count()
    if rows_after != rows_before:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compact_table: staged rewrite has {rows_after} rows, "
            f"source has {rows_before} — refusing to publish"
        )

    bak = table_dir.rstrip("/") + ".__compact_old"
    os.rename(table_dir, bak)
    os.rename(tmp, table_dir)
    shutil.rmtree(bak)
    _, files_after = _parquet_bytes(table_dir)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total,
        "rows": rows_before,
    }


def cluster_table(
    spark: SparkSession,
    table_dir: str,
    order_cols: tuple,
    target_file_bytes: int = 128 << 20,
) -> dict:
    """Rewrite a landed table RANGE-CLUSTERED on ``order_cols`` — the
    OPTIMIZE/ZORDER analogue: after the rewrite, rows with nearby key
    values share files and row groups, so parquet min/max statistics
    actually prune — a key-range query (a cell-range tile scan, a
    doc_id slice) touches the few files whose footer range overlaps
    instead of finding matches scattered across every file.  For
    multi-dimensional locality, pass a space-filling-curve column
    (``cells.py``'s Morton cell id) as the single order col — that IS
    the Z-order trick.

    Same safety contract as ``compact_table``: staged rewrite, counted
    against the source before any rename, two-rename publish.

    Scale shape: ``repartitionByRange`` (one sampling pass to pick
    bounds + one range exchange) + ``sortWithinPartitions`` (spillable
    per-file sort) + the write.  A maintenance pass pays this once so
    that every subsequent key-range scan reads O(matching) instead of
    O(table) — the standard lakehouse layout trade.
    """
    if not os.path.isdir(table_dir):
        raise ValueError(f"cluster_table: no such table dir {table_dir}")
    if not order_cols:
        raise ValueError("cluster_table: order_cols must be non-empty")

    total, files_before = _parquet_bytes(table_dir)
    if files_before == 0:
        raise ValueError(f"cluster_table: {table_dir} has no data files")

    df = spark.read.parquet(table_dir)
    missing = [c for c in order_cols if c not in df.columns]
    if missing:
        raise ValueError(f"cluster_table: no order column(s) {missing}")
    rows_before = df.count()
    n_files = max(1, math.ceil(total / target_file_bytes))

    tmp = table_dir.rstrip("/") + ".__cluster_tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    (
        df.repartitionByRange(n_files, *[df[c] for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .write.parquet(tmp)
    )

    rows_after = spark.read.parquet(tmp).count()
    if rows_after != rows_before:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"cluster_table: staged rewrite has {rows_after} rows, "
            f"source has {rows_before} — refusing to publish"
        )

    bak = table_dir.rstrip("/") + ".__cluster_old"
    os.rename(table_dir, bak)
    os.rename(tmp, table_dir)
    shutil.rmtree(bak)
    _, files_after = _parquet_bytes(table_dir)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total,
        "rows": rows_before,
    }


def key_range_overlap_fraction(table_dir: str, col: str, lo, hi) -> float:
    """Fraction of the table's ROW GROUPS whose parquet min/max
    statistics overlap [lo, hi] — the footer-level measure of how much
    of the table a key-range scan must actually read (what
    ``cluster_table`` exists to minimize).  Pure pyarrow metadata scan:
    no data pages are read."""
    import pyarrow.parquet as pq

    total = 0
    overlap = 0
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            if f.startswith("_") or f.startswith(".") or not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            if col not in idx:
                raise ValueError(f"key_range_overlap_fraction: no column {col}")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                total += 1
                if st is None or not st.has_min_max:
                    overlap += 1  # no stats = must read
                elif st.min <= hi and st.max >= lo:
                    overlap += 1
    if total == 0:
        raise ValueError(f"key_range_overlap_fraction: no row groups under {table_dir}")
    return overlap / total
