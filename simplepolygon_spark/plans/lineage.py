"""Per-partition lineage + exact resume (SURVEY.md §2.1 S7).

The unit of resumability is a *logical* partition: a deterministic
``part_id = pmod(xxhash64(image_id), P)`` assigned to every input row —
stable across runs, executors, and cluster sizes (unlike Spark's
physical partition ids).  A completed part writes:

  results:  <out>/data/part_id=<k>/run_id=<r>/*.parquet
  lineage:  <out>/_lineage/*.parquet           (one row per part)
            (run_id, part_id, n_rows, n_bytes, checksum)

``checksum`` is an order-insensitive xxhash64 aggregate of the output
rows, computed JVM-side from a read-back of the run's own files, which
must match three totals the write observed (an always-on O(1) audit).
Resume = read the lineage log, skip the done part_ids, process only the
remainder, append — after executor loss (or a mid-run kill) the union of
data files for done parts is exactly what a clean run produces, verified
by the kill/resume test.
"""

from __future__ import annotations

import os
from functools import reduce
from operator import xor

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_SUBDIR = "_lineage"
DATA_SUBDIR = "data"
LINEAGE_SCHEMA = "part_id int, run_id string, n_rows long, n_bytes long, checksum long"


def with_part_id(df: DataFrame, id_col: str, num_parts: int) -> DataFrame:
    """Deterministic logical partition id from the row id (JVM-side)."""
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_parts)).cast("int")
    )


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path`` on the driver's JVM: listing and
    existence checks through it start no Spark job."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf()), jpath


def _lineage_log(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The lineage log under ``out_dir``, or None when there is none yet.

    Existence is one Hadoop ``FileSystem.exists`` call on the driver: no
    Spark job, and no failing analysis on a fresh directory.  The read
    names the schema, so a log directory with no committed file yet (a
    first commit that died mid-write leaves only ``_temporary``) reads
    as empty.  Every other failure (corrupt files, transient storage
    errors) propagates: silently reporting an empty log would re-run
    committed parts and duplicate their rows on read.
    """
    path = os.path.join(out_dir, LINEAGE_SUBDIR)
    fs, jpath = _hadoop_path(spark, path)
    if not fs.exists(jpath):
        return None
    return spark.read.schema(LINEAGE_SCHEMA).parquet(path)


def done_part_ids(spark: SparkSession, out_dir: str) -> set[int]:
    log = _lineage_log(spark, out_dir)
    if log is None:
        return set()  # no lineage log yet = nothing done
    return {r.part_id for r in log.select("part_id").distinct().collect()}


def remaining(df_with_part: DataFrame, spark: SparkSession, out_dir: str) -> DataFrame:
    """Filter out rows of already-completed logical partitions."""
    done = done_part_ids(spark, out_dir)
    if not done:
        return df_with_part
    return df_with_part.filter(~F.col("part_id").isin(sorted(done)))


def _metric_exprs(cols: list[str]):
    """The (row_hash, byte_len) metric definitions — ONE source of truth
    shared by the write-side totals and the per-part read-back; any
    drift between the two would turn the lineage audit into false
    failures (or false passes)."""
    row_hash = F.xxhash64(*[F.col(c) for c in cols])
    byte_len = sum(
        (F.length(F.col(c).cast("string")).cast("long") for c in cols),
        F.lit(0).cast("long"),
    )
    return row_hash, byte_len


def lineage_metrics(result: DataFrame, run_id: str) -> DataFrame:
    """Per-part metric rows from a result that carries ``part_id``.

    n_bytes: sum over non-part columns of the length of each value cast
    to string — a cheap, deterministic byte metric (numerics count their
    decimal rendering, not their width).
    checksum: bit_xor of xxhash64 over all non-part columns — order-insensitive and overflow-free under ANSI mode.
    """
    cols = [c for c in result.columns if c != "part_id"]
    row_hash, byte_len = _metric_exprs(cols)
    return result.groupBy("part_id").agg(
        F.lit(run_id).alias("run_id"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(byte_len).alias("n_bytes"),
        F.bit_xor(row_hash).alias("checksum"),
    )


def write_with_lineage(
    result: DataFrame,
    out_dir: str,
    run_id: str,
    all_part_ids,
) -> None:
    """Write result data partitioned by part_id + append lineage rows.

    ``all_part_ids``: every part_id processed in this run (parts may
    legitimately produce zero result rows — they still must be marked
    done or resume would re-run them forever).  Either a single-column
    DataFrame or a plain iterable of ints; callers that already hold the
    list on the driver (run_pipeline does) pass it directly — no
    createDataFrame → distinct → collect round trip.

    The lineage write is the SOLE commit point: data rows are tagged
    with ``run_id`` and ``read_result`` only surfaces (part_id, run_id)
    combinations that have a committed lineage row.  A crash between
    the data write and the lineage write therefore leaves orphan data
    files that are invisible to readers, and the part is re-run on
    resume without producing duplicates — preserving the exact
    "union of resumed runs == clean run" invariant.

    The per-part metrics are ``lineage_metrics`` over this run's own
    files, read back partition-pruned to ``run_id``: what is committed
    is what is on disk.  The write job carries one Observation of three
    global totals (row count, byte sum, checksum xor) — O(1) per row
    whatever the number of parts.  The audit is always on: when the
    read-back totals differ from what the write sent (a torn write, a
    non-deterministic upstream), it raises before any lineage row is
    committed.
    """
    data_path = os.path.join(out_dir, DATA_SUBDIR)
    lin_path = os.path.join(out_dir, LINEAGE_SUBDIR)
    spark = result.sparkSession
    if isinstance(all_part_ids, DataFrame):
        part_ids = sorted(
            r.part_id
            for r in all_part_ids.select(F.col("part_id").cast("int")).distinct().collect()
        )
    else:
        part_ids = sorted({int(p) for p in all_part_ids})
    if not part_ids:
        return  # nothing processed this run — no data, no lineage rows

    # a run_id must be unique per invocation: the orphan-invisibility
    # argument (crash between data and lineage writes leaves files that
    # never surface) breaks if a later run APPENDS under the same
    # (part_id, run_id) and then commits both copies.  Reject the common
    # mistake — an id already committed to the lineage log.  (An id that
    # only orphan data files carry is undetectable without listing the
    # data dir; callers resuming a crashed run must use a fresh id, as
    # run_pipeline's uuid default does.)
    log = _lineage_log(spark, out_dir)
    if log is not None and log.where(F.col("run_id") == run_id).limit(1).count():
        raise ValueError(
            f"run_id {run_id!r} already committed under {lin_path}; "
            "lineage requires a fresh run_id per invocation"
        )

    cols = [c for c in result.columns if c != "part_id"]
    row_hash, byte_len = _metric_exprs(cols)
    obs = Observation(f"lineage-{run_id}")
    tagged = result.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(byte_len).alias("n_bytes"),
        F.bit_xor(row_hash).alias("checksum"),
    ).withColumn("run_id", F.lit(run_id))
    # two-level partitioning: resume filters prune on part_id, and the
    # read-back below prunes to THIS run's directories only — lineage
    # cost stays proportional to the delta, not the history
    tagged.write.mode("append").partitionBy("part_id", "run_id").parquet(data_path)
    sent = obs.get  # blocks until the write job above completed

    # the run's directories are listed on the driver, one glob: handing
    # Spark the glob itself makes it stat the literal pattern, and log a
    # FileNotFoundException stack, on every landing.  No directory means
    # every part of this run wrote zero rows.
    catalog = spark._jvm.org.apache.spark.sql.catalyst.catalog
    run_dir = catalog.ExternalCatalogUtils.escapePathName(run_id)  # as the writer named it
    fs, pattern = _hadoop_path(spark, os.path.join(data_path, "part_id=*", f"run_id={run_dir}"))
    run_dirs = [st.getPath().toString() for st in fs.globStatus(pattern) or []]
    disk = {}
    if run_dirs:
        written = (
            spark.read.schema(tagged.schema)
            .option("basePath", data_path)
            .parquet(*run_dirs)
            .drop("run_id")
        )
        disk = {r.part_id: r for r in lineage_metrics(written, run_id).collect()}
    got = {k: (r.n_rows, r.n_bytes or 0, r.checksum or 0) for k, r in disk.items()}
    per_metric = list(zip((0, 0, 0), *got.values()))  # a zero, then every part's value
    on_disk = (sum(per_metric[0]), sum(per_metric[1]), reduce(xor, per_metric[2]))
    if on_disk != (sent["n_rows"], sent["n_bytes"] or 0, sent["checksum"] or 0):
        raise RuntimeError(
            f"lineage audit: the files of run {run_id!r} under {data_path} hold "
            f"(rows, bytes, checksum) {on_disk}; the write sent {dict(sent)}"
        )

    # coalesce(1): the lineage rows of one run publish as ONE file, so
    # the commit is all-or-nothing (a multi-file append could crash
    # mid-job-commit with only SOME parts' rows visible — a replay
    # gate that checks "any row of this run exists" would then skip the
    # parts whose rows never landed, orphaning their data forever).
    # The frame is driver-built and tiny (one row per logical part); an
    # Arrow table plans a LocalTableScan, so no Python worker runs.
    n_rows, n_bytes, checksum = zip(*(got.get(k, (0, 0, 0)) for k in part_ids))
    metrics = pa.table(
        [part_ids, [run_id] * len(part_ids), n_rows, n_bytes, checksum],
        names=["part_id", "run_id", "n_rows", "n_bytes", "checksum"],
    )
    spark.createDataFrame(metrics, LINEAGE_SCHEMA).coalesce(1).write.mode("append").parquet(lin_path)


def read_result(spark: SparkSession, out_dir: str) -> DataFrame:
    """Committed rows only: data semi-joined against the lineage log on
    (part_id, run_id), so uncommitted (orphan) data files never
    surface.  The lineage side is tiny (one row per logical part) and
    broadcast by AQE."""
    data = spark.read.parquet(os.path.join(out_dir, DATA_SUBDIR))
    log = _lineage_log(spark, out_dir)
    if log is None:
        return data.limit(0).drop("run_id")  # nothing committed yet
    committed = log.select("part_id", "run_id").distinct()
    return data.join(
        F.broadcast(committed), ["part_id", "run_id"], "left_semi"
    ).drop("run_id")
