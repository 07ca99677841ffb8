"""Per-partition lineage + exact resume (SURVEY.md §2.1 S7).

The unit of resumability is a *logical* partition: a deterministic
``part_id = pmod(xxhash64(image_id), P)`` assigned to every input row —
stable across runs, executors, and cluster sizes (unlike Spark's
physical partition ids).  A completed part writes:

  results:  <out>/data/part_id=<k>/*.parquet   (partitioned write)
  lineage:  <out>/_lineage/*.parquet           (one row per part)
            (run_id, part_id, n_rows, n_bytes, checksum)

``checksum`` is an order-insensitive xxhash64 aggregate of the output
rows, computed JVM-side.  Resume = read the lineage log, anti-join the
done part_ids, process only the remainder, append — after executor
loss (or a mid-run kill) the union of data files for done parts is
exactly what a clean run produces, verified by the kill/resume test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_SUBDIR = "_lineage"
DATA_SUBDIR = "data"


def with_part_id(df: DataFrame, id_col: str, num_parts: int) -> DataFrame:
    """Deterministic logical partition id from the row id (JVM-side)."""
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_parts)).cast("int")
    )


def done_part_ids(spark: SparkSession, out_dir: str) -> set[int]:
    from pyspark.errors import AnalysisException

    path = os.path.join(out_dir, LINEAGE_SUBDIR)
    try:
        rows = spark.read.parquet(path).select("part_id").distinct().collect()
    except AnalysisException:
        # no lineage log yet = nothing done; any OTHER failure (corrupt
        # files, transient storage errors) must propagate — silently
        # reporting an empty done-set would re-run committed parts and
        # duplicate their rows on read
        return set()
    return {r.part_id for r in rows}


def remaining(df_with_part: DataFrame, spark: SparkSession, out_dir: str) -> DataFrame:
    """Filter out rows of already-completed logical partitions."""
    done = done_part_ids(spark, out_dir)
    if not done:
        return df_with_part
    return df_with_part.filter(~F.col("part_id").isin(sorted(done)))


def _metric_exprs(cols: list[str]):
    """The (row_hash, byte_len) metric definitions — ONE source of truth
    shared by the write-side Observation and the read-back audit; any
    drift between the two would turn ``audit_readback`` into false
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
    audit_readback: bool = False,
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

    Metrics come FREE with the write (default): an Observation node with
    3 conditional aggregates per part (count / byte sum / xor checksum,
    null outside the part) rides the write job — accumulator-backed, no
    second pass, no re-execution of the plan.  Per-task overhead is 3·P
    longs of accumulator traffic (P = parts this run), negligible even
    at thousands of parts.  ``audit_readback=True`` additionally
    re-reads the files just written (partition-pruned to this run) and
    verifies the on-disk metrics equal the observed ones — the opt-in
    audit for storage-layer corruption, at the cost of a second read of
    this run's output.
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
    from pyspark.errors import AnalysisException

    try:
        dup = (
            spark.read.parquet(lin_path)
            .where(F.col("run_id") == run_id)
            .limit(1)
            .count()
        )
    except AnalysisException:
        dup = 0  # no lineage log yet; other errors propagate
    if dup:
        raise ValueError(
            f"run_id {run_id!r} already committed under {lin_path}; "
            "lineage requires a fresh run_id per invocation"
        )

    cols = [c for c in result.columns if c != "part_id"]
    row_hash, byte_len = _metric_exprs(cols)
    obs = Observation(f"lineage-{run_id}")
    obs_cols = []
    for k in part_ids:
        is_k = F.col("part_id") == k
        obs_cols += [
            F.sum(F.when(is_k, 1).otherwise(0)).alias(f"r{k}"),
            F.sum(F.when(is_k, byte_len).otherwise(0)).alias(f"b{k}"),
            F.bit_xor(F.when(is_k, row_hash)).alias(f"c{k}"),
        ]
    tagged = result.observe(obs, *obs_cols).withColumn("run_id", F.lit(run_id))
    # two-level partitioning: resume filters prune on part_id, and any
    # audit read-back prunes to THIS run's directories only — lineage
    # cost stays proportional to the delta, not the history
    tagged.write.mode("append").partitionBy("part_id", "run_id").parquet(data_path)

    got = obs.get  # blocks until the write job above completed
    rows = [
        (k, run_id, int(got[f"r{k}"] or 0), int(got[f"b{k}"] or 0), int(got[f"c{k}"] or 0))
        for k in part_ids
    ]
    metrics = spark.createDataFrame(
        rows, "part_id int, run_id string, n_rows long, n_bytes long, checksum long"
    )

    if audit_readback:
        # files-on-disk are authoritative under this flag: recompute the
        # same metrics from the parquet just written and fail loudly on
        # any divergence (a torn write, a non-deterministic upstream)
        written = (
            spark.read.schema(tagged.schema)
            .parquet(data_path)
            .where(F.col("run_id") == run_id)
            .drop("run_id")
        )
        disk = lineage_metrics(written, run_id)
        diff = (
            metrics.alias("m")
            .join(disk.alias("d"), "part_id", "left")
            .where(
                (F.coalesce(F.col("d.n_rows"), F.lit(0)) != F.col("m.n_rows"))
                | (F.coalesce(F.col("d.n_bytes"), F.lit(0)) != F.col("m.n_bytes"))
                | (F.coalesce(F.col("d.checksum"), F.lit(0)) != F.col("m.checksum"))
            )
            .count()
        )
        if diff:
            raise RuntimeError(
                f"lineage audit: {diff} part(s) diverge between observed "
                f"write metrics and the files on disk under {data_path}"
            )

    # coalesce(1): the lineage rows of one run publish as ONE file, so
    # the commit is all-or-nothing (a multi-file append could crash
    # mid-job-commit with only SOME parts' rows visible — a replay
    # gate that checks "any row of this run exists" would then skip the
    # parts whose rows never landed, orphaning their data forever).
    # The frame is driver-built and tiny (one row per logical part).
    metrics.select("part_id", "run_id", "n_rows", "n_bytes", "checksum").coalesce(
        1
    ).write.mode("append").parquet(lin_path)


def read_result(spark: SparkSession, out_dir: str) -> DataFrame:
    """Committed rows only: data semi-joined against the lineage log on
    (part_id, run_id), so uncommitted (orphan) data files never
    surface.  The lineage side is tiny (one row per logical part) and
    broadcast by AQE."""
    from pyspark.errors import AnalysisException

    data = spark.read.parquet(os.path.join(out_dir, DATA_SUBDIR))
    try:
        committed = (
            spark.read.parquet(os.path.join(out_dir, LINEAGE_SUBDIR))
            .select("part_id", "run_id")
            .distinct()
        )
    except AnalysisException:
        # no lineage log = nothing committed yet → empty result; any
        # OTHER failure (corrupt files, transient storage errors) must
        # propagate, not masquerade as "no data"
        return data.limit(0).drop("run_id")
    return data.join(
        F.broadcast(committed), ["part_id", "run_id"], "left_semi"
    ).drop("run_id")
