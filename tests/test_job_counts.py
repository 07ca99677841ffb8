"""How many Spark jobs an operation runs.

On a small host most of an operation's time is per-job fixed cost, so a
job count is pinned like any other cost.  Each count is read from the
status tracker under a job group of its own, after the listener bus has
caught up.  The docstrings name each job.
"""

from __future__ import annotations

import pyarrow as pa

from simplepolygon_spark.operators.decompose import POLYGONS_SCHEMA, decompose_polygons
from simplepolygon_spark.operators.tiling import broadcast_index, build_interval_index
from simplepolygon_spark.plans.pipeline import run_pipeline
from simplepolygon_spark.sources.footprints import footprint_rows
from simplepolygon_spark.sources.images import images_df


def _jobs(spark, group, fn):
    """The number of Spark jobs ``fn()`` runs, counted under ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rings(spark):
    """The decomposed footprint layer over a LocalTableScan: no exchange
    (``footprints_df``'s repartition would add its map stage as a job of
    its own under adaptive execution)."""
    table = pa.table(list(zip(*footprint_rows(3))), names=["polygon_id", "rings"])
    return decompose_polygons(spark.createDataFrame(table, POLYGONS_SCHEMA))


def test_build_interval_index_from_a_dataframe_runs_one_job(spark):
    """One job: the JVM-only ``toArrow`` collect, whose one stage also
    runs the decompose ``mapInArrow``.  The cover and the index build
    run on the driver."""
    rings = _rings(spark)
    assert _jobs(spark, "count-build-index", lambda: build_interval_index(rings, cover_level=9)) == 1


def test_run_pipeline_job_counts(spark, tmp_path):
    """A fresh directory at P = 8 runs 4 jobs: the partitioned data
    write; the read-back's per-part ``lineage_metrics``, as a shuffle-map
    job and a result job; the one-file lineage commit.  No job looks
    for the absent lineage log.  A resume with nothing left runs 2: the
    ``done_part_ids`` distinct over the log, again a shuffle-map job and
    a result job; it writes nothing."""
    bc = broadcast_index(spark, build_interval_index(_rings(spark).collect(), cover_level=9))
    imgs = images_df(spark, 1500, partitions=4, with_bytes=False)
    out = str(tmp_path / "counted")
    assert _jobs(spark, "count-land-fresh", lambda: run_pipeline(spark, imgs, bc, out, run_id="a", num_parts=8)) == 4
    assert _jobs(spark, "count-land-resume", lambda: run_pipeline(spark, imgs, bc, out, run_id="b", num_parts=8)) == 2
