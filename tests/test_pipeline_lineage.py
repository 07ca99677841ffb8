"""Kill/resume equivalence: a run interrupted after K partitions, then
resumed, produces byte-identical results to one clean run
(BASELINE.json:6,14 resumability gate)."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from simplepolygon_spark.operators.decompose import decompose_polygons
from simplepolygon_spark.operators.tiling import broadcast_index, build_interval_index
from simplepolygon_spark.plans.lineage import done_part_ids, read_result
from simplepolygon_spark.plans.pipeline import run_pipeline, salted_ring_stats
from simplepolygon_spark.sources.footprints import footprints_df
from simplepolygon_spark.sources.images import images_df


def _setup(spark):
    rows = decompose_polygons(footprints_df(spark, grid=3)).collect()
    return broadcast_index(spark, build_interval_index(rows, cover_level=9))


def _result_set(spark, out_dir):
    return {
        (r.image_id, r.polygon_id, r.ring_index, r.part_id)
        for r in read_result(spark, out_dir).collect()
    }


def test_kill_resume_equals_clean_run(spark, tmp_path):
    bc = _setup(spark)
    imgs = images_df(spark, 1500, partitions=8, with_bytes=False)

    clean_dir = str(tmp_path / "clean")
    run_pipeline(spark, imgs, bc, clean_dir, run_id="clean", num_parts=16)
    clean = _result_set(spark, clean_dir)
    assert len(clean) > 0

    crash_dir = str(tmp_path / "crash")
    # "crash" after 5 of 16 logical partitions
    run_pipeline(spark, imgs, bc, crash_dir, run_id="r1", num_parts=16, fail_after_parts=5)
    assert len(done_part_ids(spark, crash_dir)) == 5
    # resume processes exactly the remaining 11, no duplicates
    run_pipeline(spark, imgs, bc, crash_dir, run_id="r2", num_parts=16)
    assert len(done_part_ids(spark, crash_dir)) == 16
    assert _result_set(spark, crash_dir) == clean

    # idempotence: a third invocation does nothing
    run_pipeline(spark, imgs, bc, crash_dir, run_id="r3", num_parts=16)
    assert _result_set(spark, crash_dir) == clean


def test_crash_between_data_and_lineage_write(spark, tmp_path):
    """Lineage is the sole commit point: data files written by a run
    that died before its lineage write are invisible to read_result and
    the part is re-run on resume WITHOUT producing duplicates."""
    from simplepolygon_spark.operators.tiling import pip_join
    from simplepolygon_spark.plans.lineage import DATA_SUBDIR, with_part_id

    bc = _setup(spark)
    imgs = images_df(spark, 1500, partitions=8, with_bytes=False)

    clean_dir = str(tmp_path / "clean")
    run_pipeline(spark, imgs, bc, clean_dir, run_id="clean", num_parts=16)
    clean = _result_set(spark, clean_dir)

    crash_dir = str(tmp_path / "crash")
    # simulate a run that wrote part of its DATA but died before the
    # lineage commit: orphan rows for 4 parts, no lineage rows at all
    asg = with_part_id(pip_join(imgs, bc), "image_id", 16)
    orphan = asg.filter(F.col("part_id") < 4).withColumn("run_id", F.lit("dead"))
    orphan.write.mode("append").partitionBy("part_id", "run_id").parquet(
        f"{crash_dir}/{DATA_SUBDIR}"
    )
    assert done_part_ids(spark, crash_dir) == set()  # nothing committed

    # resume re-processes ALL 16 parts (orphans are not "done") ...
    run_pipeline(spark, imgs, bc, crash_dir, run_id="r2", num_parts=16)
    assert len(done_part_ids(spark, crash_dir)) == 16
    # ... and the orphan rows never surface: exact clean-run equality,
    # including multiplicity (count rows, not just the distinct set)
    assert _result_set(spark, crash_dir) == clean
    assert read_result(spark, crash_dir).count() == read_result(spark, clean_dir).count()


def test_lineage_checksums_match_between_runs(spark, tmp_path):
    bc = _setup(spark)
    imgs = images_df(spark, 800, partitions=4, with_bytes=False)
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    run_pipeline(spark, imgs, bc, d1, run_id="x", num_parts=8)
    run_pipeline(spark, imgs, bc, d2, run_id="y", num_parts=8)
    l1 = {
        (r.part_id, r.n_rows, r.checksum)
        for r in spark.read.parquet(d1 + "/_lineage").collect()
    }
    l2 = {
        (r.part_id, r.n_rows, r.checksum)
        for r in spark.read.parquet(d2 + "/_lineage").collect()
    }
    assert l1 == l2  # deterministic pipeline → identical lineage


def _hot_assignments(spark):
    """pip_join assignments over the grid-3 layer plus one square ring
    around the generator's hot cell, so a single ring holds the hot
    cell's ~10% of all images."""
    from simplepolygon_spark.operators.tiling import pip_join

    rows = decompose_polygons(footprints_df(spark, grid=3)).collect()
    hot = [[129.0, -26.0], [131.0, -26.0], [131.0, -24.0], [129.0, -24.0], [129.0, -26.0]]
    rows.append({"polygon_id": "hot", "ring_index": 0, "coords": hot})
    bc = broadcast_index(spark, build_interval_index(rows, cover_level=9))
    return pip_join(images_df(spark, 1200, partitions=6, with_bytes=False), bc)


def test_salted_ring_stats_matches_numpy_oracle(spark):
    """n_images and image_hash_xor equal a numpy count and bit-xor per
    ring over the collected assignments, on a layer whose hot ring
    holds at least 10% of them."""
    asg = _hot_assignments(spark)
    t = asg.select("polygon_id", "ring_index", F.xxhash64("image_id").alias("h")).toArrow()
    pid = np.asarray(t.column("polygon_id").to_pylist())
    ridx = t.column("ring_index").to_numpy()
    h = t.column("h").to_numpy()
    _, first, inv = np.unique(
        np.char.add(np.char.add(pid, "/"), ridx.astype(str)), return_index=True, return_inverse=True
    )
    count = np.bincount(inv)
    xor = np.bitwise_xor.reduceat(h[np.argsort(inv, kind="stable")], np.cumsum(count) - count)
    want = {(pid[f], int(ridx[f])): (int(c), int(x)) for f, c, x in zip(first, count, xor)}
    assert want[("hot", 0)][0] >= 0.10 * len(h)

    got = {
        (r.polygon_id, r.ring_index): (r.n_images, r.image_hash_xor)
        for r in salted_ring_stats(asg).collect()
    }
    assert got == want


def test_salted_ring_stats_is_one_exchange_over_partials(spark):
    """One shuffle Exchange, and directly below it the map-side partial
    count and bit-xor: the hot ring crosses the exchange as partials."""
    plan = salted_ring_stats(_hot_assignments(spark))._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    ex = [k for k, ln in enumerate(lines) if "Exchange " in ln]
    assert len(ex) == 1, plan
    below = lines[ex[0] + 1]
    assert "HashAggregate" in below and "partial_count" in below and "partial_bit_xor" in below, plan


def test_salted_ring_stats_reads_at_most_one_row_per_ring_and_map_task(spark):
    """The final stage reads at most n_rings x n_map_tasks shuffle
    records, however many rows the hot ring holds: each map task sends
    one partial row per ring it saw."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    asg = _hot_assignments(spark).cache()
    try:
        hot_rows = asg.where(F.col("polygon_id") == "hot").count()
        sc.setJobGroup("ring-stats-records", "salted_ring_stats")
        try:
            n_rings = len(salted_ring_stats(asg).collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    finally:
        asg.unpersist()
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store, tracker = jsc.statusStore(), sc.statusTracker()
    stages = {s for j in tracker.getJobIdsForGroup("ring-stats-records") for s in tracker.getJobInfo(j).stageIds}
    map_tasks = read = 0
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a skipped stage never gets an attempt
            continue
        if sd.shuffleWriteRecords() > 0:
            map_tasks += sd.numTasks()
        read += sd.shuffleReadRecords()
    assert 0 < map_tasks <= 6 and read > 0
    assert read <= n_rings * map_tasks
    assert hot_rows > 10 * map_tasks


def test_skew_knob_creates_hot_rings(spark):
    # the generator's hot cell must concentrate assignments — the reason
    # salting exists; if this fails the skew test scenario is vacuous
    imgs = images_df(spark, 3000, partitions=6, with_bytes=False)
    hot = imgs.filter(
        (F.col("lon") > 129.9) & (F.col("lon") < 130.2)
        & (F.col("lat") > -25.2) & (F.col("lat") < -24.8)
    ).count()
    assert hot > 200


def test_zero_row_run_on_fresh_dir_commits_lineage(spark, tmp_path):
    """A run whose every part produces 0 rows on a brand-new out_dir
    must still commit its lineage (previously: schema inference crashed
    on the file-less data directory and the parts re-ran forever)."""
    bc = _setup(spark)
    # points far outside every footprint → zero assignments
    imgs = (
        images_df(spark, 200, partitions=2, with_bytes=False)
        .withColumn("lon", F.lit(179.99))
        .withColumn("lat", F.lit(89.99))
    )
    out = str(tmp_path / "empty_run")
    run_pipeline(spark, imgs, bc, out, run_id="z", num_parts=8)
    assert len(done_part_ids(spark, out)) == 8  # all parts committed
    lin = spark.read.parquet(out + "/_lineage").collect()
    assert all(r.n_rows == 0 for r in lin)
    # idempotent: nothing left to do
    run_pipeline(spark, imgs, bc, out, run_id="z2", num_parts=8)
    assert len(done_part_ids(spark, out)) == 8


def test_lineage_observe_metrics_agree_with_disk_audit(spark, tmp_path):
    """The committed metrics are read back from the files just written,
    and every write audits them against the totals it observed, raising
    on ANY divergence — so a clean pass here proves observed == on-disk
    for rows, bytes, and checksums; and two writes of the same result
    commit identical lineage logs."""
    from simplepolygon_spark.operators.tiling import pip_join
    from simplepolygon_spark.plans.lineage import with_part_id, write_with_lineage

    bc = _setup(spark)
    imgs = with_part_id(
        images_df(spark, 1500, partitions=4, with_bytes=False), "image_id", 8
    )
    asg = with_part_id(pip_join(imgs, bc), "image_id", 8)

    out_a = str(tmp_path / "audited")
    write_with_lineage(asg, out_a, "r0", imgs.select("part_id"))
    out_b = str(tmp_path / "plain")
    write_with_lineage(asg, out_b, "r0", imgs.select("part_id"))

    key = ["part_id", "n_rows", "n_bytes", "checksum"]
    la = sorted(tuple(r[k] for k in key) for r in spark.read.parquet(out_a + "/_lineage").collect())
    lb = sorted(tuple(r[k] for k in key) for r in spark.read.parquet(out_b + "/_lineage").collect())
    assert la == lb and len(la) == 8
    assert sum(r[1] for r in la) == asg.count()


def test_duplicate_run_id_rejected_and_default_ids_resume_safely(spark, tmp_path):
    """Round-3: the lineage commit-point argument requires a fresh
    run_id per invocation.  (a) Reusing a COMMITTED id raises; (b) the
    crash-then-resume flow with DEFAULT (auto-uuid) ids produces exactly
    the clean-run output — the failure mode the old reusable 'run0'
    default permitted (orphans + re-run committed under one id,
    duplicating rows)."""
    from simplepolygon_spark.operators.tiling import pip_join
    from simplepolygon_spark.plans.lineage import (
        DATA_SUBDIR,
        read_result,
        with_part_id,
        write_with_lineage,
    )

    bc = _setup(spark)
    imgs = images_df(spark, 1000, partitions=4, with_bytes=False)

    out = str(tmp_path / "dup_id")
    run_pipeline(spark, imgs, bc, out, run_id="once", num_parts=8)
    import pytest as _pytest

    asg = with_part_id(pip_join(imgs, bc), "image_id", 8)
    with _pytest.raises(ValueError, match="already committed"):
        write_with_lineage(asg, out, "once", asg.select("part_id"))

    # crash under an auto id, resume under another auto id
    clean_dir = str(tmp_path / "clean2")
    run_pipeline(spark, imgs, bc, clean_dir, num_parts=8)  # default id
    crash_dir = str(tmp_path / "crash2")
    orphan = asg.filter(F.col("part_id") < 3).withColumn("run_id", F.lit("autodead"))
    orphan.write.mode("append").partitionBy("part_id", "run_id").parquet(
        f"{crash_dir}/{DATA_SUBDIR}"
    )
    run_pipeline(spark, imgs, bc, crash_dir, num_parts=8)  # default id
    a = sorted(tuple(r) for r in read_result(spark, crash_dir).collect())
    b = sorted(tuple(r) for r in read_result(spark, clean_dir).collect())
    assert a == b and len(a) > 0


def test_parts_without_input_commit_zero_rows(spark, tmp_path):
    """The todo parts are range(num_parts) minus the done ones: with 20
    images over 64 parts, every part commits, and a part that holds no
    image commits n_rows 0."""
    from simplepolygon_spark.plans.lineage import with_part_id

    bc = _setup(spark)
    imgs = images_df(spark, 20, partitions=2, with_bytes=False)
    out = str(tmp_path / "sparse")
    run_pipeline(spark, imgs, bc, out, run_id="s", num_parts=64)
    lin = {r.part_id: r.n_rows for r in spark.read.parquet(out + "/_lineage").collect()}
    assert sorted(lin) == list(range(64))
    fed = {r.part_id for r in with_part_id(imgs, "image_id", 64).select("part_id").collect()}
    assert len(fed) < 64
    assert all(lin[k] == 0 for k in set(range(64)) - fed)
    assert done_part_ids(spark, out) == set(range(64))


def test_lineage_audit_fails_on_a_lost_data_file(spark, tmp_path, monkeypatch):
    """A data file that vanishes between the write and the read-back
    fails the audit, and the run commits no lineage row."""
    import glob
    import os

    import pytest
    from pyspark.sql import DataFrameWriter

    from simplepolygon_spark.plans.lineage import DATA_SUBDIR

    parquet = DataFrameWriter.parquet

    def lossy_parquet(self, path, *args, **kwargs):
        parquet(self, path, *args, **kwargs)
        if path.endswith(DATA_SUBDIR):
            os.remove(sorted(glob.glob(f"{path}/part_id=*/run_id=*/*.parquet"))[0])

    monkeypatch.setattr(DataFrameWriter, "parquet", lossy_parquet)
    bc = _setup(spark)
    imgs = images_df(spark, 800, partitions=4, with_bytes=False)
    out = str(tmp_path / "lossy")
    with pytest.raises(RuntimeError, match="lineage audit"):
        run_pipeline(spark, imgs, bc, out, run_id="l", num_parts=8)
    assert not os.path.exists(f"{out}/_lineage")
    assert done_part_ids(spark, out) == set()


def test_lineage_row_counts_equal_the_landed_files(spark, tmp_path):
    """Each part's committed n_rows equals a pyarrow count of the
    parquet files the run landed under that part, also under a run_id
    that the writer escapes in its directory name."""
    import glob

    import pyarrow.parquet as pq

    bc = _setup(spark)
    imgs = images_df(spark, 1500, partitions=4, with_bytes=False)
    out = str(tmp_path / "counted")
    run_pipeline(spark, imgs, bc, out, run_id="c:1", num_parts=16)
    landed = {
        k: sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(f"{out}/data/part_id={k}/run_id=*/*.parquet"))
        for k in range(16)
    }
    lin = {r.part_id: r.n_rows for r in spark.read.parquet(out + "/_lineage").collect()}
    assert lin == landed and sum(landed.values()) > 0


def test_lineage_log_is_read_only_where_it_exists(spark, tmp_path, monkeypatch):
    """A missing lineage log is an empty done-set found without a read
    (no failing analysis); a log directory holding only an uncommitted
    ``_temporary`` reads as empty; an unreadable file under the log
    still raises."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import DataFrameReader

    def no_read(self, *args, **kwargs):
        pytest.fail("read a lineage log that does not exist")

    with monkeypatch.context() as m:
        m.setattr(DataFrameReader, "parquet", no_read)
        assert done_part_ids(spark, str(tmp_path / "fresh")) == set()

    (tmp_path / "torn" / "_lineage" / "_temporary" / "0").mkdir(parents=True)
    assert done_part_ids(spark, str(tmp_path / "torn")) == set()

    bad = tmp_path / "bad" / "_lineage"
    bad.mkdir(parents=True)
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        done_part_ids(spark, str(tmp_path / "bad"))
