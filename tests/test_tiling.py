"""PIP-join parity vs a brute-force numpy oracle over all (point, ring)
pairs (join output rows must match exactly — BASELINE.json:6)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from simplepolygon_spark.geom import point_in_ring
from simplepolygon_spark.operators.decompose import decompose_polygons
from simplepolygon_spark.operators.tiling import (
    broadcast_index,
    build_interval_index,
    pip_join,
)
from simplepolygon_spark.sources.footprints import WINDOW, footprints_df


def _points(n=3000, seed=11):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(WINDOW[0] - 5, WINDOW[2] + 5, n)
    lat = rng.uniform(WINDOW[1] - 5, WINDOW[3] + 5, n)
    ids = np.array([f"img{i:09d}" for i in range(n)])
    return ids, lon, lat


def test_pip_join_matches_bruteforce_oracle(spark):
    fp = footprints_df(spark, grid=3)
    fp_plan = fp._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in fp_plan and "ExistingRDD" not in fp_plan, fp_plan
    rings_out = decompose_polygons(fp)
    rows = rings_out.collect()
    index = build_interval_index(rows, cover_level=9)
    assert index.stats["n_intervals"] > 0
    bc = broadcast_index(spark, index)

    ids, lon, lat = _points()
    pts = spark.createDataFrame(
        pd.DataFrame({"image_id": ids, "lon": lon, "lat": lat})
    ).repartition(8)
    got = {
        (r.image_id, r.polygon_id, r.ring_index)
        for r in pip_join(pts, bc).collect()
    }

    expected = set()
    for row in rows:
        ring = np.asarray([list(c) for c in row["coords"]])
        for i in range(len(ids)):
            if point_in_ring((lon[i], lat[i]), ring, True):
                expected.add((ids[i], row["polygon_id"], row["ring_index"]))

    missing = expected - got
    extra = got - expected
    assert not missing, f"{len(missing)} missing, e.g. {sorted(missing)[:3]}"
    assert not extra, f"{len(extra)} extra, e.g. {sorted(extra)[:3]}"
    assert len(expected) > 50  # the oracle actually exercised fan-out


def test_pip_join_plan_has_no_shuffle(spark):
    fp = footprints_df(spark, grid=2)
    index = build_interval_index(decompose_polygons(fp).collect(), cover_level=8)
    bc = broadcast_index(spark, index)
    ids, lon, lat = _points(100)
    pts = spark.createDataFrame(pd.DataFrame({"image_id": ids, "lon": lon, "lat": lat}))
    plan = pip_join(pts, bc)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_full_cells_reduce_refine_work(spark):
    # index stats expose the Raster-Intervals shortcut: FULL intervals exist
    fp = footprints_df(spark, grid=2)
    index = build_interval_index(decompose_polygons(fp).collect(), cover_level=10)
    assert index.stats["n_full"] > 0


def test_pip_join_relational_equals_broadcast(spark):
    """The no-broadcast PIP fallback (bucket equi-join + FULL shortcut
    + grouped exact refine) must equal the broadcast pip_join exactly,
    with an equi-join plan (no cartesian)."""
    import numpy as np
    import pandas as pd

    from simplepolygon_spark.operators.decompose import decompose_polygons
    from simplepolygon_spark.operators.tiling import (
        broadcast_index,
        build_interval_index,
        pip_join,
        pip_join_relational,
    )
    from simplepolygon_spark.sources.footprints import WINDOW, footprints_df

    rings = decompose_polygons(footprints_df(spark, grid=3))
    bc = broadcast_index(spark, build_interval_index(rings.collect(), cover_level=9))
    rng = np.random.default_rng(77)
    n = 2000
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"p{i:05d}" for i in range(n)],
                "lon": rng.uniform(WINDOW[0], WINDOW[2], n),
                "lat": rng.uniform(WINDOW[1], WINDOW[3], n),
            }
        )
    ).repartition(4)

    a = {
        (r.image_id, r.polygon_id, r.ring_index)
        for r in pip_join(pts, bc).collect()
    }
    rel = pip_join_relational(pts, rings, cover_level=9, bucket_level=6)
    b = {(r.image_id, r.polygon_id, r.ring_index) for r in rel.collect()}
    assert a == b
    assert len(a) > 0
    plan = rel._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_invalid_coordinates_never_match(spark):
    """Out-of-window (lon=190) and NaN points must produce ZERO
    assignments in BOTH pip paths: the cell math clips onto boundary
    cells, so without explicit rejection such a point could land in a
    FULL cell and be accepted with no geometry check — while the same
    point in a PARTIAL cell is rejected (inconsistent accept/reject on
    bad data)."""
    import math

    from simplepolygon_spark.operators.decompose import decompose_polygons
    from simplepolygon_spark.operators.tiling import (
        broadcast_index,
        build_interval_index,
        pip_join,
        pip_join_relational,
    )
    from simplepolygon_spark.sources.footprints import footprints_df

    rings = decompose_polygons(footprints_df(spark, grid=3))
    bc = broadcast_index(spark, build_interval_index(rings, cover_level=8))
    # a valid in-ring point (grid cell centers carry footprints) plus
    # invalid ones
    valid_hits = pip_join(
        spark.createDataFrame(
            [("ok", -113.3, -53.3)], "image_id string, lon double, lat double"
        ),
        bc,
    ).count()
    bad = spark.createDataFrame(
        [
            ("lon_hi", 190.0, -53.3),
            ("lon_lo", -190.0, -53.3),
            ("lat_hi", -113.3, 95.0),
            ("nan", math.nan, -53.3),
        ],
        "image_id string, lon double, lat double",
    )
    assert pip_join(bad, bc).count() == 0
    assert pip_join_relational(bad, rings, cover_level=8).count() == 0
    assert valid_hits >= 1  # the rejection is not just dropping everything


def test_interval_index_assign_equals_guard_lookup_refine():
    """IntervalIndex.assign == the guard + lookup + refine sequence,
    with point indices into the caller's unfiltered arrays.  The east
    ring overhangs lon=180, so lon=190 clips into one of its FULL cells
    and only the guard keeps it out."""
    east = [[150.0, -30.0], [200.0, -30.0], [200.0, 30.0], [150.0, 30.0], [150.0, -30.0]]
    west = [[-10.0, -10.0], [10.0, -10.0], [10.0, 10.0], [-10.0, 10.0], [-10.0, -10.0]]
    idx = build_interval_index(
        [
            {"polygon_id": "east", "ring_index": 0, "coords": east},
            {"polygon_id": "west", "ring_index": 0, "coords": west},
        ],
        cover_level=8,
    )
    lon = np.array([165.0, 190.0, np.nan, 0.0, -190.0, 150.01, 179.9, 165.0, 9.99])
    lat = np.array([0.0, 0.0, 0.0, 0.0, 0.0, 29.99, 0.0, 95.0, np.inf])

    ok = (
        np.isfinite(lon) & np.isfinite(lat)
        & (lon >= -180.0) & (lon <= 180.0)
        & (lat >= -90.0) & (lat <= 90.0)
    )
    rows = np.flatnonzero(ok)
    pt, rid, full = idx.lookup(lon[rows], lat[rows])
    pt, rid = idx.refine(lon[rows], lat[rows], pt, rid, full)

    got_pt, got_rid = idx.assign(lon, lat)
    assert got_pt.tolist() == rows[pt].tolist()
    assert got_rid.tolist() == rid.tolist()
    assert got_pt.tolist() == [0, 3, 5, 6]
    assert idx.ring_pid[got_rid].tolist() == ["east", "west", "east", "east"]
    # the interior point and the clipped lon=190 point both hit FULL cells
    assert idx.lookup(lon[:2], lat[:2])[2].all()


def test_pip_join_relational_output_names_with_custom_cols(spark):
    """Custom lon_col/lat_col input names must not leak into the output:
    both paths emit lon/lat (drop-in replacements for each other)."""
    from simplepolygon_spark.operators.decompose import decompose_polygons
    from simplepolygon_spark.operators.tiling import pip_join_relational
    from simplepolygon_spark.sources.footprints import footprints_df

    rings = decompose_polygons(footprints_df(spark, grid=3))
    pts = spark.createDataFrame(
        [("a", -113.3, -53.3)], "image_id string, x double, y double"
    )
    out = pip_join_relational(pts, rings, cover_level=8, lon_col="x", lat_col="y")
    assert out.columns == ["image_id", "lon", "lat", "polygon_id", "ring_index"]


def _covers_by_key(idx):
    """(polygon_id, ring_index) -> (ring, sorted cover) of an index, its
    intervals read back from the CSR: interval i spans the segments from
    its first to its last, [bp[first], bp[last + 1] - 1]."""
    seg = np.repeat(np.arange(len(idx.bp)), np.diff(idx.seg_ptr))
    first = np.full(len(idx.iv_ring), len(idx.bp))
    last = np.full(len(idx.iv_ring), -1)
    np.minimum.at(first, idx.seg_ids, seg)
    np.maximum.at(last, idx.seg_ids, seg)
    cover = np.column_stack([idx.bp[first], idx.bp[last + 1] - 1, idx.iv_full])
    return {
        key: (idx.rings[r].tolist(), sorted(map(tuple, cover[idx.iv_ring == r].tolist())))
        for r, key in enumerate(idx.ring_keys)
    }


def test_one_partition_build_equals_list_build(spark):
    """The DataFrame build covers the input's own partitions, with no
    repartition: a one-partition layer builds the list path's index up
    to ring order, and ``covers_df`` gives one row set on 1 and 8
    partitions."""
    from simplepolygon_spark.operators.crosswalk import covers_df
    from simplepolygon_spark.sources.footprints import footprints_df

    rings = decompose_polygons(footprints_df(spark, grid=3)).cache()
    one = rings.coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    from_df = build_interval_index(one, cover_level=9)
    from_list = build_interval_index(rings.collect(), cover_level=9)
    assert from_df.stats == from_list.stats and from_df.stats["n_rings"] > 20
    assert _covers_by_key(from_df) == _covers_by_key(from_list)

    def rows(df):
        return sorted(tuple(r) for r in covers_df(df, 9).collect())

    eight = rings.repartition(8)
    assert eight.rdd.getNumPartitions() == 8
    assert rows(one) == rows(eight)
    rings.unpersist()


def test_four_partition_build_equals_list_build_exactly(spark):
    """The DataFrame build collects the rings in partition order and
    runs the list build's driver code: on a 4-partition layer both give
    the same ring order and byte-equal arrays."""
    rings = decompose_polygons(footprints_df(spark, grid=3)).repartition(4).cache()
    assert rings.rdd.getNumPartitions() == 4
    from_df = build_interval_index(rings, cover_level=9)
    from_list = build_interval_index(rings.collect(), cover_level=9)
    rings.unpersist()
    assert from_df.stats == from_list.stats and from_df.stats["n_rings"] > 20
    assert from_df.ring_pid.tolist() == from_list.ring_pid.tolist()
    assert from_df.max_level == from_list.max_level
    for name in ("ring_ridx", "ring_pts", "ring_off", "bp", "seg_ptr", "seg_ids", "iv_ring", "iv_full", "centroids"):
        a, b = getattr(from_df, name), getattr(from_list, name)
        assert (a.dtype, a.shape) == (b.dtype, b.shape), name
        assert a.tobytes() == b.tobytes(), name


def test_dataframe_build_names_degenerate_ring_on_driver(spark):
    """Two bad rings after good ones in a DataFrame layer: the build
    fails on the driver with a plain ValueError naming the first."""
    good = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
    df = spark.createDataFrame(
        [
            ("ok", 0, good),
            ("ok", 1, good),
            ("bad", 3, [[0.0, 0.0], [1.0, 1.0], [0.0, 0.0]]),
            ("worse", 4, [[0.0, 0.0], [float("nan"), 1.0], [1.0, 1.0], [0.0, 0.0]]),
        ],
        "polygon_id string, ring_index int, coords array<array<double>>",
    )
    with pytest.raises(ValueError, match=r"\('bad', 3\): ring has fewer than 4 positions \(got 3\)") as exc:
        build_interval_index(df, cover_level=8)
    assert type(exc.value) is ValueError


def test_build_centroids_equal_per_ring_mean_exactly():
    """The build's vectorized centroids are bit-identical to each ring's
    ``r[:-1].mean(axis=0)`` (the closing position left out), the form
    perfbench's kNN oracle computes."""
    rng = np.random.default_rng(5)
    rings = []
    for n in [4, 5, 9, 40, 400, 3000]:
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
        rad = rng.uniform(0.2, 1.0, n) * rng.uniform(0.01, 3.0)
        cx, cy = rng.uniform(-140, 140), rng.uniform(-60, 60)
        rings.append(np.column_stack([cx + rad * np.cos(ang), cy + 0.5 * rad * np.sin(ang)]))
    rings[1] = np.vstack([rings[1], rings[1][:1]])  # one ring arrives closed, the rest open
    idx = build_interval_index(
        [{"polygon_id": f"p{i}", "ring_index": 0, "coords": r.tolist()} for i, r in enumerate(rings)],
        cover_level=6,
    )
    assert idx.centroids.shape == (len(rings), 2)
    for r, ring in enumerate(idx.rings):
        want = ring[:-1].mean(axis=0)
        assert idx.centroids[r].tobytes() == want.tobytes(), r
