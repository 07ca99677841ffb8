"""kNN join parity (broadcast grid search vs relational window
formulation vs numpy brute force) and crosswalk oracle checks."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from simplepolygon_spark.cells import cell_range_at_max, cover_ring
from simplepolygon_spark.operators.crosswalk import _bbox_cells, crosswalk
from simplepolygon_spark.operators.decompose import decompose_polygons
from simplepolygon_spark.operators import knn
from simplepolygon_spark.operators.knn import knn_join, knn_join_window, nearest_rings
from simplepolygon_spark.operators.tiling import IntervalIndex, broadcast_index, build_interval_index
from simplepolygon_spark.sources.footprints import WINDOW, footprints_df


def _setup(spark, grid=2, cover_level=8):
    rows = decompose_polygons(footprints_df(spark, grid=grid)).collect()
    idx = build_interval_index(rows, cover_level=cover_level)
    return rows, idx, broadcast_index(spark, idx)


def _pts_df(spark, n=500, seed=23):
    rng = np.random.default_rng(seed)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"q{i:05d}" for i in range(n)],
                "lon": rng.uniform(WINDOW[0], WINDOW[2], n),
                "lat": rng.uniform(WINDOW[1], WINDOW[3], n),
            }
        )
    ).repartition(4)


def test_knn_matches_bruteforce_and_window(spark):
    rows, idx, bc = _setup(spark)
    pts = _pts_df(spark)
    k = 3
    got = knn_join(pts, bc, k=k).toPandas()
    assert set(got.groupby("image_id").size()) == {k}

    # numpy brute-force oracle on distances
    pdf = pts.toPandas()
    cents = idx.centroids
    d2 = (pdf.lon.to_numpy()[:, None] - cents[None, :, 0]) ** 2 + (
        pdf.lat.to_numpy()[:, None] - cents[None, :, 1]
    ) ** 2
    got_g = got.sort_values(["image_id", "rank"]).groupby("image_id")
    for qi, iid in enumerate(pdf.image_id):
        expect = np.sort(d2[qi])[:k]
        mine = got_g.get_group(iid)["dist"].to_numpy() ** 2
        assert np.allclose(np.sort(mine), expect, rtol=1e-12)

    # relational window formulation agrees on the (id, ring) sets
    cent_rows = [
        (idx.ring_keys[r][0], int(idx.ring_keys[r][1]), float(cents[r, 0]), float(cents[r, 1]))
        for r in range(len(cents))
    ]
    cdf = spark.createDataFrame(
        cent_rows, "polygon_id string, ring_index int, cx double, cy double"
    )
    win = knn_join_window(pts, cdf, k=k).toPandas()
    a = set(map(tuple, got[["image_id", "polygon_id", "ring_index"]].itertuples(index=False)))
    b = set(map(tuple, win[["image_id", "polygon_id", "ring_index"]].itertuples(index=False)))
    assert a == b


def test_knn_boundary_ties_match_window_exactly(spark):
    """Four rings exactly equidistant from the query point, k=2: the
    Arrow path must keep the same two rows as the window oracle's
    ORDER BY dist, polygon_id, ring_index — not an arbitrary
    argpartition subset (round-1 advice)."""
    def square(cx, cy):
        return [
            [cx - 0.1, cy - 0.1], [cx + 0.1, cy - 0.1],
            [cx + 0.1, cy + 0.1], [cx - 0.1, cy + 0.1], [cx - 0.1, cy - 0.1],
        ]

    # centroids at (±1, 0), (0, ±1): all at distance exactly 1 from origin
    rows = [
        {"polygon_id": pid, "ring_index": ri, "coords": square(cx, cy)}
        for pid, ri, cx, cy in [
            ("pD", 0, 1.0, 0.0), ("pB", 1, -1.0, 0.0),
            ("pB", 0, 0.0, 1.0), ("pA", 0, 0.0, -1.0),
        ]
    ]
    idx = build_interval_index(rows, cover_level=6)
    bc = broadcast_index(spark, idx)
    pts = spark.createDataFrame(
        [("q0", 0.0, 0.0)], "image_id string, lon double, lat double"
    )
    got = (
        knn_join(pts, bc, k=2)
        .toPandas()
        .sort_values("rank")[["polygon_id", "ring_index"]]
        .values.tolist()
    )
    cdf = spark.createDataFrame(
        [(r["polygon_id"], r["ring_index"], float(np.mean([p[0] for p in r["coords"][:-1]])),
          float(np.mean([p[1] for p in r["coords"][:-1]])))
         for r in rows],
        "polygon_id string, ring_index int, cx double, cy double",
    )
    win = (
        knn_join_window(pts, cdf, k=2)
        .toPandas()
        .sort_values("rank")[["polygon_id", "ring_index"]]
        .values.tolist()
    )
    assert got == win == [["pA", 0], ["pB", 0]]


@pytest.mark.parametrize("k", [0, -1, 1.5, "3", True, None])
def test_knn_rejects_bad_k_at_call_time(spark, k):
    """k must be an int >= 1, checked when the plan is built rather
    than in the Python worker, by both forms."""
    pts = spark.createDataFrame([("q0", 0.0, 0.0)], "image_id string, lon double, lat double")
    cents = spark.createDataFrame([("p", 0, 0.0, 0.0)], "polygon_id string, ring_index int, cx double, cy double")
    with pytest.raises(ValueError, match="k must be an int >= 1"):
        knn_join(pts, None, k=k)
    with pytest.raises(ValueError, match="k must be an int >= 1"):
        knn_join_window(pts, cents, k=k)


def test_knn_nonfinite_points_match_window(spark):
    """A NaN or infinite coordinate is equally far (NaN or inf) from
    every ring, so both forms emit the k smallest (polygon_id,
    ring_index) keys with that dist."""
    rows = [
        {"polygon_id": pid, "ring_index": ri, "coords": _square(cx, cy)}
        for pid, ri, cx, cy in [("pD", 0, 1.0, 0.0), ("pB", 1, -1.0, 0.0), ("pB", 0, 0.0, 1.0), ("pA", 0, 0.0, -1.0)]
    ]
    idx = build_interval_index(rows, cover_level=6)
    nan, inf = float("nan"), float("inf")
    pts = spark.createDataFrame(
        [("a", nan, 0.0), ("b", 0.0, nan), ("c", inf, 0.0), ("d", 0.0, -inf), ("e", inf, nan)],
        "image_id string, lon double, lat double",
    )
    got = knn_join(pts, broadcast_index(spark, idx), k=3).toPandas()
    win = knn_join_window(pts, _centroid_df(spark, idx), k=3).toPandas()
    for df in (got, win):
        df = df.sort_values(["image_id", "rank"])
        assert df.groupby("image_id")["polygon_id"].apply(list).to_dict() == {
            i: ["pA", "pB", "pB"] for i in "abcde"
        }
        assert df.groupby("image_id")["ring_index"].apply(list).to_dict() == {i: [0, 0, 1] for i in "abcde"}
        d = df.set_index(["image_id", "rank"])["dist"]
        assert d.loc[["a", "b", "e"]].isna().all() and np.isposinf(d.loc[["c", "d"]]).all()


def _square(cx, cy):
    return [
        [cx - 0.1, cy - 0.1], [cx + 0.1, cy - 0.1],
        [cx + 0.1, cy + 0.1], [cx - 0.1, cy + 0.1], [cx - 0.1, cy - 0.1],
    ]


def _centroid_df(spark, idx):
    return spark.createDataFrame(
        [(p, int(r), float(c[0]), float(c[1])) for (p, r), c in zip(idx.ring_keys, idx.centroids)],
        "polygon_id string, ring_index int, cx double, cy double",
    )


# ---------------------------------------------------------------------------
# the grid kernel against a full stable-argsort brute force, bit for bit
# ---------------------------------------------------------------------------


def _layer(cents, pids=None):
    """An index that only carries ring keys and centroids — all the kNN
    kernel reads.  Keys default to a shuffled (polygon_id, ring_index)
    order, so ring id and rank differ."""
    cents = np.asarray(cents, dtype=np.float64).reshape(-1, 2)
    R = len(cents)
    if pids is None:
        pids = [f"p{(7 * i) % 11:02d}" for i in range(R)]
    z = np.zeros(0, dtype=np.int64)
    return IntervalIndex(
        np.array(pids, dtype=object), (np.arange(R) % 5).astype(np.int32), np.zeros((0, 2)), z,
        z, z, z, z, np.zeros(0, dtype=bool), centroids=cents,
    )


def _brute(idx, lon, lat, k):
    order = np.lexsort((idx.ring_ridx, idx.ring_pid))
    c = idx.centroids[order]
    dx = lon[:, None] - c[None, :, 0]
    dy = lat[:, None] - c[None, :, 1]
    d = np.sqrt(dx * dx + dy * dy)
    o = np.argsort(d, axis=1, kind="stable")[:, : min(k, len(c))]
    return order[o], np.take_along_axis(d, o, axis=1)


def _assert_exact(idx, lon, lat, k):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ring, dist = nearest_rings(idx, lon, lat, k)
    want_ring, want_dist = _brute(idx, lon, lat, k)
    assert ring.shape == want_ring.shape == (len(lon), min(k, len(idx.centroids)))
    bad = np.flatnonzero((ring != want_ring).any(axis=1))
    assert len(bad) == 0, (bad[:5], lon[bad[:5]], lat[bad[:5]])
    assert dist.tobytes() == want_dist.tobytes()  # bit for bit, NaN included


def _world_layer(rng):
    """Like ``ingest``'s layer: a dense fixture block within ±7° plus a
    crossing tail of tight clusters spread over lon -149..125."""
    fixture = rng.uniform(-7, 7, (346, 2))
    centers = np.column_stack([rng.uniform(-149, 125, 6), rng.uniform(-60, 60, 6)])
    tail = centers[rng.integers(0, 6, 547)] + rng.uniform(0, 0.3, (547, 2))
    return np.concatenate([fixture, tail])


def test_knn_kernel_exact_on_world_spanning_layer():
    rng = np.random.default_rng(5)
    idx = _layer(_world_layer(rng))
    lon = np.concatenate([rng.uniform(-7, 7, 3000), rng.uniform(-180, 180, 1000)])
    lat = np.concatenate([rng.uniform(-7, 7, 3000), rng.uniform(-90, 90, 1000)])
    for k in (1, 3, 10):
        _assert_exact(idx, lon, lat, k)


def test_knn_kernel_exact_outside_bbox_and_on_break_lines():
    rng = np.random.default_rng(6)
    cents = rng.uniform(-5, 5, (400, 2))
    idx = _layer(cents)
    g = knn._grid(idx)
    assert g.nx > 4 and g.ny > 4  # a real grid, so the block stages run
    xs, ys = g.xe[1:-1], g.ye[1:-1]
    on_breaks = np.array([(x, y) for x in xs for y in ys])
    outside = np.array([(-6, 0), (6, 0), (0, 6), (0, -6), (-9, -9), (9, 9), (1e6, 3), (-3, -1e6), (1e300, 1e300)])
    at_cents = cents[::7]
    pts = np.concatenate([on_breaks, outside, at_cents, np.column_stack([xs[:5], rng.uniform(-5, 5, 5)])])
    for k in (1, 3, 9):
        _assert_exact(idx, pts[:, 0], pts[:, 1], k)


def test_knn_kernel_exact_on_ties_across_cells():
    """Integer centroids at distance exactly 5 from integer query points
    — (±3, ±4), (±4, ±3), (±5, 0), (0, ±5) — straddle many grid cells;
    k cuts through the tied group, so rank decides."""
    ring5 = [(a, b) for a, b in [(3, 4), (4, 3), (5, 0), (0, 5)] for a, b in [(a, b), (-a, b), (a, -b), (-a, -b)]]
    ring5 = np.unique(np.array(ring5, dtype=float), axis=0)
    rng = np.random.default_rng(7)
    centres = rng.integers(-20, 21, (12, 2)).astype(float)
    cents = np.concatenate([ring5 + c for c in centres] + [rng.integers(-30, 31, (100, 2)).astype(float)])
    idx = _layer(cents)
    for k in (1, 2, 5, 12, 13):
        _assert_exact(idx, centres[:, 0], centres[:, 1], k)


def test_knn_kernel_exact_on_duplicate_centroids():
    rng = np.random.default_rng(8)
    cents = np.repeat(rng.integers(-4, 5, (40, 2)).astype(float), 6, axis=0)
    idx = _layer(cents)
    lon = np.concatenate([rng.integers(-6, 7, 200), rng.uniform(-6, 6, 200)]).astype(float)
    lat = np.concatenate([rng.integers(-6, 7, 200), rng.uniform(-6, 6, 200)]).astype(float)
    for k in (1, 4, 7, 25):
        _assert_exact(idx, lon, lat, k)


@pytest.mark.parametrize("R", [0, 1, 2])
def test_knn_kernel_exact_on_tiny_layers(R):
    idx = _layer(np.arange(2 * R, dtype=float).reshape(R, 2))
    lon, lat = np.array([0.0, 3.5, -1.0]), np.array([0.0, 1.0, 9.0])
    for k in (1, 3):
        _assert_exact(idx, lon, lat, k)


def test_knn_kernel_pins_nonfinite_points():
    """NaN/±inf coordinates: the k smallest ring keys, dist NaN or inf
    — the window form's answer too (``test_knn_nonfinite_points_match_window``)."""
    rng = np.random.default_rng(9)
    idx = _layer(rng.uniform(-5, 5, (300, 2)))
    nan, inf = np.nan, np.inf
    lon = np.array([nan, 0.0, nan, inf, -inf, inf, 1.0, inf])
    lat = np.array([0.0, nan, nan, 0.0, 2.0, -inf, -inf, nan])
    _assert_exact(idx, lon, lat, 4)
    ring, dist = nearest_rings(idx, lon, lat, 4)
    first = np.lexsort((idx.ring_ridx, idx.ring_pid))[:4]
    assert (ring == first).all()
    assert np.isnan(dist[[0, 1, 2, 7]]).all() and np.isposinf(dist[3:7]).all()


@settings(max_examples=60, deadline=None)
@given(
    seed=st.integers(0, 2**32 - 1),
    R=st.integers(0, 400),
    shape=st.sampled_from(["uniform", "clustered", "lattice", "world"]),
    k=st.integers(1, 12),
    far=st.booleans(),
    extra=st.lists(
        st.tuples(
            st.floats(allow_nan=True, allow_infinity=True, width=64),
            st.floats(allow_nan=True, allow_infinity=True, width=64),
        ),
        max_size=6,
    ),
)
def test_knn_kernel_exact_hypothesis(seed, R, shape, k, far, extra):
    rng = np.random.default_rng(seed)
    if shape == "uniform":
        cents = rng.uniform(-10, 10, (R, 2))
    elif shape == "clustered":
        cents = rng.uniform(-100, 100, (4, 2))[rng.integers(0, 4, R)] + rng.normal(0, 0.5, (R, 2))
    elif shape == "lattice":
        cents = rng.integers(-4, 5, (R, 2)).astype(float)
    else:
        cents = _world_layer(rng)[rng.permutation(893)[:R]]
    idx = _layer(cents)
    n = 200
    scale = 200.0 if far else 12.0
    lon, lat = rng.uniform(-scale, scale, n), rng.uniform(-scale, scale, n)
    if shape == "lattice":
        lon, lat = np.round(lon), np.round(lat)
    if R:  # some queries exactly on centroids and on their break lines
        lon[:20], lat[:20] = cents[rng.integers(0, R, 20)].T
        lon[20:30] = cents[rng.integers(0, R, 10), 0]
    if extra:
        lon, lat = np.concatenate([lon, [e[0] for e in extra]]), np.concatenate([lat, [e[1] for e in extra]])
    _assert_exact(idx, lon, lat, k)


def test_knn_kernel_bounded_candidate_memory(monkeypatch):
    """With the entry cap cut to 300, every stage still holds at most
    300 (row, centroid) entries and the output does not change, on a
    layer where most rows widen to the whole grid (queries far outside
    a compact layer)."""
    rng = np.random.default_rng(10)
    idx = _layer(rng.uniform(-3, 3, (150, 2)))
    lon = np.concatenate([rng.uniform(-400, 400, 300), rng.uniform(-3, 3, 50)])
    lat = np.concatenate([rng.uniform(-400, 400, 300), rng.uniform(-3, 3, 50)])
    want = nearest_rings(idx, lon, lat, 4)

    held, widened = [], []
    best, block = knn._best, knn._block_stage

    def spy_best(key, rk, kk):
        held.append(key.size)
        return best(key, rk, kk)

    def spy_block(*a):
        rest = block(*a)
        widened.append(len(rest))
        return rest

    monkeypatch.setattr(knn, "_MAX_ENTRIES", 300)
    monkeypatch.setattr(knn, "_best", spy_best)
    monkeypatch.setattr(knn, "_block_stage", spy_block)
    got = nearest_rings(_layer(idx.centroids), lon, lat, 4)
    assert widened and widened[-1] > len(lon) // 2  # most rows reach the whole grid
    assert len(held) > 10 and max(held) <= 300
    assert np.array_equal(got[0], want[0]) and got[1].tobytes() == want[1].tobytes()
    _assert_exact(idx, lon, lat, 4)


def test_crosswalk_matches_bruteforce(spark):
    rows, idx, bc = _setup(spark, grid=2, cover_level=9)
    n = 60
    rng = np.random.default_rng(41)
    lon = rng.uniform(WINDOW[0], WINDOW[2], n)
    lat = rng.uniform(WINDOW[1], WINDOW[3], n)
    tiles = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"t{i:04d}" for i in range(n)],
                "lon_min": lon - 0.5,
                "lat_min": lat - 0.5,
                "lon_max": lon + 0.5,
                "lat_max": lat + 0.5,
            }
        )
    ).repartition(4)
    level = 10
    got = {
        (r.image_id, r.cell_id, r.polygon_id, r.ring_index)
        for r in crosswalk(tiles, bc, level=level).collect()
    }

    # independent oracle: per-ring covers computed directly, interval
    # overlap by linear scan
    covers = []
    for row in rows:
        ring = np.asarray([list(c) for c in row["coords"]])
        covers.append(
            (row["polygon_id"], row["ring_index"], cover_ring(ring, max_level=9, abs_max=idx.max_level))
        )
    expected = set()
    for i in range(n):
        for c in _bbox_cells(lon[i] - 0.5, lat[i] - 0.5, lon[i] + 0.5, lat[i] + 0.5, level):
            lo, hi = cell_range_at_max(np.array([c]), level, idx.max_level)
            lo, hi = int(lo[0]), int(hi[0])
            any_hit = False
            for pid, ridx, cov in covers:
                if any(l_ <= hi and h_ >= lo for l_, h_, _f in cov):
                    expected.add((f"t{i:04d}", int(c), pid, ridx))
                    any_hit = True
            if not any_hit:
                expected.add((f"t{i:04d}", int(c), None, None))

    assert got == expected


def test_crosswalk_relational_fallback_equals_broadcast(spark):
    """The cell-bucket equi-join path (no broadcast index) must produce
    exactly the broadcast crosswalk's rows, and its plan must be an
    equi-join on the bucket key (no cartesian)."""
    from simplepolygon_spark.operators.crosswalk import crosswalk_relational
    from simplepolygon_spark.sources.images import images_df

    rings = decompose_polygons(footprints_df(spark, grid=2))
    idx = build_interval_index(rings.collect(), cover_level=8)
    bc = broadcast_index(spark, idx)
    imgs = images_df(spark, 300, partitions=4, with_bytes=False)

    a = crosswalk(imgs, bc, level=10)
    b = crosswalk_relational(
        imgs, rings, level=10, cover_level=8, bucket_level=6
    )
    rows_a = {(r.image_id, r.cell_id, r.polygon_id, r.ring_index) for r in a.collect()}
    rows_b = {(r.image_id, r.cell_id, r.polygon_id, r.ring_index) for r in b.collect()}
    assert rows_a == rows_b
    assert len(rows_a) > 0

    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
