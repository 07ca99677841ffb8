"""Polygon↔polygon overlap join (operators/overlap.py) vs an
independent brute-force reference implemented in this file.

The reference re-derives the interiors-intersect predicate from scratch
(orientation-sign proper crossings + even-odd crossing-number PIP), so
kernel and operator are checked against independent code, not
themselves.
"""

from __future__ import annotations

import numpy as np
import pytest

from simplepolygon_spark.geom import rings_overlap
from simplepolygon_spark.operators.overlap import overlap_join


# --- independent reference predicate ---------------------------------------


def _orient(ax, ay, bx, by, cx, cy):
    return np.sign((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))


def _proper_cross(p, q, r, s):
    o1 = _orient(*p, *q, *r)
    o2 = _orient(*p, *q, *s)
    o3 = _orient(*r, *s, *p)
    o4 = _orient(*r, *s, *q)
    return o1 * o2 < 0 and o3 * o4 < 0


def _strict_inside(pt, ring):
    x, y = pt
    n = len(ring) - 1
    inside = False
    for k in range(n):
        x1, y1 = ring[k]
        x2, y2 = ring[k + 1]
        # on-boundary -> outside (strict)
        if _orient(x1, y1, x2, y2, x, y) == 0 and min(x1, x2) <= x <= max(
            x1, x2
        ) and min(y1, y2) <= y <= max(y1, y2):
            return False
        if (y1 > y) != (y2 > y) and x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
            inside = not inside
    return inside


def _ref_overlap(A, B):
    if np.array_equal(A, B):
        return True
    for i in range(len(A) - 1):
        for j in range(len(B) - 1):
            if _proper_cross(A[i], A[i + 1], B[j], B[j + 1]):
                return True
    for src, other in ((A, B), (B, A)):
        for k in range(len(src) - 1):
            if _strict_inside(src[k], other):
                return True
            mid = (src[k] + src[k + 1]) / 2.0
            if _strict_inside(mid, other):
                return True
    return False


def _sq(x0, y0, s):
    return np.array(
        [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]],
        dtype=np.float64,
    )


def _tri(x0, y0, s):
    return np.array(
        [[x0, y0], [x0 + s, y0], [x0, y0 + s], [x0, y0]], dtype=np.float64
    )


def _ell(x0, y0, s):
    """Concave L-shape."""
    return np.array(
        [
            [x0, y0],
            [x0 + 2 * s, y0],
            [x0 + 2 * s, y0 + s],
            [x0 + s, y0 + s],
            [x0 + s, y0 + 2 * s],
            [x0, y0 + 2 * s],
            [x0, y0],
        ],
        dtype=np.float64,
    )


LAYER_A = {
    ("a0", 0): _sq(0.0, 0.0, 1.0),
    ("a1", 0): _sq(2.0, 0.0, 1.0),
    ("a2", 0): _sq(0.0, 2.0, 1.0),
    ("a3", 0): _ell(2.0, 2.0, 1.0),
    ("a4", 0): _sq(10.0, 10.0, 2.0),
}
LAYER_B = {
    ("b0", 0): _sq(0.5, 0.5, 1.0),     # overlaps a0
    ("b1", 0): _tri(2.2, 0.2, 0.5),    # inside a1
    ("b2", 0): _sq(1.0, 2.0, 1.0),     # edge-touches a2: NOT overlap
    ("b3", 0): _sq(0.0, 2.0, 1.0),     # identical to a2
    ("b4", 0): _sq(2.5, 2.5, 2.0),     # crosses the L a3
    ("b5", 0): _sq(9.0, 9.0, 8.0),     # contains a4 entirely
    ("b6", 0): _sq(50.0, 50.0, 1.0),   # disjoint from everything
    ("b7", 0): _sq(-1.0, -1.0, 1.0),   # vertex-touches a0: NOT overlap
}


def test_rings_overlap_kernel_matches_reference():
    for (ka, A) in LAYER_A.items():
        for (kb, B) in LAYER_B.items():
            assert rings_overlap(A, B) == _ref_overlap(A, B), (ka, kb)


def _rings_df(spark, layer):
    rows = [
        (pid, ridx, [[float(x), float(y)] for x, y in coords])
        for (pid, ridx), coords in layer.items()
    ]
    return spark.createDataFrame(
        rows, "polygon_id string, ring_index int, coords array<array<double>>"
    )


def test_overlap_join_matches_bruteforce(spark):
    got = {
        (r.a_polygon_id, r.a_ring_index, r.b_polygon_id, r.b_ring_index)
        for r in overlap_join(
            _rings_df(spark, LAYER_A), _rings_df(spark, LAYER_B)
        ).collect()
    }
    want = {
        (ka[0], ka[1], kb[0], kb[1])
        for ka, A in LAYER_A.items()
        for kb, B in LAYER_B.items()
        if _ref_overlap(A, B)
    }
    assert got == want
    # the fixture exercises every relation class
    assert ("a0", 0, "b0", 0) in want      # partial overlap
    assert ("a1", 0, "b1", 0) in want      # B inside A
    assert ("a4", 0, "b5", 0) in want      # A inside B
    assert ("a2", 0, "b3", 0) in want      # identical
    assert ("a3", 0, "b4", 0) in want      # concave crossing
    assert ("a2", 0, "b2", 0) not in want  # edge touch
    assert ("a0", 0, "b7", 0) not in want  # vertex touch


def test_overlap_join_shifted_grid(spark):
    """A dense case: a 5×5 grid vs the same grid shifted by half a
    cell — every interior shifted square overlaps exactly 4 originals;
    operator ≡ brute force on all 625 pairs."""
    A = {(f"g{i}_{j}", 0): _sq(i * 1.0, j * 1.0, 1.0) for i in range(5) for j in range(5)}
    B = {
        (f"s{i}_{j}", 0): _sq(i * 1.0 + 0.5, j * 1.0 + 0.5, 1.0)
        for i in range(5)
        for j in range(5)
    }
    got = {
        (r.a_polygon_id, r.b_polygon_id)
        for r in overlap_join(_rings_df(spark, A), _rings_df(spark, B)).collect()
    }
    want = {
        (ka[0], kb[0])
        for ka, pa_ in A.items()
        for kb, pb in B.items()
        if _ref_overlap(pa_, pb)
    }
    assert got == want
    assert len(got) == sum(1 for _ in want)
    # interior shifted square overlaps its 4 neighbours
    assert {a for (a, b) in got if b == "s1_1"} == {
        "g1_1", "g2_1", "g1_2", "g2_2"
    }


def test_overlap_join_no_cartesian(spark):
    """Candidates come from the bucket equi-join — the plan must not
    contain a CartesianProduct or BroadcastNestedLoopJoin."""
    A = _rings_df(spark, LAYER_A)
    B = _rings_df(spark, LAYER_B)
    plan = (
        overlap_join(A, B)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_overlap_self_dedupes_and_drops_identity(spark):
    """Self-join QA form: each overlapping pair once, no identity
    rows; matches brute force on the mixed fixture layer."""
    from simplepolygon_spark.operators.overlap import overlap_self

    layer = dict(LAYER_A)
    layer[("a5", 0)] = _sq(0.5, 0.5, 1.0)   # overlaps a0
    layer[("a6", 0)] = _sq(2.2, 0.2, 0.5)   # inside a1
    got = {
        (r.a_polygon_id, r.b_polygon_id)
        for r in overlap_self(_rings_df(spark, layer)).collect()
    }
    keys = sorted(layer)
    want = {
        (ka[0], kb[0])
        for i, ka in enumerate(keys)
        for kb in keys[i + 1 :]
        if _ref_overlap(layer[ka], layer[kb])
    }
    assert got == want
    assert ("a0", "a5") in got and ("a1", "a6") in got
    assert all(a != b for a, b in got)


def test_bucket_level_derivation_bounds_candidate_blowup(spark, monkeypatch):
    """VERDICT r5 #6: the fixed bucket_level default was reactive to
    one dataset (commit 96199b0: level 6 on a dense grid layer put
    ~180 ranges/bucket and blew the candidate join past 100M rows).
    The derived level must (a) come out finer than the blowup constant
    on exactly that geometry, (b) keep the bucket-join intermediate
    within a small factor of the true candidate pair count, and
    (c) change nothing about the result — results are level-invariant
    by construction (any overlapping range pair shares its common
    cell's bucket at every level)."""
    from simplepolygon_spark.cells import MAX_LEVEL
    from simplepolygon_spark.operators import overlap
    from simplepolygon_spark.operators.crosswalk import (
        bucketed_cover_spans,
        covers_df,
    )

    # the 96199b0 shape at test scale: a dense unit grid vs a
    # half-cell-shifted copy (every ring overlaps ~4 of the other side)
    n = 24
    A = {
        (f"g{i}_{j}", 0): _sq(i * 1.0, j * 1.0, 1.0)
        for i in range(n)
        for j in range(n)
    }
    B = {
        (f"s{i}_{j}", 0): _sq(i * 1.0 + 0.5, j * 1.0 + 0.5, 1.0)
        for i in range(n)
        for j in range(n)
    }
    dfa, dfb = _rings_df(spark, A), _rings_df(spark, B)
    cov_a = covers_df(dfa, 10, MAX_LEVEL).persist()
    cov_b = covers_df(dfb, 10, MAX_LEVEL).persist()
    try:
        derived = overlap.derive_bucket_level(cov_a, cov_b)
        assert 6 < derived <= MAX_LEVEL

        def intermediate(level):
            return (
                bucketed_cover_spans(cov_a, level, MAX_LEVEL)
                .join(bucketed_cover_spans(cov_b, level, MAX_LEVEL), "bucket")
                .count()
            )

        n_true = (2 * n - 1) ** 2  # strict bbox-overlap pairs of the grids
        at_derived = intermediate(derived)
        at_blowup = intermediate(6)
        # bounded: within a small constant of the true pair count ...
        assert at_derived < 20 * n_true
        # ... and far below the too-coarse-bucket intermediate
        assert at_derived * 5 < at_blowup
    finally:
        cov_a.unpersist()
        cov_b.unpersist()

    # level-invariance of the RESULT: auto vs the old blowup constant
    auto = {
        (r.a_polygon_id, r.b_polygon_id)
        for r in overlap_join(dfa, dfb).collect()
    }
    monkeypatch.setattr(overlap, "derive_bucket_level", lambda a, b: 6)
    pinned = {
        (r.a_polygon_id, r.b_polygon_id)
        for r in overlap_join(dfa, dfb).collect()
    }
    assert auto == pinned
    assert len(auto) == (2 * n - 1) ** 2


def test_overlap_join_releases_covers_when_bucket_derivation_fails(
    spark, monkeypatch
):
    """The persisted covers are released on the exception path too: a
    failure between persist and the candidate checkpoint must not leave
    cached frames registered for the rest of the session."""
    from simplepolygon_spark.operators import overlap

    def boom(cov_a, cov_b):
        raise RuntimeError("bucket derivation failed")

    monkeypatch.setattr(overlap, "derive_bucket_level", boom)
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    with pytest.raises(RuntimeError, match="bucket derivation failed"):
        overlap_join(_rings_df(spark, LAYER_A), _rings_df(spark, LAYER_B))
    assert cache.isEmpty()
