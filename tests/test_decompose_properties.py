"""Property-based invariants of the decomposition kernel (hypothesis).

Beyond fixture parity, any random polygon must satisfy:
  P1 output rings are simple (no proper self-intersections)
  P2 ring windings are ±1 and match the shoelace sign of the ring
  P3 edge conservation: the directed output edges are exactly the input
     edges split at their crossing points (multiset equality)
  P4 net winding telescopes: net(ring) = winding(ring) + net(parent)
  P5 simple inputs pass through verbatim (fast path)
and a sha256 pin of the output on fixed inputs covers what the
properties cannot see (quirks Q1-Q3, parent choice).
"""

from __future__ import annotations

import hashlib

import numpy as np
from hypothesis import given, settings, strategies as st

from simplepolygon_spark.decompose import decompose
from simplepolygon_spark.geom import segment_intersections, signed_area
from simplepolygon_spark.sources.fixtures import NORTH_STAR_FIXTURES


def _coords(n, seed):
    rng = np.random.default_rng(seed)
    pts = rng.uniform(0, 10, (n, 2)).round(3)  # rounding provokes reuse
    # reject duplicate vertices (reference rejects them)
    if len({(x, y) for x, y in pts}) != n:
        return None
    ring = pts.tolist() + [pts[0].tolist()]
    return ring


@settings(max_examples=60, deadline=None)
@given(n=st.integers(4, 9), seed=st.integers(0, 10_000))
def test_random_polygon_invariants(n, seed):
    ring = _coords(n, seed)
    if ring is None:
        return
    feats = decompose([ring])
    assert len(feats) >= 1

    # P1 + P2
    for f in feats:
        arr = np.asarray(f["coords"])
        edges = np.hstack([arr[:-1], arr[1:]])
        ii, _jj, _px, _py, _t, _u = segment_intersections(edges)
        assert len(ii) == 0, "output ring self-intersects"
        assert f["winding"] in (1, -1)
        area = signed_area(arr)
        if abs(area) > 1e-12:
            assert (1 if area > 0 else -1) == f["winding"]

    # P3: edge conservation
    arr_in = np.asarray(ring)
    in_edges = np.hstack([arr_in[:-1], arr_in[1:]])
    ii, jj, px, py, ti, tj = segment_intersections(in_edges)
    cuts: dict[int, list] = {k: [] for k in range(len(in_edges))}
    for a, b, x, y, t, u in zip(ii, jj, px, py, ti, tj):
        cuts[int(a)].append((t, x, y))
        cuts[int(b)].append((u, x, y))
    expected = []
    for k, e in enumerate(in_edges):
        pts = [(0.0, e[0], e[1])] + sorted(cuts[k]) + [(1.0, e[2], e[3])]
        for (t0, x0, y0), (t1, x1, y1) in zip(pts[:-1], pts[1:]):
            expected.append((x0, y0, x1, y1))
    got = []
    for f in feats:
        for p, q in zip(f["coords"][:-1], f["coords"][1:]):
            got.append((p[0], p[1], q[0], q[1]))
    assert sorted(got) == sorted(expected), "edge multiset mismatch"

    # P4
    for f in feats:
        p = f["parent"]
        if p == -1:
            assert f["net_winding"] == f["winding"]
        else:
            assert f["net_winding"] == f["winding"] + feats[p]["net_winding"]


@settings(max_examples=40, deadline=None)
@given(n=st.integers(4, 10), seed=st.integers(0, 10_000))
def test_simple_polygon_fast_path(n, seed):
    rng = np.random.default_rng(seed)
    # star-shaped (sorted by angle around centroid) → always simple
    pts = rng.uniform(0, 10, (n, 2))
    c = pts.mean(axis=0)
    ang = np.arctan2(pts[:, 1] - c[1], pts[:, 0] - c[0])
    pts = pts[np.argsort(ang)]
    if len({(x, y) for x, y in pts}) != n:
        return
    ring = pts.tolist() + [pts[0].tolist()]
    feats = decompose([ring])
    assert len(feats) == 1
    assert feats[0]["coords"] == ring  # verbatim pass-through
    assert feats[0]["index"] is None  # quirk Q3
    assert feats[0]["winding"] == (1 if signed_area(pts[np.r_[0 : len(pts), 0]]) > 0 else -1)


def test_js_number_string_matches_ecma262():
    """Quirk Q1's sort key uses JS String(number) formatting.  Known
    String() outputs (incl. the tiny-magnitude exponent forms that
    Python repr pads differently — round-1 advice) must match."""
    from simplepolygon_spark.geom import js_number_string as js

    cases = {
        0.0: "0", -0.0: "0", 1.0: "1", -3.0: "-3", 12.5: "12.5",
        123.456: "123.456", 0.1: "0.1", 1 / 3: "0.3333333333333333",
        1e-7: "1e-7", -1e-7: "-1e-7", 2.5e-8: "2.5e-8",
        1e-6: "0.000001", 1e-5: "0.00001", 1e-4: "0.0001",
        0.00012345: "0.00012345",
        1e16: "10000000000000000", 1e20: "100000000000000000000",
        1e21: "1e+21", 1.5e21: "1.5e+21", 1e22: "1e+22",
        -170.0: "-170", 179.99999999999997: "179.99999999999997",
    }
    for v, want in cases.items():
        assert js(v) == want, (v, js(v), want)


@given(st.floats(allow_nan=False, allow_infinity=False, width=64))
@settings(max_examples=300, deadline=None)
def test_js_number_string_roundtrips(v):
    """The JS formatting must stay shortest-round-trip: parsing the
    string recovers the exact float64 (String() is round-trip exact)."""
    from simplepolygon_spark.geom import js_number_string as js

    s = js(v)
    assert float(s) == v or (v == 0 and s == "0")


def _shuffled_polygon(seed, nv):
    """A polygon whose vertices come in random order, so each edge
    crosses many others (the crossing-heavy shape of perfbench's tail)."""
    rng = np.random.default_rng(seed)
    xs, ys = rng.uniform(0.0, 0.3, nv), rng.uniform(0.0, 0.3, nv)
    ring = [[float(x), float(y)] for x, y in zip(xs, ys)]
    return [ring + [ring[0]]]


def _squares(n):
    """n concentric CCW squares, outermost first (half-sizes n..1)."""
    return [[[-s, -s], [s, -s], [s, s], [-s, s], [-s, -s]] for s in range(n, 0, -1)]


def _output_digest(cases):
    h = hashlib.sha256()
    for name, rings in cases:
        h.update(name.encode())
        for f in decompose(rings):
            h.update(np.asarray(f["coords"], np.float64).tobytes())
            h.update(repr((f["parent"], f["winding"], f["net_winding"], f["index"])).encode())
    return h.hexdigest()


PINNED_DECOMPOSE_DIGEST = "cd1d434787f479dabf40683b81cb66de9b8ddf10362594336ffccc153661cfcb"


def test_decompose_output_pinned():
    """sha256 of every output ring (coords, parent, winding, net_winding,
    index), recorded with the per-ring scalar parent pass.  The nested
    squares are the only inputs here with several rings containing one
    root, so they pin quirk Q2: listed inner-first, the last containing
    ring in index order (the outermost) is the parent."""
    cases = [(k, v) for k, v in NORTH_STAR_FIXTURES.items() if k != "unclosed"]
    cases += [(f"shuffled{nv}", _shuffled_polygon(1000 + k, nv)) for k, nv in enumerate((16, 32, 48, 64, 80, 96))]
    cases += [("squares_outer_first", _squares(6)), ("squares_inner_first", _squares(6)[::-1])]
    assert [f["parent"] for f in decompose(_squares(6)[::-1])] == [5, 5, 5, 5, 5, -1]
    assert _output_digest(cases) == PINNED_DECOMPOSE_DIGEST


def test_deep_nesting_decomposes():
    """1,001 concentric squares (the fast path): each ring's parent is
    the next-outer square and net windings count the depth.  A
    recursive net-winding pass would raise RecursionError here."""
    feats = decompose(_squares(1001))
    assert [f["parent"] for f in feats] == list(range(-1, 1000))
    assert [f["net_winding"] for f in feats] == list(range(1, 1002))


def _closed(ring):
    r = np.asarray(ring, np.float64)
    return r if (r[0] == r[-1]).all() else np.vstack([r, r[:1]])


def _winding_numbers(px, py, ring):
    """Winding number of one closed ring at each point: the signed count
    of its edges crossing the rightward ray (upward edges with the point
    on their left +1, downward edges with it on their right -1)."""
    r = _closed(ring)
    x0, y0, x1, y1 = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
    px, py = px[:, None], py[:, None]
    side = (x1 - x0) * (py - y0) - (px - x0) * (y1 - y0)
    up = (y0 <= py) & (py < y1) & (side > 0)
    down = (y1 <= py) & (py < y0) & (side < 0)
    return up.sum(axis=1) - down.sum(axis=1)


def _assert_field_and_area(rings, out, seed=0, n_points=300):
    """Two identities of any correct decomposition, checked without the
    kernel.  ``out`` is (coords, winding) per output ring.
      field: at seeded points, the input's winding number (signed
        crossings over the input edges) equals the summed ``winding`` of
        the output rings whose interior holds the point (0 outside all);
      area: the output's summed shoelace equals the input's, because
        ∮x dy is additive over split edges."""
    closed = [_closed(r) for r in rings]
    allpts = np.concatenate(closed)
    lo, hi = allpts.min(axis=0), allpts.max(axis=0)
    pad = 0.1 * (hi - lo)
    pts = np.random.default_rng(seed).uniform(lo - pad, hi + pad, (n_points, 2))
    px, py = pts[:, 0], pts[:, 1]
    field_in = sum(_winding_numbers(px, py, r) for r in closed)
    field_out = sum(w * (_winding_numbers(px, py, c) != 0) for c, w in out)
    assert np.array_equal(field_in, field_out), "winding-number field differs"
    areas_in = [signed_area(r) for r in closed]
    areas_out = [signed_area(np.asarray(c, np.float64)) for c, _w in out]
    scale = sum(map(abs, areas_in)) + sum(map(abs, areas_out))
    assert abs(sum(areas_in) - sum(areas_out)) <= 1e-12 * scale, "shoelace not conserved"


def _identity_cases():
    cases = [(k, v) for k, v in NORTH_STAR_FIXTURES.items() if k != "unclosed"]
    cases += [(f"shuffled{nv}", _shuffled_polygon(1000 + k, nv)) for k, nv in enumerate((16, 32, 48, 64, 80, 96))]
    cases += [("squares_outer_first", _squares(6)), ("squares_inner_first", _squares(6)[::-1])]
    return cases


def test_field_and_area_identities_on_fixtures():
    """The identities on every north-star fixture, the six crossing-heavy
    tails and both nested-square orders.  Summing over every containing
    ring (not taking the innermost one's net winding) is what holds
    under quirk Q2, where inner-first squares all get the outermost
    square as parent."""
    for k, (_name, rings) in enumerate(_identity_cases()):
        out = [(f["coords"], f["winding"]) for f in decompose(rings)]
        _assert_field_and_area(rings, out, seed=k)


@settings(max_examples=60, deadline=None)
@given(n=st.integers(4, 40), seed=st.integers(0, 10_000), shuffled=st.booleans())
def test_field_and_area_identities(n, seed, shuffled):
    """The identities over random (vertices rounded to 3 decimals) and
    crossing-heavy polygons; an input the kernel rejects is skipped."""
    from simplepolygon_spark.decompose import DecomposeError

    rings = _shuffled_polygon(seed, n) if shuffled else [_coords(min(n, 9), seed)]
    if rings[0] is None:
        return
    try:
        feats = decompose(rings)
    except DecomposeError:
        return
    _assert_field_and_area(rings, [(f["coords"], f["winding"]) for f in feats], seed=seed)


def test_field_and_area_identities_through_spark(spark):
    """The Spark operator's rows satisfy the identities on their own
    (no driver kernel run), with Arrow batches of 3 rows so polygons
    span several batches of one task."""
    from simplepolygon_spark.operators.decompose import POLYGONS_SCHEMA, decompose_polygons

    cases = _identity_cases()
    rows = [(name, [[[float(x), float(y)] for x, y in r] for r in rings]) for name, rings in cases]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "3")
    try:
        out = decompose_polygons(spark.createDataFrame(rows, POLYGONS_SCHEMA).coalesce(1)).collect()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    by_pid: dict[str, list] = {}
    for r in out:
        by_pid.setdefault(r.polygon_id, []).append(r)
    assert set(by_pid) == {name for name, _ in cases}
    for k, (name, rings) in enumerate(cases):
        got = sorted(by_pid[name], key=lambda r: r.ring_index)
        assert [r.ring_index for r in got] == list(range(len(got)))
        _assert_field_and_area(rings, [([list(c) for c in r.coords], r.winding) for r in got], seed=k)
