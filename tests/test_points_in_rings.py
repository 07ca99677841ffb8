"""The batched ray-cast ``geom.points_in_rings`` against the scalar
reference ``geom.point_in_ring(..., True)``, pair by pair, and a source
scan that keeps it the package's only batched ray-cast (no Spark)."""

from __future__ import annotations

import ast
import pathlib

import numpy as np
import pytest

import simplepolygon_spark
import simplepolygon_spark.geom as geom
from simplepolygon_spark.decompose import decompose
from simplepolygon_spark.geom import point_in_ring, point_in_ring_batch, points_in_rings, ring_mats, ring_table
from simplepolygon_spark.sources.fixtures import NORTH_STAR_FIXTURES


def _random_rings(rng, n, grid):
    """Random rings on an integer grid (so vertices, midpoints and
    collinear points are exact), every other one left unclosed."""
    out = []
    for k in range(n):
        r = rng.integers(0, grid, (int(rng.integers(3, 12)), 2)).astype(np.float64)
        out.append(np.vstack([r, r[:1]]) if k % 2 else r)
    return out


def _decomposed_rings():
    rng = np.random.default_rng(5)
    polys = [v for k, v in NORTH_STAR_FIXTURES.items() if k != "unclosed"]
    for nv in (16, 40):
        ring = rng.uniform(0.0, 0.3, (nv, 2)).tolist()
        polys.append([ring + [ring[0]]])
    return [np.asarray(f["coords"], np.float64) for p in polys for f in decompose(p)]


def _probes(rings, rng, n_random):
    """Every vertex, edge midpoint, collinear extension of an edge past
    either end, and point inside a horizontal edge, plus random points."""
    pts = []
    for r in rings:
        a, b = r, np.roll(r, -1, axis=0)
        pts += [a, (a + b) / 2, 2 * b - a, 2 * a - b, a + (b - a) / 4]
        flat = a[:, 1] == b[:, 1]
        pts.append((a[flat] + b[flat]) / 2 + [[0.25, 0.0]])
    box = np.vstack(rings)
    lo, hi = box.min(axis=0) - 1, box.max(axis=0) + 1
    pts.append(rng.uniform(lo, hi, (n_random, 2)))
    return np.vstack(pts)


def _assert_pairwise_equal(rings, pts, ring_id):
    table, off = ring_table(rings)
    got = points_in_rings(pts[:, 0], pts[:, 1], ring_id, table, off)
    want = [point_in_ring(pts[k], rings[ring_id[k]], True) for k in range(len(pts))]
    assert got.tolist() == want
    return got


@pytest.mark.parametrize("seed", range(4))
def test_points_in_rings_equals_scalar_on_random_rings(seed):
    rng = np.random.default_rng(seed)
    rings = _random_rings(rng, 25, 8)
    pts = _probes(rings, rng, 400)
    ring_id = rng.integers(0, len(rings), len(pts))
    got = _assert_pairwise_equal(rings, pts, ring_id)
    assert 0 < got.sum() < len(got)


def test_points_in_rings_equals_scalar_on_decomposed_fixtures():
    rng = np.random.default_rng(9)
    rings = _decomposed_rings()
    pts = _probes(rings, rng, 300)
    # every probe against every ring
    ring_id = np.tile(np.arange(len(rings)), len(pts))
    pts = np.repeat(pts, len(rings), axis=0)
    got = _assert_pairwise_equal(rings, pts, ring_id)
    assert got.any()


def test_points_in_rings_chunks_split_rings(monkeypatch):
    """With the row budget at 7, a 60-edge ring spans many passes and
    passes start and end inside pairs; the answer must not change."""
    rng = np.random.default_rng(3)
    t = np.linspace(0.0, 2 * np.pi, 61)[:-1]
    big = np.c_[np.cos(t), np.sin(t) * (1 + 0.3 * np.cos(3 * t))]
    rings = [np.vstack([big, big[:1]]), np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.0, 0.0]])]
    rings += _random_rings(rng, 4, 3)
    pts = _probes(rings, rng, 200)
    ring_id = rng.integers(0, len(rings), len(pts))
    table, off = ring_table(rings)
    default = points_in_rings(pts[:, 0], pts[:, 1], ring_id, table, off)
    monkeypatch.setattr(geom, "_ROW_BUDGET", 7)
    assert len(big) > geom._ROW_BUDGET
    assert _assert_pairwise_equal(rings, pts, ring_id).tolist() == default.tolist()


def test_point_in_ring_batch_is_the_one_ring_case():
    rng = np.random.default_rng(4)
    ring = _random_rings(rng, 2, 6)[1]
    pts = _probes([ring], rng, 100)
    got = point_in_ring_batch(pts[:, 0], pts[:, 1], ring)
    assert got.tolist() == [point_in_ring(p, ring, True) for p in pts]


def test_empty_and_degenerate_inputs():
    table, off = ring_table([np.zeros((0, 2)), np.array([[1.0, 1.0]])])
    assert points_in_rings([1.0, 1.0], [1.0, 1.0], [0, 1], table, off).tolist() == [False, False]
    assert points_in_rings([], [], [], table, off).tolist() == []


def test_ring_tables_close_open_rings():
    """Both table builders append the first position to an open ring
    and leave closed and empty rings as they are."""
    import pyarrow as pa

    rings = [[[0.0, 0.0], [2.0, 0.0], [0.0, 2.0]], [], [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.0, 0.0]], [[5.0, 5.0], [6.0, 5.0]]]
    pts, off = ring_table(rings)
    assert off.tolist() == [0, 4, 4, 8, 11]
    assert pts[off[3] : off[4]].tolist() == [[5.0, 5.0], [6.0, 5.0], [5.0, 5.0]]
    mpts, moff = ring_mats(pa.array(rings, pa.list_(pa.list_(pa.float64()))))
    assert np.array_equal(mpts, pts) and np.array_equal(moff, off)


def _crossing_predicates(tree):
    """(function, line) of every even-odd crossing test ``(a > b) != (c > d)``
    (or ``^``) in a module."""
    hits = []

    def both_compares(l, r):
        return isinstance(l, ast.Compare) and isinstance(r, ast.Compare)

    def visit(node, where):
        for child in ast.iter_child_nodes(node):
            name = f"{where}.{child.name}" if isinstance(child, (ast.FunctionDef, ast.ClassDef)) else where
            if isinstance(child, ast.Compare) and isinstance(child.ops[0], ast.NotEq) and both_compares(child.left, child.comparators[0]):
                hits.append((name, child.lineno))
            if isinstance(child, ast.BinOp) and isinstance(child.op, ast.BitXor) and both_compares(child.left, child.right):
                hits.append((name, child.lineno))
            visit(child, name)

    visit(tree, "")
    return hits


def test_one_ray_cast_in_the_package():
    """The even-odd crossing predicate appears only in the scalar
    reference and the batched kernel: every other point-in-ring test
    must call ``points_in_rings``."""
    root = pathlib.Path(simplepolygon_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        mod = ".".join(path.relative_to(root.parent).with_suffix("").parts)
        found |= {f"{mod}{fn}" for fn, _ in _crossing_predicates(ast.parse(path.read_text()))}
    assert found == {"simplepolygon_spark.geom.point_in_ring", "simplepolygon_spark.geom.points_in_rings"}
