"""Quadkey cell index properties, three-way (numpy / Spark SQL / DuckDB)
equality of the cell id expression, and the ring cover against a
test-local per-cell oracle."""

from __future__ import annotations

import ast
import functools
import hashlib
import pathlib

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

import simplepolygon_spark
import simplepolygon_spark.cells as cells_mod
from simplepolygon_spark.cells import (
    MAX_LEVEL,
    cell_bounds,
    cell_of_point,
    cell_range_at_max,
    cover_ring,
    cover_rings,
    parent_cell,
    spread_bits,
)
from simplepolygon_spark.decompose import decompose
from simplepolygon_spark.functions.cells_sql import cell_sql_expr
from simplepolygon_spark.geom import point_in_ring, ring_table
from simplepolygon_spark.sources.fixtures import NORTH_STAR_FIXTURES
from simplepolygon_spark.sources.footprints import footprint_rows


def _grid_points(n=200, seed=7):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-90, 90, n)
    return lon, lat


def test_point_in_own_cell_bounds():
    lon, lat = _grid_points()
    for lvl in (4, 9, MAX_LEVEL):
        cells = cell_of_point(lon, lat, lvl)
        for i in range(0, len(lon), 17):
            b = cell_bounds(int(cells[i]), lvl)
            assert b[0] <= lon[i] <= b[2] + 1e-9
            assert b[1] <= lat[i] <= b[3] + 1e-9


def test_parent_child_prefix_relation():
    lon, lat = _grid_points()
    fine = cell_of_point(lon, lat, MAX_LEVEL)
    for lvl in (3, 8, 12):
        coarse = cell_of_point(lon, lat, lvl)
        assert np.array_equal(parent_cell(fine, MAX_LEVEL, lvl), coarse)
        lo, hi = cell_range_at_max(coarse, lvl, MAX_LEVEL)
        assert np.all((lo <= fine) & (fine <= hi))


@pytest.mark.parametrize("level, max_level", [(17, 16), (12, 33)])
def test_cell_range_rejects_out_of_range_levels(level, max_level):
    """A level finer than max_level gives every cell the empty range
    (0, -1); a max level over 31 overflows the int64 Morton code."""
    with pytest.raises(ValueError, match=rf"level {level} .* max_level {max_level}"):
        cell_range_at_max(np.array([5]), level, max_level)


def test_build_interval_index_rejects_cover_level_above_max():
    from simplepolygon_spark.operators.tiling import build_interval_index

    square = [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]
    rows = [{"polygon_id": "sq", "ring_index": 0, "coords": square}]
    with pytest.raises(ValueError, match=r"level 17 .* max_level 16"):
        build_interval_index(rows, cover_level=17)


def test_cell_sql_matches_numpy_in_duckdb():
    lon, lat = _grid_points(500)
    con = duckdb.connect()
    con.register("pts", __import__("pandas").DataFrame({"lon": lon, "lat": lat}))
    for lvl in (6, 12, MAX_LEVEL):
        sql_cells = con.execute(
            f"SELECT {cell_sql_expr('lon', 'lat', lvl)} AS c FROM pts"
        ).fetchnumpy()["c"]
        np_cells = cell_of_point(lon, lat, lvl)
        assert np.array_equal(sql_cells.astype(np.int64), np_cells)


def test_cell_sql_matches_numpy_in_spark(spark):
    lon, lat = _grid_points(300)
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    got = (
        df.selectExpr(f"{cell_sql_expr('lon', 'lat', 12)} AS c")
        .toPandas()["c"]
        .to_numpy()
    )
    assert np.array_equal(got.astype(np.int64), cell_of_point(lon, lat, 12))


def test_cover_ring_classifies_full_and_partial():
    # a big axis-aligned square: FULL cells inside, PARTIAL on the border
    ring = np.array([[0, 0], [40, 0], [40, 40], [0, 40], [0, 0]], dtype=np.float64)
    cov = cover_ring(ring, max_level=8)
    assert len(cov) > 0
    assert (cov[:, 2] == 1).any(), "big square must have FULL cells"
    assert (cov[:, 2] == 0).any(), "boundary cells must be PARTIAL"
    # ranges sorted and non-overlapping
    assert np.all(cov[1:, 0] > cov[:-1, 1])


def test_cover_contains_interior_points_and_excludes_far():
    ring = np.array(
        [[10, 10], [30, 12], [28, 35], [12, 30], [10, 10]], dtype=np.float64
    )
    cov = cover_ring(ring, max_level=9)
    rng = np.random.default_rng(3)
    lon = rng.uniform(0, 45, 800)
    lat = rng.uniform(0, 45, 800)
    cells = cell_of_point(lon, lat, MAX_LEVEL)
    in_cover = np.zeros(len(lon), dtype=bool)
    for lo, hi, _fl in cov:
        in_cover |= (cells >= lo) & (cells <= hi)
    for i in range(len(lon)):
        inside = point_in_ring((lon[i], lat[i]), ring, True)
        if inside:
            assert in_cover[i], f"interior point {lon[i]},{lat[i]} not covered"
    # FULL cells must contain only interior points
    for lo, hi, fl in cov:
        if fl == 1:
            m = (cells >= lo) & (cells <= hi)
            for i in np.nonzero(m)[0]:
                assert point_in_ring((lon[i], lat[i]), ring, True)


# ---------------------------------------------------------------------------
# cover_ring against the per-cell scalar descent it replaced
# ---------------------------------------------------------------------------


def _box_touched(ring, lon0, lat0, lon1, lat1) -> bool:
    """Does any edge cross or touch the closed box?  Edge-bbox reject,
    then the four corners strictly on one side of the edge's line."""
    x1, y1, x2, y2 = ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]
    m = (
        (np.minimum(x1, x2) <= lon1) & (np.maximum(x1, x2) >= lon0)
        & (np.minimum(y1, y2) <= lat1) & (np.maximum(y1, y2) >= lat0)
    )
    if not m.any():
        return False
    x1, y1, x2, y2 = x1[m], y1[m], x2[m], y2[m]
    dx, dy = x2 - x1, y2 - y1
    sides = np.stack([
        dx * (cy - y1) - dy * (cx - x1)
        for cx, cy in ((lon0, lat0), (lon0, lat1), (lon1, lat0), (lon1, lat1))
    ])
    return bool(np.any(~(np.all(sides > 0, axis=0) | np.all(sides < 0, axis=0))))


def _scalar_cover(ring, max_level, start_level=4, abs_max=MAX_LEVEL):
    """Oracle: the cover by a depth-first descent that classifies one
    cell at a time, with the scalar ``point_in_ring`` for its centre."""
    ring = np.asarray(ring, dtype=np.float64)
    lon_min, lat_min = ring[:, 0].min(), ring[:, 1].min()
    lon_max, lat_max = ring[:, 0].max(), ring[:, 1].max()
    n0 = 1 << start_level

    def ix(v, off, ext):
        return int(np.clip(np.floor((v + off) / ext * n0), 0, n0 - 1))

    stack = [
        (start_level, int(spread_bits(np.array([gx]))[0] | (spread_bits(np.array([gy]))[0] << np.uint64(1))))
        for gx in range(ix(lon_min, 180.0, 360.0), ix(lon_max, 180.0, 360.0) + 1)
        for gy in range(ix(lat_min, 90.0, 180.0), ix(lat_max, 90.0, 180.0) + 1)
    ]
    out = []
    while stack:
        level, cell = stack.pop()
        b = cell_bounds(cell, level)
        if b[2] < lon_min or b[0] > lon_max or b[3] < lat_min or b[1] > lat_max:
            continue
        lo, hi = (int(v) for v in cell_range_at_max(cell, level, abs_max))
        if not _box_touched(ring, *b):
            if point_in_ring(((b[0] + b[2]) / 2.0, (b[1] + b[3]) / 2.0), ring, True):
                out.append((lo, hi, 1))
        elif level >= max_level:
            out.append((lo, hi, 0))
        else:
            stack.extend((level + 1, (cell << 2) + k) for k in range(4))
    merged = []
    for lo, hi, fl in sorted(out):
        if merged and lo == merged[-1][1] + 1 and fl == merged[-1][2]:
            merged[-1][1] = hi
        else:
            merged.append([lo, hi, fl])
    return np.array(merged, dtype=np.int64).reshape(-1, 3)


def _decomposed(polygons):
    return [np.asarray(f["coords"], np.float64) for rings in polygons for f in decompose(rings)]


def _star(rng, n=None, radius=None):
    n = n or int(rng.integers(5, 40))
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
    rad = rng.uniform(0.2, 1.0, n) * (radius or rng.uniform(0.5, 12.0))
    cx, cy = rng.uniform(-140, 140), rng.uniform(-60, 60)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + 0.5 * rad * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def _level10_box(ix0, iy0, ix1, iy1):
    """A box whose edges lie exactly on level-10 cell boundaries."""
    x0, x1 = ix0 / 1024.0 * 360.0 - 180.0, ix1 / 1024.0 * 360.0 - 180.0
    y0, y1 = iy0 / 1024.0 * 180.0 - 90.0, iy1 / 1024.0 * 180.0 - 90.0
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])


WORLD = np.array([[-180.0, -90.0], [180.0, -90.0], [180.0, 90.0], [-180.0, 90.0], [-180.0, -90.0]])


def _oracle_rings():
    rng = np.random.default_rng(20231)
    return {
        "fixtures": _decomposed(NORTH_STAR_FIXTURES.values()),
        "footprints": _decomposed(rings for _pid, rings in footprint_rows(4)),
        "stars": [_star(rng) for _ in range(12)],
        "level10_boxes": [_level10_box(500, 500, 503, 502), _level10_box(10, 900, 40, 960), _level10_box(511, 511, 513, 513)],
        "world": [WORLD],
    }


@pytest.mark.parametrize("level", [8, 9, 10, 11, 12])
def test_cover_ring_equals_scalar_descent(level):
    # the oracle visits one cell at a time: at the finest levels every
    # few footprint and star rings keep the test within seconds
    stride = {8: 1, 9: 1, 10: 1, 11: 3, 12: 6}[level]
    for kind, rings in _oracle_rings().items():
        if kind in ("footprints", "stars"):
            rings = rings[::stride]
        for k, ring in enumerate(rings):
            got, want = cover_ring(ring, max_level=level), _scalar_cover(ring, level)
            assert np.array_equal(got, want), f"{kind}[{k}] at level {level}"


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 2**32 - 1),
    n=st.integers(4, 30),
    radius=st.floats(0.01, 20.0),
    level=st.sampled_from([8, 9]),
)
def test_cover_ring_equals_scalar_descent_hypothesis(seed, n, radius, level):
    ring = _star(np.random.default_rng(seed), n=n, radius=radius)
    assert np.array_equal(cover_ring(ring, max_level=level), _scalar_cover(ring, level))


_ORACLE_STRIDE = {8: 1, 9: 1, 10: 1, 11: 3, 12: 6}


@functools.lru_cache(maxsize=None)
def _oracle_table(level):
    """One mixed ring table of every oracle kind, and the per-ring
    ``_scalar_cover`` of each of its rings at ``level``."""
    names, rings = [], []
    for kind, kind_rings in _oracle_rings().items():
        if kind in ("footprints", "stars"):
            kind_rings = kind_rings[:: _ORACLE_STRIDE[level]]
        names += [f"{kind}[{k}]" for k in range(len(kind_rings))]
        rings += kind_rings
    return names, rings, [_scalar_cover(r, level) for r in rings]


def _split_covers(lo, hi, full, counts):
    return np.split(np.column_stack([lo, hi, full]), np.cumsum(counts)[:-1])


@pytest.mark.parametrize("level", [8, 9, 10, 11, 12])
@pytest.mark.parametrize(
    "patch",
    [{}, {"_PAIR_BUDGET": 7}, {"_RING_GROUP": 1}, {"_RING_GROUP": 3}],
    ids=["default", "pair_budget_7", "ring_group_1", "ring_group_3"],
)
def test_cover_rings_equals_scalar_descent(level, patch, monkeypatch):
    # a pair budget of 7 starts and ends chunks inside rings and across
    # ring boundaries; small ring groups split the table between frontiers
    names, rings, want = _oracle_table(level)
    for name, value in patch.items():
        monkeypatch.setattr(cells_mod, name, value)
    lo, hi, full, counts = cover_rings(*ring_table(rings), max_level=level)
    assert len(counts) == len(rings)
    for name, got, w in zip(names, _split_covers(lo, hi, full, counts), want):
        assert np.array_equal(got, w), f"{name} at level {level}"


def _aligned_cells(lo, hi, abs_max=MAX_LEVEL):
    """[lo, hi] at ``abs_max`` as maximal aligned Morton blocks: (cell, level)."""
    while lo <= hi:
        k = 0
        while k < abs_max and lo % (4 ** (k + 1)) == 0 and lo + 4 ** (k + 1) - 1 <= hi:
            k += 1
        yield lo >> (2 * k), abs_max - k
        lo += 4**k


def test_cover_ring_invariants():
    rng = np.random.default_rng(5)
    rings = _decomposed(NORTH_STAR_FIXTURES.values()) + [_star(rng) for _ in range(6)] + [WORLD]
    for ring in rings:
        cov = cover_ring(ring, max_level=10)
        lo, hi, fl = cov[:, 0], cov[:, 1], cov[:, 2]
        # sorted, disjoint, maximally merged
        assert np.all(lo <= hi)
        assert np.all(lo[1:] > hi[:-1])
        assert not np.any((lo[1:] == hi[:-1] + 1) & (fl[1:] == fl[:-1]))
        # every FULL cell: centre strictly inside, no edge crosses it
        for a, b in cov[fl == 1, :2]:
            for cell, level in _aligned_cells(int(a), int(b)):
                bx = cell_bounds(cell, level)
                assert point_in_ring(((bx[0] + bx[2]) / 2, (bx[1] + bx[3]) / 2), ring, True)
                assert not _box_touched(ring, *bx)
        # every vertex falls in some interval
        v = cell_of_point(ring[:, 0], ring[:, 1], MAX_LEVEL)
        k = np.searchsorted(lo, v, side="right") - 1
        assert np.all((k >= 0) & (v <= hi[k]))


# sha256 over the concatenated int64 covers (cover_ring(r, 10, 4, 16)) of
# the served benchmark layer's 614 rings: 55,897 intervals, 20,309 FULL,
# as produced by the per-cell scalar descent
SERVED_COVER_SHA256 = "0b9602d9fd813c3c40c98aa04a3019f74b8ea313f39f0e63a0253012faf31ebc"


def test_served_layer_cover_digest():
    fixtures = {k: v for k, v in NORTH_STAR_FIXTURES.items() if k != "unclosed"}
    rings = _decomposed(rings for _pid, rings in footprint_rows(16, fixtures))
    covers = [cover_ring(r, 10, 4, 16) for r in rings]
    h = hashlib.sha256()
    for c in covers:
        h.update(np.ascontiguousarray(c, dtype=np.int64).tobytes())
    allc = np.vstack(covers)
    assert (len(rings), len(allc), int(allc[:, 2].sum())) == (614, 55_897, 20_309)
    assert h.hexdigest() == SERVED_COVER_SHA256


def test_served_layer_cover_digest_one_call():
    """The served layer covered by one ``cover_rings`` call over its
    whole ring table gives the pinned digest, split ring by ring."""
    fixtures = {k: v for k, v in NORTH_STAR_FIXTURES.items() if k != "unclosed"}
    rings = _decomposed(rings for _pid, rings in footprint_rows(16, fixtures))
    lo, hi, full, counts = cover_rings(*ring_table(rings), 10, 4, 16)
    h = hashlib.sha256(np.ascontiguousarray(np.column_stack([lo, hi, full]), dtype=np.int64).tobytes())
    assert h.hexdigest() == SERVED_COVER_SHA256
    assert counts.tolist() == [len(cover_ring(r, 10, 4, 16)) for r in rings]


def _circle(n, cx, cy, rx, ry, wobble=0.0, k=7):
    t = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    r = 1.0 + wobble * np.sin(k * t)
    ring = np.column_stack([cx + rx * r * np.cos(t), cy + ry * r * np.sin(t)])
    return np.vstack([ring, ring[:1]])


def test_cover_ring_pair_budget_chunks(monkeypatch):
    wavy = _circle(2000, 30.0, 20.0, 8.0, 8.0, wobble=0.35)
    big = _circle(20_000, -40.0, -10.0, 10.0, 5.0)
    want_wavy, want_big = cover_ring(wavy, 10), cover_ring(big, 8)
    monkeypatch.setattr(cells_mod, "_PAIR_BUDGET", 7)
    assert np.array_equal(cover_ring(wavy, 10), want_wavy)
    got_big = cover_ring(big, 8)
    assert np.array_equal(got_big, want_big)
    # the centre is FULL-covered and every vertex is covered
    lo, hi = got_big[:, 0], got_big[:, 1]
    for (x, y), full in (((-40.0, -10.0), True),) + tuple(((px, py), None) for px, py in big[::97]):
        c = int(cell_of_point(x, y, MAX_LEVEL)[0])
        k = int(np.searchsorted(lo, c, side="right")) - 1
        assert k >= 0 and c <= hi[k]
        if full:
            assert got_big[k, 2] == 1


@pytest.mark.parametrize(
    "ring, fault",
    [
        ([[0, 0], [float("nan"), 1], [1, 1], [0, 0]], "non-finite coordinate"),
        ([[0, 0], [float("inf"), 1], [1, 1], [0, 0]], "non-finite coordinate"),
        ([], "fewer than 4 positions"),
        ([[0, 0], [1, 1], [0, 0]], "fewer than 4 positions"),
    ],
    ids=["nan", "inf", "empty", "three"],
)
def test_cover_ring_rejects_degenerate_ring(ring, fault):
    with pytest.raises(ValueError, match=fault):
        cover_ring(ring, max_level=10)


def test_build_interval_index_names_degenerate_ring():
    from simplepolygon_spark.operators.tiling import build_interval_index

    good = [[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]
    bad = [[0, 0], [float("nan"), 1], [1, 1], [0, 0]]
    rows = [
        {"polygon_id": "ok", "ring_index": 0, "coords": good},
        {"polygon_id": "bad", "ring_index": 2, "coords": bad},
    ]
    with pytest.raises(ValueError, match=r"\('bad', 2\): ring has a non-finite coordinate"):
        build_interval_index(rows, cover_level=8)


def test_covers_df_names_degenerate_ring(spark):
    from simplepolygon_spark.operators.crosswalk import covers_df

    df = spark.createDataFrame(
        [
            ("ok", 0, [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]),
            ("bad", 3, [[0.0, 0.0], [float("inf"), 1.0], [1.0, 1.0], [0.0, 0.0]]),
        ],
        "polygon_id string, ring_index int, coords array<array<double>>",
    )
    with pytest.raises(Exception, match=r"\('bad', 3\): ring has a non-finite coordinate"):
        covers_df(df, 8).collect()
    ok = covers_df(df.where("polygon_id = 'ok'"), 8).collect()
    assert ok and {r.polygon_id for r in ok} == {"ok"}
    want = cover_ring(np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], float), 8)
    assert sorted((r.lo, r.hi, r.full) for r in ok) == [tuple(map(int, c)) for c in want]


def test_covers_df_names_first_degenerate_ring(spark):
    """Two bad rings after good ones in one Arrow batch: the first in
    table order is named."""
    from simplepolygon_spark.operators.crosswalk import covers_df

    good = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
    df = spark.createDataFrame(
        [
            ("ok", 0, good),
            ("ok", 1, good),
            ("bad", 3, [[0.0, 0.0], [1.0, 1.0], [0.0, 0.0]]),
            ("worse", 4, [[0.0, 0.0], [float("nan"), 1.0], [1.0, 1.0], [0.0, 0.0]]),
        ],
        "polygon_id string, ring_index int, coords array<array<double>>",
    ).coalesce(1)
    with pytest.raises(Exception, match=r"\('bad', 3\): ring has fewer than 4 positions \(got 3\)"):
        covers_df(df, 8).collect()


@pytest.mark.parametrize(
    "first, second, named",
    [
        ([[0, 0], [1, 1], [0, 0]], [[0, 0], [float("nan"), 1], [1, 1], [0, 0]], r"\('bad', 3\): ring has fewer than 4 positions \(got 3\)"),
        ([[0, 0], [1, float("inf")], [1, 1], [0, 0]], [], r"\('bad', 3\): ring has a non-finite coordinate at position 1"),
    ],
    ids=["short_then_nan", "inf_then_empty"],
)
def test_build_interval_index_names_first_degenerate_ring(first, second, named):
    """Two bad rings after good ones in one ring table: the first in
    table order is named, whatever the kind of either fault."""
    from simplepolygon_spark.operators.tiling import build_interval_index

    good = [[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]
    rows = [
        {"polygon_id": "ok", "ring_index": 0, "coords": good},
        {"polygon_id": "ok", "ring_index": 1, "coords": good},
        {"polygon_id": "bad", "ring_index": 3, "coords": first},
        {"polygon_id": "worse", "ring_index": 4, "coords": second},
    ]
    with pytest.raises(ValueError, match=named):
        build_interval_index(rows, cover_level=8)


def test_open_ring_is_covered_with_its_closing_edge():
    """An open ring is covered as the closed ring: the list-built index
    answers exactly as the ray-cast of the closed ring.  Without the
    closing edge the cells along it were FULL or dropped, so points
    beyond it were accepted and points before it rejected."""
    from simplepolygon_spark.operators.tiling import build_interval_index

    open_ring = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [5.0, 10.0]]
    closed = np.array(open_ring + open_ring[:1])
    assert np.array_equal(cover_ring(open_ring, 8), cover_ring(closed, 8))
    idx = build_interval_index([{"polygon_id": "p", "ring_index": 0, "coords": open_ring}], cover_level=8)
    rng = np.random.default_rng(8)
    lon, lat = rng.uniform(-1.0, 11.0, 50_000), rng.uniform(-1.0, 11.0, 50_000)
    got = np.zeros(len(lon), bool)
    got[idx.assign(lon, lat)[0]] = True
    want = np.array([point_in_ring((x, y), closed, True) for x, y in zip(lon, lat)])
    assert np.array_equal(got, want)


def _calls(tree, names):
    """(enclosing function, callee) of every call to one of ``names``."""
    hits = set()

    def visit(node, where):
        for child in ast.iter_child_nodes(node):
            name = f"{where}.{child.name}" if isinstance(child, (ast.FunctionDef, ast.ClassDef)) else where
            if isinstance(child, ast.Call):
                f = child.func
                callee = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
                if callee in names:
                    hits.add((name, callee))
            visit(child, name)

    visit(tree, "")
    return hits


def test_one_cover_kernel_in_the_package():
    """The frontier descent lives only in ``cells.cover_rings``: its cell
    bounds (``_grid_bounds``) are computed nowhere else but in the
    one-cell conversion ``cell_bounds``, and no package module covers
    ring by ring through the one-ring entry ``cover_ring``."""
    root = pathlib.Path(simplepolygon_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        mod = ".".join(path.relative_to(root.parent).with_suffix("").parts)
        found |= {(f"{mod}{fn}", callee) for fn, callee in _calls(ast.parse(path.read_text()), {"_grid_bounds", "cover_ring"})}
    assert found == {
        ("simplepolygon_spark.cells.cover_rings", "_grid_bounds"),
        ("simplepolygon_spark.cells.cell_bounds", "_grid_bounds"),
    }
