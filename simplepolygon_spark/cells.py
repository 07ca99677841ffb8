"""From-scratch 64-bit quadkey (Morton) cell index — numpy side.

H3/S2-style hierarchical cells demanded by the north rule
(BASELINE.json:6,14), built from public bit-interleaving math (no h3/s2
libraries exist in the sandbox; SURVEY.md §7.0):

* A cell at level L is the Morton interleave of the L-bit x/y indices of
  a point on the [-180,180]×[-90,90] lon/lat window.
* Hierarchy is prefix arithmetic: ``parent = cell >> 2Δ``; the children
  of a cell occupy the contiguous Morton range
  ``[cell << 2Δ, ((cell+1) << 2Δ) - 1]`` — which is what makes the
  compressed cell→ring *interval* index (Raster-Intervals style,
  PAPERS.md) a set of [lo, hi] ranges at max level.

The same encoding exists as Spark column expressions in
``simplepolygon_spark.functions.cells_sql`` (JVM-side, codegen-friendly)
and as ANSI SQL for the DuckDB oracle — all three are tested equal.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 16  # 65536 × 65536 grid; 32 bits of Morton code

_MASKS = (
    0x0000FFFF0000FFFF,
    0x00FF00FF00FF00FF,
    0x0F0F0F0F0F0F0F0F,
    0x3333333333333333,
    0x5555555555555555,
)


def spread_bits(v: np.ndarray) -> np.ndarray:
    """Interleave zeros between the low 32 bits of v (Morton spread)."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(_MASKS[0])
    v = (v | (v << np.uint64(8))) & np.uint64(_MASKS[1])
    v = (v | (v << np.uint64(4))) & np.uint64(_MASKS[2])
    v = (v | (v << np.uint64(2))) & np.uint64(_MASKS[3])
    v = (v | (v << np.uint64(1))) & np.uint64(_MASKS[4])
    return v


def xy_indices(lon: np.ndarray, lat: np.ndarray, level: int = MAX_LEVEL):
    """Integer grid indices of lon/lat at ``level`` (clipped to the window)."""
    n = np.int64(1) << np.int64(level)
    ix = np.clip(np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((np.asarray(lat, np.float64) + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return ix, iy


def cell_of_point(lon, lat, level: int = MAX_LEVEL) -> np.ndarray:
    """Morton cell id(s) of point(s) at ``level`` (vectorized)."""
    ix, iy = xy_indices(np.atleast_1d(lon), np.atleast_1d(lat), level)
    return (spread_bits(ix) | (spread_bits(iy) << np.uint64(1))).astype(np.int64)


def parent_cell(cell: np.ndarray, from_level: int, to_level: int) -> np.ndarray:
    """Ancestor of ``cell`` (at from_level) at coarser ``to_level``."""
    return np.asarray(cell, np.int64) >> np.int64(2 * (from_level - to_level))


def cell_range_at_max(cell: np.ndarray, level: int, max_level: int = MAX_LEVEL):
    """[lo, hi] Morton range at ``max_level`` covered by ``cell`` at ``level``."""
    shift = np.int64(2 * (max_level - level))
    c = np.asarray(cell, np.int64)
    return c << shift, ((c + 1) << shift) - 1


def cell_bounds(cell, level: int):
    """(lon_min, lat_min, lon_max, lat_max) of a cell as floats, or of an
    array of cells as four float64 arrays."""
    c = np.asarray(cell, dtype=np.uint64)
    b = _grid_bounds(_compact_bits(c), _compact_bits(c >> np.uint64(1)), level)
    return tuple(float(v) for v in b) if c.ndim == 0 else b


def _grid_bounds(ix, iy, level: int):
    """Cell bounds from the cells' integer grid indices at ``level``."""
    ix, iy = np.asarray(ix, np.float64), np.asarray(iy, np.float64)
    n = float(1 << level)
    return (
        ix / n * 360.0 - 180.0,
        iy / n * 180.0 - 90.0,
        (ix + 1) / n * 360.0 - 180.0,
        (iy + 1) / n * 180.0 - 90.0,
    )


def _compact_bits(v):
    """Inverse of ``spread_bits``: the even bits of v, packed (vectorized)."""
    v = np.asarray(v, dtype=np.uint64) & np.uint64(_MASKS[4])
    v = (v | (v >> np.uint64(1))) & np.uint64(_MASKS[3])
    v = (v | (v >> np.uint64(2))) & np.uint64(_MASKS[2])
    v = (v | (v >> np.uint64(4))) & np.uint64(_MASKS[1])
    v = (v | (v >> np.uint64(8))) & np.uint64(_MASKS[0])
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


# ---------------------------------------------------------------------------
# cell cover of a ring: level-synchronous FULL/PARTIAL frontier
#
# Each level classifies its whole frontier of cells in array passes: cells
# disjoint from the ring's bbox drop; a cell that some edge crosses or
# touches is PARTIAL (kept at ``max_level``, else split into its four
# children); an untouched cell is FULL when its centre is inside the ring
# (``geom.points_in_rings``) and drops otherwise.  The frontier
# carries each cell's grid indices next to its Morton code, so its bounds
# are ``cell_bounds``' arithmetic without unpacking the code.  The edge
# test runs over (cell, edge) pairs: a child only tests the edges whose
# bbox met its parent, which are all the edges whose bbox can meet the
# child, so the result equals testing every edge.  Every pass over
# (cell, edge) pairs works in chunks of at most ``_PAIR_BUDGET`` pairs,
# and the centre test (``geom.points_in_rings``) chunks its own
# (centre, edge) rows, so a ring with many vertices runs in bounded
# memory.  A ring with fewer than 4 positions or a non-finite coordinate
# gets a ``ValueError`` naming the fault.
# ---------------------------------------------------------------------------

FULL = 1
PARTIAL = 0

_PAIR_BUDGET = 1 << 17  # pairs per numpy pass: its temporaries are 1 MB arrays


def _checked_ring(ring) -> np.ndarray:
    r = np.asarray(ring, dtype=np.float64)
    if r.ndim == 0 or len(r) < 4:
        raise ValueError(f"ring has fewer than 4 positions (got {len(r) if r.ndim else 0})")
    if r.ndim != 2 or r.shape[1] < 2:
        raise ValueError(f"ring positions must be [lon, lat] pairs, got shape {r.shape}")
    if not np.isfinite(r[:, :2]).all():
        k = int(np.flatnonzero(~np.isfinite(r[:, :2]).all(axis=1))[0])
        raise ValueError(f"ring has a non-finite coordinate at position {k}: {r[k, :2].tolist()}")
    return r


def cover_ring(
    ring, max_level: int = 12, start_level: int = 4, abs_max: int = MAX_LEVEL
):
    """FULL/PARTIAL cell cover of one simple ring, one level at a time.

    Returns an int64 array of [lo, hi, full] rows: Morton ranges at
    ``abs_max`` level, sorted by ``lo``, with adjacent ranges of the same
    flag merged.  ``full``=1 when the cell lies entirely inside the ring
    (PIP refine can be skipped — the Raster-Intervals shortcut).

    The descent starts from the ``start_level`` cells overlapping the
    ring's bbox and classifies each level's frontier at once: a cell no
    edge crosses or touches (a box corner exactly on an edge's line
    counts as touching) is FULL when its centre is strictly inside the
    ring and OUT otherwise; a touched cell is PARTIAL at ``max_level``
    and subdivides below it.  Pair passes are chunked to
    ``_PAIR_BUDGET`` pairs.

    Raises ``ValueError`` for a ring with fewer than 4 positions or a
    non-finite coordinate.
    """
    from .geom import points_in_rings, ring_table

    ring = _checked_ring(ring)
    x, y = ring[:, 0], ring[:, 1]
    lon_min, lat_min, lon_max, lat_max = x.min(), y.min(), x.max(), y.max()
    # edges i -> i+1 with their bboxes
    x1, y1, dx, dy = x[:-1], y[:-1], x[1:] - x[:-1], y[1:] - y[:-1]
    ex0, ex1 = np.minimum(x[:-1], x[1:]), np.maximum(x[:-1], x[1:])
    ey0, ey1 = np.minimum(y[:-1], y[1:]), np.maximum(y[:-1], y[1:])
    n_edges = len(x1)
    table = ring_table([ring[:, :2]])  # the centre test's one-ring table

    def seed_pairs(n_cells):
        """Every (seed cell, edge) pair."""
        rows = max(1, _PAIR_BUDGET // n_edges)
        for s in range(0, n_cells, rows):
            c = np.arange(s, min(s + rows, n_cells))
            yield np.repeat(c, n_edges), np.tile(np.arange(n_edges), len(c))

    def child_pairs(parent, edge):
        """Each (parent, edge) pair as its four (child, edge) pairs."""
        step = max(1, _PAIR_BUDGET // 4)
        for s in range(0, len(parent), step):
            yield (4 * parent[s : s + step, None] + np.arange(4)).ravel(), np.repeat(edge[s : s + step], 4)

    def edge_pairs(pairs, b0, b1, b2, b3):
        """The (cell, edge) pairs whose edge bbox meets the cell, and
        whether the edge crosses or touches the cell: it does not when
        all four box corners lie strictly on one side of its line."""
        keep_c, keep_e, touch = [], [], []
        for pc, pe in pairs:
            m = (ex0[pe] <= b2[pc]) & (ex1[pe] >= b0[pc]) & (ey0[pe] <= b3[pc]) & (ey1[pe] >= b1[pc])
            pc, pe = pc[m], pe[m]
            ddx, ddy, px, py = dx[pe], dy[pe], x1[pe], y1[pe]
            qx0, qy0, qx1, qy1 = b0[pc], b1[pc], b2[pc], b3[pc]
            sides = [ddx * (qy - py) - ddy * (qx - px) for qx, qy in ((qx0, qy0), (qx0, qy1), (qx1, qy0), (qx1, qy1))]
            pos = (sides[0] > 0) & (sides[1] > 0) & (sides[2] > 0) & (sides[3] > 0)
            neg = (sides[0] < 0) & (sides[1] < 0) & (sides[2] < 0) & (sides[3] < 0)
            keep_c.append(pc)
            keep_e.append(pe)
            touch.append(~(pos | neg))
        return np.concatenate(keep_c), np.concatenate(keep_e), np.concatenate(touch)

    # seed: the start-level cells overlapping the bbox
    n0 = 1 << start_level
    ix0, ix1 = np.clip(np.floor((np.array([lon_min, lon_max]) + 180.0) / 360.0 * n0), 0, n0 - 1).astype(np.int64)
    iy0, iy1 = np.clip(np.floor((np.array([lat_min, lat_max]) + 90.0) / 180.0 * n0), 0, n0 - 1).astype(np.int64)
    gx = np.repeat(np.arange(ix0, ix1 + 1), iy1 - iy0 + 1)
    gy = np.tile(np.arange(iy0, iy1 + 1), ix1 - ix0 + 1)
    cells = (spread_bits(gx) | (spread_bits(gy) << np.uint64(1))).astype(np.int64)
    pairs = seed_pairs(len(cells))
    # child k of a cell: Morton digit k, x bit k & 1, y bit k >> 1
    digit, xbit, ybit = np.arange(4), np.array([0, 1, 0, 1]), np.array([0, 0, 1, 1])

    out_lo, out_hi, out_fl = [], [], []

    def emit(sel, level, flag):
        lo, hi = cell_range_at_max(sel, level, abs_max)
        out_lo.append(lo)
        out_hi.append(hi)
        out_fl.append(np.full(len(sel), flag, np.int64))

    level = start_level
    while len(cells):
        b0, b1, b2, b3 = _grid_bounds(gx, gy, level)
        pc, pe, touch = edge_pairs(pairs, b0, b1, b2, b3)
        crossed = np.zeros(len(cells), bool)
        crossed[pc[touch]] = True
        free = np.flatnonzero(
            ~crossed & (b2 >= lon_min) & (b0 <= lon_max) & (b3 >= lat_min) & (b1 <= lat_max)
        )
        if len(free):
            cx, cy = (b0[free] + b2[free]) / 2.0, (b1[free] + b3[free]) / 2.0
            full = points_in_rings(cx, cy, np.zeros(len(free), np.int64), *table)
            emit(cells[free[full]], level, FULL)
        if level >= max_level:
            emit(cells[crossed], level, PARTIAL)
            break
        # the crossed cells' four children inherit their parent's
        # bbox-passing edges
        keep = crossed[pc]
        pairs = child_pairs((np.cumsum(crossed) - 1)[pc[keep]], pe[keep])
        cells = (4 * cells[crossed, None] + digit).ravel()
        gx = (2 * gx[crossed, None] + xbit).ravel()
        gy = (2 * gy[crossed, None] + ybit).ravel()
        level += 1

    if not out_lo:
        return np.zeros((0, 3), dtype=np.int64)
    lo, hi, fl = np.concatenate(out_lo), np.concatenate(out_hi), np.concatenate(out_fl)
    order = np.argsort(lo)
    lo, hi, fl = lo[order], hi[order], fl[order]
    # merge each run of adjacent ranges with the same flag
    first = np.ones(len(lo), bool)
    first[1:] = (lo[1:] != hi[:-1] + 1) | (fl[1:] != fl[:-1])
    starts = np.flatnonzero(first)
    ends = np.append(starts[1:], len(lo)) - 1
    return np.column_stack([lo[starts], hi[ends], fl[starts]]).astype(np.int64)
