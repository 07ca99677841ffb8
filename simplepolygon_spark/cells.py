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
    """[lo, hi] Morton range at ``max_level`` covered by ``cell`` at ``level``.

    Raises ``ValueError`` when ``level > max_level`` (the range would be
    empty) or ``max_level > 31`` (a max-level code would overflow int64)."""
    if level > max_level or max_level > 31:
        raise ValueError(f"cell level {level} must be at most max_level {max_level}, itself at most 31")
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
# cell cover of a ring table: one level-synchronous FULL/PARTIAL frontier
#
# ``cover_rings`` covers every ring of a ``geom`` ring table at once.  The
# frontier holds cells of many rings, each cell carrying its ring id and
# its grid indices next to its Morton code, so its bounds are
# ``cell_bounds``' arithmetic without unpacking the code.  Each level
# classifies the whole frontier in array passes: cells disjoint from
# their ring's bbox drop; a cell that some edge of its ring crosses or
# touches is PARTIAL (kept at ``max_level``, else split into its four
# children); an untouched cell is FULL when its centre is inside its ring
# (one ``geom.points_in_rings`` call per level) and drops otherwise.  The
# edge test runs over (cell, edge) pairs: a seed pairs with every edge of
# its ring, and a child only tests the edges whose bbox met its parent,
# which are all the edges whose bbox can meet the child, so the result
# equals testing every edge.  Every pass over pairs works in chunks of at
# most ``_PAIR_BUDGET`` pairs, the centre test chunks its own (centre,
# edge) rows, and the table is walked in groups of ``_RING_GROUP`` rings,
# so memory is bounded for any ring size and any table size.  The Python
# work is per level and per group, never per ring.  A ring with fewer
# than 4 positions or a non-finite coordinate fails the whole call with
# a ``RingError`` naming the first such ring.
# ---------------------------------------------------------------------------

FULL = 1
PARTIAL = 0

_PAIR_BUDGET = 1 << 17  # pairs per numpy pass: its temporaries are 1 MB arrays
_RING_GROUP = 256  # rings per frontier: bounds its memory on a large table


class RingError(ValueError):
    """A degenerate ring of a ring table; ``ring`` is its row."""

    def __init__(self, ring: int, message: str):
        super().__init__(message)
        self.ring = ring


def _check_table(pts: np.ndarray, off: np.ndarray) -> None:
    """Raise ``RingError`` for the first ring, in table order, with fewer
    than 4 positions or a non-finite coordinate."""
    n = off[1:] - off[:-1]
    bad_pos = np.flatnonzero(~np.isfinite(pts).all(axis=1))
    short = np.flatnonzero(n < 4)
    # the ring of a position: the last ring starting at or before it
    nonfinite = off.searchsorted(bad_pos[:1], "right") - 1
    first = min(np.concatenate([short[:1], nonfinite]).tolist(), default=None)
    if first is None:
        return
    if n[first] < 4:
        raise RingError(first, f"ring has fewer than 4 positions (got {n[first]})")
    k = int(bad_pos[0])
    raise RingError(first, f"ring has a non-finite coordinate at position {k - off[first]}: {pts[k].tolist()}")


def cover_rings(pts, off, max_level: int = 12, start_level: int = 4, abs_max: int = MAX_LEVEL):
    """FULL/PARTIAL cell covers of every ring of a closed ring table
    (``geom.ring_table`` / ``geom.ring_mats``: ring r is
    ``pts[off[r]:off[r + 1]]``), one level at a time.

    Returns ``(lo, hi, full, counts)``: int64 Morton ranges at
    ``abs_max`` level sorted by (ring, lo), with each ring's adjacent
    ranges of the same flag merged; ``counts[r]`` is the number of ring
    r's ranges, which come in ring order.  ``full``=1 when the cell lies
    entirely inside the ring (PIP refine can be skipped — the
    Raster-Intervals shortcut).

    The descent starts from the ``start_level`` cells overlapping each
    ring's bbox: a cell no edge of its ring crosses or touches (a box
    corner exactly on an edge's line counts as touching) is FULL when
    its centre is strictly inside the ring and OUT otherwise; a touched
    cell is PARTIAL at ``max_level`` and subdivides below it.

    Raises ``RingError`` (a ``ValueError``) for the first ring with
    fewer than 4 positions or a non-finite coordinate.
    """
    from .geom import points_in_rings

    pts = np.asarray(pts, dtype=np.float64)
    off = np.asarray(off, dtype=np.int64)
    _check_table(pts, off)
    n_rings = len(off) - 1
    X, Y = pts[:, 0], pts[:, 1]
    # edge e runs from position e to e + 1; ring r's edges are
    # off[r] .. off[r + 1] - 2 (the edge joining two rings is never paired)
    x1, y1, dx, dy = X[:-1], Y[:-1], np.diff(X), np.diff(Y)
    ex0, ex1 = np.minimum(X[:-1], X[1:]), np.maximum(X[:-1], X[1:])
    ey0, ey1 = np.minimum(Y[:-1], Y[1:]), np.maximum(Y[:-1], Y[1:])
    n_edges = off[1:] - off[:-1] - 1
    if n_rings:
        lon_min, lon_max = np.minimum.reduceat(X, off[:-1]), np.maximum.reduceat(X, off[:-1])
        lat_min, lat_max = np.minimum.reduceat(Y, off[:-1]), np.maximum.reduceat(Y, off[:-1])

    def seed_pairs(ring):
        """Every (seed cell, edge of its ring) pair."""
        cnt = n_edges[ring]
        row_of = np.zeros(len(cnt) + 1, np.int64)  # first pair row of each cell
        np.cumsum(cnt, out=row_of[1:])
        base = off[ring] - row_of[:-1]  # row + base = the row's edge
        total = int(row_of[-1])
        for s in range(0, total, _PAIR_BUDGET):
            e = min(s + _PAIR_BUDGET, total)
            c0 = int(row_of.searchsorted(s, "right")) - 1
            c1 = int(row_of.searchsorted(e - 1, "right"))
            c = np.arange(c0, c1).repeat(np.minimum(row_of[c0 + 1 : c1 + 1], e) - np.maximum(row_of[c0:c1], s))
            yield c, np.arange(s, e) + base[c]

    def child_pairs(parent, edge):
        """Each (parent, edge) pair as its four (child, edge) pairs."""
        step = max(1, _PAIR_BUDGET // 4)
        for s in range(0, len(parent), step):
            yield (4 * parent[s : s + step, None] + np.arange(4)).ravel(), np.repeat(edge[s : s + step], 4)

    def edge_pairs(pairs, b0, b1, b2, b3):
        """The (cell, edge) pairs whose edge bbox meets the cell, and
        whether the edge crosses or touches the cell: it does not when
        all four box corners lie strictly on one side of its line."""
        keep_c, keep_e, touch = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)], [np.zeros(0, bool)]
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

    # child k of a cell: Morton digit k, x bit k & 1, y bit k >> 1
    digit, xbit, ybit = np.arange(4), np.array([0, 1, 0, 1]), np.array([0, 0, 1, 1])
    out_ring, out_lo, out_hi, out_fl = ([np.zeros(0, np.int64)] for _ in range(4))

    def emit(ring, sel, level, flag):
        lo, hi = cell_range_at_max(sel, level, abs_max)
        out_ring.append(ring)
        out_lo.append(lo)
        out_hi.append(hi)
        out_fl.append(np.full(len(sel), flag, np.int64))

    for g in range(0, n_rings, _RING_GROUP):
        # seed: the start-level cells overlapping each ring's bbox
        rings = np.arange(g, min(g + _RING_GROUP, n_rings))
        ix0, iy0 = xy_indices(lon_min[rings], lat_min[rings], start_level)
        ix1, iy1 = xy_indices(lon_max[rings], lat_max[rings], start_level)
        ny = iy1 - iy0 + 1
        per_ring = (ix1 - ix0 + 1) * ny
        ring = np.repeat(rings, per_ring)
        k = np.arange(len(ring)) - np.repeat(np.cumsum(per_ring) - per_ring, per_ring)
        gx = np.repeat(ix0, per_ring) + k // np.repeat(ny, per_ring)
        gy = np.repeat(iy0, per_ring) + k % np.repeat(ny, per_ring)
        cells = (spread_bits(gx) | (spread_bits(gy) << np.uint64(1))).astype(np.int64)
        pairs = seed_pairs(ring)

        level = start_level
        while len(cells):
            b0, b1, b2, b3 = _grid_bounds(gx, gy, level)
            pc, pe, touch = edge_pairs(pairs, b0, b1, b2, b3)
            crossed = np.zeros(len(cells), bool)
            crossed[pc[touch]] = True
            free = np.flatnonzero(
                ~crossed
                & (b2 >= lon_min[ring]) & (b0 <= lon_max[ring])
                & (b3 >= lat_min[ring]) & (b1 <= lat_max[ring])
            )
            if len(free):
                cx, cy = (b0[free] + b2[free]) / 2.0, (b1[free] + b3[free]) / 2.0
                full = free[points_in_rings(cx, cy, ring[free], pts, off)]
                emit(ring[full], cells[full], level, FULL)
            if level >= max_level:
                emit(ring[crossed], cells[crossed], level, PARTIAL)
                break
            # the crossed cells' four children inherit their parent's
            # bbox-passing edges
            keep = crossed[pc]
            pairs = child_pairs((np.cumsum(crossed) - 1)[pc[keep]], pe[keep])
            cells = (4 * cells[crossed, None] + digit).ravel()
            gx = (2 * gx[crossed, None] + xbit).ravel()
            gy = (2 * gy[crossed, None] + ybit).ravel()
            ring = np.repeat(ring[crossed], 4)
            level += 1

    ring, lo, hi, fl = (np.concatenate(v) for v in (out_ring, out_lo, out_hi, out_fl))
    order = np.lexsort((lo, ring))
    ring, lo, hi, fl = ring[order], lo[order], hi[order], fl[order]
    # merge each run of adjacent ranges of one ring with the same flag
    first = np.ones(len(lo), bool)
    first[1:] = (lo[1:] != hi[:-1] + 1) | (fl[1:] != fl[:-1]) | (ring[1:] != ring[:-1])
    starts = np.flatnonzero(first)
    ends = np.append(starts[1:], len(lo)) - 1
    counts = np.bincount(ring[starts], minlength=n_rings).astype(np.int64)
    return lo[starts], hi[ends], fl[starts], counts


def cover_ring(ring, max_level: int = 12, start_level: int = 4, abs_max: int = MAX_LEVEL):
    """``cover_rings`` of one ring: an int64 array of [lo, hi, full]
    rows, sorted by ``lo``.  An open ring is closed first, so its cover
    includes the closing edge.

    Raises ``ValueError`` for a ring with fewer than 4 positions (after
    closing) or a non-finite coordinate.
    """
    from .geom import ring_table

    r = np.asarray(ring, dtype=np.float64)
    if r.size == 0:
        r = r.reshape(0, 2)
    if r.ndim != 2 or r.shape[1] < 2:
        raise ValueError(f"ring positions must be [lon, lat] pairs, got shape {r.shape}")
    lo, hi, full, _ = cover_rings(*ring_table([r[:, :2]]), max_level, start_level, abs_max)
    return np.column_stack([lo, hi, full])
