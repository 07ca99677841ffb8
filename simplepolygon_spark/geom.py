"""Pure-numpy geometry kernels (no Spark imports).

Reimplements, from public knowledge of the algorithms, the geometric
primitives the reference engine relies on:

* ``segment_intersections`` — all proper pairwise self-intersections of a
  polygon's edges.  The intersection *point* uses the homogeneous
  line-cross-product formula, which reproduces the reference's golden
  output coordinates bit-for-bit (verified against
  /root/reference/test/out/{simple,complex}.json; the reference delegates
  discovery to geojson-polygon-self-intersections, call site
  /root/reference/src/index.ts:68-111).
* ``is_convex`` — sign-of-cross-product convexity test
  (/root/reference/src/index.ts:605-613).
* ``winding_of_ring`` — winding from convexity at the leftmost vertex
  (/root/reference/src/index.ts:616-638).
* ``point_in_ring`` — ray-casting point-in-polygon with the same boundary
  semantics as turf's booleanPointInPolygon({ignoreBoundary:true}) used at
  /root/reference/src/index.ts:666-675.
* The *ring table*: closed-ring float64 vertices ``pts`` (Σn, 2) plus
  int64 offsets ``off``, ring i being ``pts[off[i]:off[i + 1]]``
  (``ring_mats`` from an Arrow column, ``ring_table`` from arrays; both
  close an open ring).
  ``points_in_rings`` is the one batched ray-cast over it, bit-identical
  to the scalar ``point_in_ring`` (kept as the reference): the parent
  pass, the cover's cell centres, both PIP refines and the overlap
  probes all call it.
* ``arrow_to_numpy`` / ``numpy_to_arrow`` — the Arrow↔numpy boundary
  of every executor batch function, on buffers (``np.frombuffer``,
  ``pa.Array.from_buffers``), so that no Python worker imports pandas
  through pyarrow's own conversions.
* ``signed_area`` — planar shoelace area (used by the tiling layer; the
  reference's geodesic area call at src/index.ts:676 is dead code, see
  SURVEY.md §7.4 Q2, so no geodesic implementation is needed for parity).

All kernels are vectorized over numpy arrays; the only Python-level loops
are over *intersections/vertices of a single polygon* inside the
decomposition walk (decompose.py) and over fixed-size chunks of rows,
never over dataset rows or rings.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "pmod",
    "is_convex",
    "winding_of_ring",
    "signed_area",
    "segment_intersections",
    "point_in_ring",
    "points_in_rings",
    "ragged",
    "ring_mats",
    "ring_table",
    "arrow_to_numpy",
    "numpy_to_arrow",
    "js_number_string",
]


def pmod(n: int, m: int) -> int:
    """True (non-negative) modulo; parity of /root/reference/src/index.ts:641-643."""
    return ((n % m) + m) % m


def is_convex(p0, p1, p2, righthanded: bool = True) -> bool:
    """Whether the corner p0→p1→p2 is convex for the given handedness.

    Parity of /root/reference/src/index.ts:605-613: the test is
    ``d >= 0 == righthanded`` with d the 2D cross product.
    """
    d = (p1[0] - p0[0]) * (p2[1] - p0[1]) - (p1[1] - p0[1]) * (p2[0] - p0[0])
    return (d >= 0) == righthanded


def winding_of_ring(ring: np.ndarray) -> int:
    """±1 winding of a simple closed ring (first == last vertex).

    Parity of /root/reference/src/index.ts:616-638: convexity at the
    vertex with the smallest x (ties: first index), neighbours via pmod.
    """
    ring = np.asarray(ring, dtype=np.float64)
    n = len(ring) - 1  # closing vertex not its own vertex
    left = int(np.argmin(ring[:n, 0]))  # argmin returns first minimum, like the JS loop
    p0 = ring[pmod(left - 1, n)]
    p1 = ring[left]
    p2 = ring[pmod(left + 1, n)]
    return 1 if is_convex(p0, p1, p2, True) else -1


def signed_area(ring: np.ndarray) -> float:
    """Planar shoelace signed area of a closed ring (CCW positive)."""
    r = np.asarray(ring, dtype=np.float64)
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def _line_coeffs(p: np.ndarray, q: np.ndarray):
    """Homogeneous line through p,q: L = p × q with z=1 (vectorized)."""
    a = p[:, 1] - q[:, 1]
    b = q[:, 0] - p[:, 0]
    c = p[:, 0] * q[:, 1] - p[:, 1] * q[:, 0]
    return a, b, c


def segment_intersections(edges: np.ndarray, pair_cap: int = 4_000_000):
    """All proper pairwise intersections among ``edges`` (E×4 array
    [x1,y1,x2,y2] in edge order).

    Returns (i, j, px, py, ti, tj): integer edge indexes i<j, the
    intersection point, and the fractional position of the point along
    edge i and edge j.  Only *proper* crossings are reported (both
    params strictly inside (0,1)); shared endpoints and collinear
    overlaps are discarded — matching the discovery contract consumed at
    /root/reference/src/index.ts:68-113.

    The candidate set is produced by a vectorized bbox filter: an
    all-pairs boolean matrix below ``pair_cap`` pairs, otherwise a
    sorted-sweep over min-x (O(E log E + candidates)) so large polygons
    don't allocate O(E²).  The exact point is the homogeneous
    cross-product formula (bit-parity with the reference goldens).
    """
    edges = np.asarray(edges, dtype=np.float64)
    E = len(edges)
    if E < 2:
        z = np.zeros(0)
        return (z.astype(np.int64), z.astype(np.int64), z, z, z, z)

    minx = np.minimum(edges[:, 0], edges[:, 2])
    maxx = np.maximum(edges[:, 0], edges[:, 2])
    miny = np.minimum(edges[:, 1], edges[:, 3])
    maxy = np.maximum(edges[:, 1], edges[:, 3])

    if E * E <= pair_cap:
        ov = (
            (minx[:, None] <= maxx[None, :])
            & (maxx[:, None] >= minx[None, :])
            & (miny[:, None] <= maxy[None, :])
            & (maxy[:, None] >= miny[None, :])
        )
        iu = np.triu_indices(E, k=1)
        mask = ov[iu]
        ii, jj = iu[0][mask], iu[1][mask]
    else:
        # sweep over x: sort by minx; for each edge, candidates are the
        # following edges whose minx <= this maxx; refine y overlap.
        order = np.argsort(minx, kind="stable")
        sminx = minx[order]
        ii_l, jj_l = [], []
        # chunked to bound memory: for each position k, the window of
        # candidates is [k+1, hi_k) with hi_k found by searchsorted.
        hi = np.searchsorted(sminx, maxx[order], side="right")
        for k in range(E):
            h = hi[k]
            if h <= k + 1:
                continue
            cand = order[k + 1 : h]
            e = order[k]
            m = (
                (miny[cand] <= maxy[e])
                & (maxy[cand] >= miny[e])
                & (minx[cand] <= maxx[e])
            )
            c = cand[m]
            if len(c):
                ii_l.append(np.full(len(c), e, dtype=np.int64))
                jj_l.append(c)
        if not ii_l:
            z = np.zeros(0)
            return (z.astype(np.int64), z.astype(np.int64), z, z, z, z)
        ii = np.concatenate(ii_l)
        jj = np.concatenate(jj_l)
        lo = np.minimum(ii, jj)
        hi2 = np.maximum(ii, jj)
        ii, jj = lo, hi2

    if len(ii) == 0:
        z = np.zeros(0)
        return (z.astype(np.int64), z.astype(np.int64), z, z, z, z)

    p0 = edges[ii, 0:2]
    p1 = edges[ii, 2:4]
    q0 = edges[jj, 0:2]
    q1 = edges[jj, 2:4]

    # shared-endpoint pairs are not proper crossings
    shared = (
        np.all(p0 == q0, axis=1)
        | np.all(p0 == q1, axis=1)
        | np.all(p1 == q0, axis=1)
        | np.all(p1 == q1, axis=1)
    )

    r = p1 - p0
    s = q1 - q0
    denom = r[:, 0] * s[:, 1] - r[:, 1] * s[:, 0]
    w = q0 - p0
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (w[:, 0] * s[:, 1] - w[:, 1] * s[:, 0]) / denom
        u = (w[:, 0] * r[:, 1] - w[:, 1] * r[:, 0]) / denom
    proper = (~shared) & (denom != 0) & (t > 0) & (t < 1) & (u > 0) & (u < 1)

    ii, jj, t, u = ii[proper], jj[proper], t[proper], u[proper]
    p0, p1, q0, q1 = p0[proper], p1[proper], q0[proper], q1[proper]

    # Exact point: homogeneous cross product of the two line coefficient
    # vectors — this operation order reproduces the reference goldens
    # bit-for-bit (verified vs /root/reference/test/out/*.json).
    a1, b1, c1 = _line_coeffs(p0, p1)
    a2, b2, c2 = _line_coeffs(q0, q1)
    xw = b1 * c2 - b2 * c1
    yw = a2 * c1 - a1 * c2
    zw = a1 * b2 - a2 * b1
    px = xw / zw
    py = yw / zw
    return ii.astype(np.int64), jj.astype(np.int64), px, py, t, u


def point_in_ring(pt, ring: np.ndarray, ignore_boundary: bool = True) -> bool:
    """Ray-casting PIP with turf's boundary semantics.

    Parity of turf booleanPointInPolygon/inRing as called at
    /root/reference/src/index.ts:666-675 ({ignoreBoundary: true}): points
    exactly on the boundary return ``not ignore_boundary``.
    """
    x, y = float(pt[0]), float(pt[1])
    r = np.asarray(ring, dtype=np.float64)
    if r[0, 0] == r[-1, 0] and r[0, 1] == r[-1, 1]:
        r = r[:-1]
    n = len(r)
    inside = False
    j = n - 1
    for i in range(n):
        xi, yi = r[i, 0], r[i, 1]
        xj, yj = r[j, 0], r[j, 1]
        on_boundary = (
            y * (xi - xj) + yi * (xj - x) + yj * (x - xi) == 0
            and (xi - x) * (xj - x) <= 0
            and (yi - y) * (yj - y) <= 0
        )
        if on_boundary:
            return not ignore_boundary
        if ((yi > y) != (yj > y)) and (x < (xj - xi) * (y - yi) / (yj - yi) + xi):
            inside = not inside
        j = i
    return inside


def point_in_ring_batch(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Strict ray-cast of many points against one ring: the one-ring
    entry to ``points_in_rings``."""
    r = np.asarray(ring, dtype=np.float64)
    return points_in_rings(px, py, np.zeros(len(px), np.int64), *_closed(r, np.array([0, len(r)])))


def ragged(start: np.ndarray, cnt: np.ndarray):
    """(k, start[k] + j) for every j < cnt[k], in k order: the slots of
    many ranges at once, with no Python loop over the ranges."""
    owner = np.repeat(np.arange(len(cnt), dtype=np.int64), cnt)
    return owner, np.arange(len(owner), dtype=np.int64) + np.repeat(start - (np.cumsum(cnt) - cnt), cnt)


_ROW_BUDGET = 1 << 17  # (pair, edge) rows per numpy pass: its temporaries are 1 MB arrays


def points_in_rings(px, py, ring_id, pts: np.ndarray, off: np.ndarray) -> np.ndarray:
    """Strict ray-cast of (point, ring) pairs against a ring table.

    Pair k tests point (px[k], py[k]) against ring ``ring_id[k]``, the
    closed ring ``pts[off[r]:off[r + 1]]`` (``ring_mats`` and
    ``ring_table`` close every ring).  Each pair expands to its ring's
    edges, vertex i against vertex i-1, and evaluates ``point_in_ring``'s
    crossing and on-boundary expressions, so the result is
    bit-identical to ``point_in_ring(pt, ring, True)``: boundary points
    are outside.  A pass holds at most ``_ROW_BUDGET`` (pair, edge) rows,
    so memory is bounded for any ring size.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring_id = np.asarray(ring_id, dtype=np.int64)
    X, Y = pts[:, 0], pts[:, 1]
    n = np.maximum(off[1:] - off[:-1] - 1, 0)[ring_id]  # edges of each pair's ring
    row_of = np.zeros(len(ring_id) + 1, np.int64)  # first (pair, edge) row of each pair
    n.cumsum(out=row_of[1:])
    vbase = off[:-1][ring_id] + 1 - row_of[:-1]  # row + vbase = vertex i of the row's edge
    crossings = np.zeros(len(ring_id), np.int64)
    on_boundary = np.zeros(len(ring_id), bool)
    total = int(row_of[-1])
    with np.errstate(divide="ignore", invalid="ignore"):
        for s in range(0, total, _ROW_BUDGET):
            e = min(s + _ROW_BUDGET, total)
            p0 = int(row_of.searchsorted(s, "right")) - 1
            p1 = int(row_of.searchsorted(e - 1, "right"))
            cnt = np.minimum(row_of[p0 + 1 : p1 + 1], e) - np.maximum(row_of[p0:p1], s)
            pair = np.arange(p0, p1).repeat(cnt)
            vi = np.arange(s, e) + vbase[pair]
            vj = vi - 1
            y, yi, yj = py[pair], Y[vi], Y[vj]
            straddles = (yi > y) != (yj > y)
            spans = (yi - y) * (yj - y) <= 0
            # the rest of either expression is evaluated only on rows where
            # it can hold: a crossing needs ``straddles``, a boundary hit ``spans``
            k = (straddles | spans).nonzero()[0]
            pair, y, yi, yj = pair[k], y[k], yi[k], yj[k]
            x, xi, xj = px[pair], X[vi[k]], X[vj[k]]
            on_b = (y * (xi - xj) + yi * (xj - x) + yj * (x - xi) == 0) & ((xi - x) * (xj - x) <= 0) & spans[k]
            crossing = straddles[k] & (x < (xj - xi) * (y - yi) / (yj - yi) + xi)
            crossings[p0:p1] += np.bincount(pair[crossing] - p0, minlength=p1 - p0)
            on_boundary[pair[on_b]] = True
    return (crossings % 2 == 1) & ~on_boundary


def _closed(pts: np.ndarray, off: np.ndarray):
    """The ring table with a copy of its first position appended to
    every non-empty ring whose last position differs from it."""
    if not len(pts):
        return pts, off
    first = np.minimum(off[:-1], len(pts) - 1)
    is_open = (off[1:] > off[:-1]) & ~(pts[first] == pts[off[1:] - 1]).all(axis=1)
    if not is_open.any():
        return pts, off
    r = is_open.nonzero()[0]
    pts = np.insert(pts, off[r + 1], pts[off[r]], axis=0)
    return pts, off + np.concatenate([[0], np.cumsum(is_open)])


def ring_table(rings) -> tuple[np.ndarray, np.ndarray]:
    """The ring table (pts, off) of a list of [N, 2] rings, each closed."""
    rings = [np.asarray(r, dtype=np.float64).reshape(len(r), 2) for r in rings]
    off = np.zeros(len(rings) + 1, np.int64)
    np.cumsum([len(r) for r in rings], out=off[1:])
    return _closed(np.concatenate(rings) if rings else np.zeros((0, 2)), off)


def ring_mats(col):
    """The ring table of a list<list<double>> Arrow column: one float64
    (Σn_i, 2) vertex matrix plus int64 offsets (ring i is
    ``pts[off[i]:off[i + 1]]``), each ring closed.  The list buffers are
    re-sliced (flatten honors offsets), never round-tripped through
    Python objects.  NULLs are rejected loudly: flatten silently drops
    them and would misalign every later row."""
    import pyarrow.compute as pc

    if col.null_count or col.flatten().null_count:
        raise ValueError("NULL coords in ring batch")
    nlens = arrow_to_numpy(pc.list_value_length(col), np.int64)
    flat = arrow_to_numpy(col.flatten().flatten())
    if flat.size != 2 * int(nlens.sum()):
        raise ValueError("non-2D coordinate rows in ring batch")
    pts = flat.reshape(-1, 2)
    off = np.zeros(len(nlens) + 1, dtype=np.int64)
    np.cumsum(nlens, out=off[1:])
    return _closed(pts, off)


# The Arrow <-> numpy boundary of every executor batch function.  Both
# directions go through buffers: pyarrow's own conversions (to_numpy,
# pa.array on an ndarray or list, take(ndarray), from_pydict, pa.scalar,
# combine_chunks of no chunks) import pandas into the Python worker on
# first use, some 20-40 MB of memory per worker.


def arrow_to_numpy(col, dtype=np.float64) -> np.ndarray:
    """A numeric Arrow Array or ChunkedArray as a float64 or int64
    ndarray read off its data buffer: a read-only view of it unless a
    NULL is present.  A NULL reads as NaN, as
    ``to_numpy(zero_copy_only=False).astype(np.float64)`` gives; an
    integer column rejects NULLs."""
    import pyarrow as pa

    dtype = np.dtype(dtype)
    if isinstance(col, pa.ChunkedArray):
        if col.num_chunks == 0:
            return np.zeros(0, dtype)
        col = col.combine_chunks()
    col = col.cast(pa.from_numpy_dtype(dtype))
    n = len(col)
    if n == 0:
        return np.zeros(0, dtype)
    vals = np.frombuffer(col.buffers()[1], dtype, n, col.offset * dtype.itemsize)
    if not col.null_count:
        return vals
    if dtype.kind != "f":
        raise ValueError(f"NULL in a {dtype} column")
    bits = np.unpackbits(np.frombuffer(col.buffers()[0], np.uint8), bitorder="little")
    return np.where(bits[col.offset : col.offset + n].view(bool), vals, np.nan)


def numpy_to_arrow(values, type=None):
    """An Arrow array built with ``pa.Array.from_buffers``.

    A numeric or bool ndarray (or a list numpy reads as one) keeps its
    values (NaN stays a value, as with ``pa.array``); its type comes
    from the dtype and is cast to ``type`` when one is given.  With a
    string or binary ``type``, ``values`` is a sequence of str, bytes
    or None, None giving NULL."""
    import pyarrow as pa

    if type is not None and (pa.types.is_string(type) or pa.types.is_binary(type)):
        return _varlen(values, type)
    v = np.ascontiguousarray(values)
    if v.dtype == bool:
        arr = pa.Array.from_buffers(
            pa.bool_(), len(v), [None, pa.py_buffer(np.packbits(v, bitorder="little"))]
        )
    else:
        arr = pa.Array.from_buffers(pa.from_numpy_dtype(v.dtype), len(v), [None, pa.py_buffer(v)])
    return arr if type is None or arr.type == type else arr.cast(type)


def _varlen(values, type):
    """A string or binary Arrow array from int32 offsets and one data
    buffer; None entries are NULL."""
    import pyarrow as pa

    enc = [s.encode() if isinstance(s, str) else s for s in values]
    n = len(enc)
    valid = np.fromiter((b is not None for b in enc), bool, n)
    off = np.zeros(n + 1, np.int64)
    np.cumsum(np.fromiter((len(b) if b is not None else 0 for b in enc), np.int64, n), out=off[1:])
    if off[-1] > np.iinfo(np.int32).max:
        raise ValueError(f"{off[-1]} bytes exceed one {type} array")
    nulls = n - int(valid.sum())
    mask = pa.py_buffer(np.packbits(valid, bitorder="little")) if nulls else None
    data = pa.py_buffer(b"".join(b for b in enc if b is not None))
    return pa.Array.from_buffers(type, n, [mask, pa.py_buffer(off.astype(np.int32)), data], nulls)


def js_number_string(v: float) -> str:
    """Format a float64 the way JS ``String(number)`` does, for the
    queue-sort quirk Q1 (/root/reference/src/index.ts:326-328 compares
    Position arrays with ``>`` ⇒ string coercion ``"x,y"``).

    Implements ECMA-262 Number::toString(10) exactly: the shortest
    round-trip digits (shared with Python ``repr``) rendered with JS's
    decimal/exponential switchover — decimal for 1e-6 ≤ |v| < 1e21,
    exponential otherwise with a minimal exponent (``1e-7``, never
    ``1e-07``).  Python ``repr`` alone diverges for |v| < 1e-4 (early
    exponential, zero-padded exponent) and |v| ≥ 1e16 (early
    exponential where JS still prints digits).
    """
    f = float(v)
    if f != f:
        return "NaN"
    if f == 0:
        return "0"
    sign = "-" if f < 0 else ""
    m = repr(abs(f))
    if m in ("inf", "Infinity"):
        return sign + "Infinity"
    # decompose shortest-repr into (digits, n) with |f| = 0.digits × 10^n
    if "e" in m:
        mant, exp_s = m.split("e")
        exp = int(exp_s)
    else:
        mant, exp = m, 0
    if "." in mant:
        int_part, frac = mant.split(".")
    else:
        int_part, frac = mant, ""
    d = (int_part + frac).rstrip("0")
    trailing = len(int_part) + len(frac) - len(d)
    d = d.lstrip("0")
    k = len(d)
    n = exp - len(frac) + trailing + k
    # ECMA-262 §6.1.6.1.20 steps 5-10
    if k <= n <= 21:
        return sign + d + "0" * (n - k)
    if 0 < n <= 21:
        return sign + d[:n] + "." + d[n:]
    if -6 < n <= 0:
        return sign + "0." + "0" * (-n) + d
    e = n - 1
    mant_s = d if k == 1 else d[0] + "." + d[1:]
    return sign + mant_s + ("e+" if e >= 0 else "e-") + str(abs(e))


def rings_overlap(a: np.ndarray, b: np.ndarray) -> bool:
    """True iff the interiors of two simple rings intersect — the
    pairwise refine predicate of ``operators.overlap.overlap_join``.

    Decision ladder (cheapest first):
      1. bbox-disjoint → False.
      2. identical coordinate arrays → True (every probe below lies ON
         the twin's boundary, so only this case needs the shortcut).
      3. any PROPER cross-ring edge crossing → True (reuses
         ``segment_intersections`` on the stacked edge sets, filtered
         to pairs that span both rings — the same discovery kernel the
         decomposition uses, /root/reference/src/index.ts:68-113).
      4. containment probes: any vertex OR edge midpoint of one ring
         STRICTLY inside the other (one ``points_in_rings`` call,
         ignoreBoundary semantics) → True.

    Contract/limits: "interiors intersect".  Touch-only contacts
    (shared vertex, edge-on-edge slide) report False — consistent with
    the discovery kernel, which discards shared endpoints and collinear
    overlaps; a containment whose probes all land exactly on the other
    boundary (other than the identical-ring case) is likewise treated
    as touching.  One degenerate FALSE NEGATIVE window beyond
    touch-only contacts: if EVERY boundary crossing between the rings
    happens exactly at a segment endpoint (vertex-transversal crossings
    are discarded as non-proper by ``segment_intersections``) AND every
    vertex/midpoint probe of each ring lands outside or ON the other
    boundary, genuinely intersecting interiors report False.  Requires
    the rings' vertices to coincide with crossing points AND the probe
    set to miss the shared interior — measure-zero for real-coordinate
    layers, but constructible; callers needing those inputs must
    pre-perturb or add probes.  Simple rings in, as produced by the
    decomposition."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if (
        a[:, 0].min() > b[:, 0].max()
        or b[:, 0].min() > a[:, 0].max()
        or a[:, 1].min() > b[:, 1].max()
        or b[:, 1].min() > a[:, 1].max()
    ):
        return False
    if a.shape == b.shape and np.array_equal(a, b):
        return True
    ea = np.hstack([a[:-1], a[1:]])
    eb = np.hstack([b[:-1], b[1:]])
    na = len(ea)
    ii, jj, *_ = segment_intersections(np.vstack([ea, eb]))
    if np.any((ii < na) & (jj >= na)):
        return True
    # probes: every vertex and edge midpoint of a against b (ring 0 of
    # the table), and of b against a (ring 1)
    probes = np.vstack([a[:-1], (a[:-1] + a[1:]) / 2.0, b[:-1], (b[:-1] + b[1:]) / 2.0])
    ring_id = np.repeat([0, 1], [2 * (len(a) - 1), 2 * (len(b) - 1)])
    return bool(points_in_rings(probes[:, 0], probes[:, 1], ring_id, *ring_table([b, a])).any())
