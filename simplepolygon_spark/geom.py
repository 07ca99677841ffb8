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
* ``signed_area`` — planar shoelace area (used by the tiling layer; the
  reference's geodesic area call at src/index.ts:676 is dead code, see
  SURVEY.md §7.4 Q2, so no geodesic implementation is needed for parity).

All kernels are vectorized over numpy arrays; the only Python-level loops
are over *intersections/vertices of a single polygon* inside the
decomposition walk (decompose.py), never over dataset rows.
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
    """Vectorized strict ray-cast PIP of many points against one ring.

    Boundary points are treated as *outside* (ignoreBoundary=True
    semantics), consistent with ``point_in_ring``.  Used by the PIP-join
    refine stage where each Arrow batch tests many points per ring.
    """
    r = np.asarray(ring, dtype=np.float64)
    if r[0, 0] == r[-1, 0] and r[0, 1] == r[-1, 1]:
        r = r[:-1]
    rj = np.concatenate([r[-1:], r[:-1]])  # vertex j = i - 1 (cyclic)
    xi = r[:, 0][None, :]
    yi = r[:, 1][None, :]
    xj = rj[:, 0][None, :]
    yj = rj[:, 1][None, :]
    x = np.asarray(px, dtype=np.float64)[:, None]
    y = np.asarray(py, dtype=np.float64)[:, None]
    on_b = (
        (y * (xi - xj) + yi * (xj - x) + yj * (x - xi) == 0)
        & ((xi - x) * (xj - x) <= 0)
        & ((yi - y) * (yj - y) <= 0)
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        crossing = ((yi > y) != (yj > y)) & (x < (xj - xi) * (y - yi) / (yj - yi) + xi)
    inside = (np.sum(crossing, axis=1) % 2).astype(bool)
    inside[np.any(on_b, axis=1)] = False
    return inside


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
         STRICTLY inside the other (``point_in_ring_batch``,
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
    for probe_src, other in ((a, b), (b, a)):
        verts = probe_src[:-1]
        mids = (probe_src[:-1] + probe_src[1:]) / 2.0
        px = np.concatenate([verts[:, 0], mids[:, 0]])
        py = np.concatenate([verts[:, 1], mids[:, 1]])
        if point_in_ring_batch(px, py, other).any():
            return True
    return False
