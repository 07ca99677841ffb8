"""Per-polygon ring decomposition — reference-parity semantics.

From-scratch reimplementation (algorithm from Subramaniam 2003, "Partition
of a Non-simple Polygon Into Simple Polygons", as extended by the
reference) of the decomposition pipeline of mclaeysb/simplepolygon
(/root/reference/src/index.ts:39-533).  Semantics replicated exactly,
including the documented quirks (SURVEY.md §7.4):

* Q1 — the walk-start queue is sorted by JS *string* comparison of the
  coordinate pair (src/index.ts:326-328), not numerically.
* Q2 — root-parent fixup assigns the *last* containing ring in index
  order (the area tie-break at src/index.ts:663,676 is dead code).
* Q3 — the zero-intersection fast path emits rings verbatim and without
  an ``index`` property (src/index.ts:117-133); unclosed input rings are
  auto-closed (purely — we never mutate the caller's data).

This module is deliberately Spark-free: it operates on one polygon's
coordinate lists with numpy for the vectorized parts (intersection
discovery) and tight index-chasing loops for the walk, whose trip count
is O(vertices + crossings) of a *single* polygon.  Dataset-level
parallelism lives in simplepolygon_spark.operators.decompose.
"""

from __future__ import annotations

from collections import deque
from typing import Any

import numpy as np

from .geom import (
    is_convex,
    js_number_string,
    pmod,
    points_in_rings,
    ring_table,
    segment_intersections,
    winding_of_ring,
)

__all__ = ["decompose", "DecomposeError"]


class DecomposeError(ValueError):
    """Raised for invalid input polygons (message parity with the reference)."""


def _coord_key(c) -> tuple:
    # -0.0 == 0.0 hashes identically in Python, matching JS string keys
    return (c[0], c[1])


_NON_FINITE = (
    "Each position must contain 2 finite coordinates "
    "(engine deviation: the reference does not validate this)"
)


def _js_coord_string(c) -> str:
    """JS ``String([x, y])`` == ``"x,y"`` — quirk Q1 sort key."""
    return js_number_string(c[0]) + "," + js_number_string(c[1])


def decompose(rings: list) -> list[dict[str, Any]]:
    """Decompose one (possibly self-intersecting) polygon.

    Parameters
    ----------
    rings : list of rings, each a list of [x, y] positions.  Rings may be
        unclosed (auto-closed, without mutating the input).

    Returns
    -------
    list of dicts ``{"coords": [[x, y], ...], "parent": int,
    "winding": int, "net_winding": int, "index": int | None}`` — one per
    simple output ring.  ``index`` is None on the zero-intersection fast
    path (quirk Q3).
    """
    if not isinstance(rings, (list, tuple)):
        raise DecomposeError("The input must a geojson object with a non-empty geometry")
    if len(rings) == 0:
        # parity: the reference's non-empty-geometry error fires only for
        # geometry === null/undefined (src/index.ts:45-46); coordinates=[]
        # sails through (numRings=0, no vertices, zero intersections) and
        # the fast path returns an empty FeatureCollection (:116-134)
        return []

    # --- normalize: close rings (pure copy), collect vertices -----------
    closed: list[list[list[float]]] = []
    vertices: list[list[float]] = []
    for ring in rings:
        if ring is None:
            # a NULL ring element inside the coordinates array (typed
            # error, not a TypeError — on_error='skip' must drop it)
            raise DecomposeError(
                "Each ring must be a non-null array of positions "
                "(engine deviation: the reference does not validate this)"
            )
        for p in ring:
            if p is None or len(p) < 2:
                # DOCUMENTED DEVIATION: the reference reads v[0]/v[1] as
                # JS undefined and propagates NaN-like garbage through
                # gpsi; a malformed position is rejected with a typed
                # error instead of an IndexError from the float() below
                raise DecomposeError(
                    "Each position must contain at least 2 coordinates "
                    "(engine deviation: the reference does not validate this)"
                )
            if p[0] is None or p[1] is None:
                # a NULL coordinate: typed error, not float()'s TypeError
                raise DecomposeError(_NON_FINITE)
        r = [[float(p[0]), float(p[1])] for p in ring]
        if len(r) < 3:
            # DOCUMENTED DEVIATION from the reference: simplepolygon
            # performs no arity validation and would push a 2-point ring
            # through gpsi into a degenerate zero-area output
            # (/root/reference/src/index.ts:51-59 closes it silently).
            # We reject explicitly with a message the reference never
            # emits — degenerate rings are invalid GeoJSON (RFC 7946
            # §3.1.6 requires 4+ positions) and a poisoned input at
            # scale is better surfaced than propagated.
            raise DecomposeError(
                "Each ring must contain at least 3 vertices "
                "(engine deviation: the reference does not validate this)"
            )
        if not (r[0][0] == r[-1][0] and r[0][1] == r[-1][1]):
            r.append([r[0][0], r[0][1]])
        closed.append(r)
        vertices.extend(r[:-1])
    # dedup key is the JS string `${x},${y}` exactly as the reference
    # builds it (src/index.ts:60-63) — NOT a numeric tuple: string keys
    # make NaN,NaN compare equal (a numeric NaN never equals itself, so
    # a tuple-set would silently admit rings with repeated NaN vertices)
    if len(vertices) != len({_js_coord_string(v) for v in vertices}):
        raise DecomposeError(
            "The input polygon may not have duplicate vertices "
            "(except for the first and last vertex of each ring)"
        )
    numvertices = len(vertices)
    num_rings = len(closed)

    # --- intersection discovery (J1): flat edge table + numpy sweep -----
    edge_ring: list[int] = []
    edge_idx: list[int] = []
    flat_edges: list[list[float]] = []
    for i, r in enumerate(closed):
        n = len(r) - 1
        for j in range(n):
            edge_ring.append(i)
            edge_idx.append(j)
            flat_edges.append([r[j][0], r[j][1], r[j + 1][0], r[j + 1][1]])
    fe = np.asarray(flat_edges, dtype=np.float64)
    if not np.isfinite(fe).all():
        # after the dedup check, so repeated NaN vertices keep the
        # reference's duplicate-vertex error; a lone NaN or inf would
        # otherwise come out as a garbage (or NULL) coordinate
        raise DecomposeError(_NON_FINITE)
    ei, ej, px, py, ti, tj = segment_intersections(fe)

    # selfIsectsData-equivalent mentions: each crossing twice, the first
    # mention flagged unique (contract at src/index.ts:69-110).
    mentions: list[tuple] = []  # (px, py, ring0, edge0, frac0, ring1, edge1, unique)
    order = np.lexsort((ej, ei))
    for k in order:
        a, b = int(ei[k]), int(ej[k])
        ra, ea = edge_ring[a], edge_idx[a]
        rb, eb = edge_ring[b], edge_idx[b]
        x, y = float(px[k]), float(py[k])
        mentions.append((x, y, ra, ea, float(ti[k]), rb, eb, True))
        mentions.append((x, y, rb, eb, float(tj[k]), ra, ea, False))

    # --- fast path: no self-intersections (src/index.ts:116-134) --------
    if not mentions:
        feats = [
            {
                "coords": [list(p) for p in closed[i]],
                "parent": -1,
                "winding": winding_of_ring(np.asarray(closed[i])),
                "net_winding": None,
                "index": None,
            }
            for i in range(num_rings)
        ]
        _determine_parents(feats)
        _set_net_winding(feats)
        return feats

    # --- IR #1: pseudo-vertex lists + isect list (src/index.ts:136-200) -
    # pseudo-vertex: (coord, param, edge_in(ring,edge), edge_out(ring,edge))
    pv_by_ring_edge: list[list[list[list]]] = []
    # isect: [coord, re1, re2, walk1, walk2, nxt1, nxt2]
    isects: list[list] = []
    for i, r in enumerate(closed):
        n = len(r) - 1
        pv_by_ring_edge.append([])
        for j in range(n):
            pv_by_ring_edge[i].append(
                [[r[pmod(j + 1, n)], 1.0, (i, j), (i, pmod(j + 1, n))]]
            )
            isects.append([r[j], (i, pmod(j - 1, n)), (i, j), False, True, None, None])
    for (x, y, r0, e0, frac0, r1, e1, unique) in mentions:
        pv_by_ring_edge[r0][e0].append([[x, y], frac0, (r0, e0), (r1, e1)])
        if unique:
            isects.append([[x, y], (r0, e0), (r1, e1), True, True, None, None])

    for i in range(num_rings):
        for j in range(len(pv_by_ring_edge[i])):
            pv_by_ring_edge[i][j].sort(key=lambda pv: pv[1])

    # --- coord -> isect index (replaces the reference's RBush point
    # index, src/index.ts:203-215 — an exact-match lookup, so a dict) ----
    # DOCUMENTED DEVIATION: coincident crossing points (two distinct
    # edge pairs crossing at one coordinate, or a crossing landing
    # exactly on an unrelated ring vertex) make the coord->isect lookup
    # ambiguous.  The reference inherits whatever its RBush point query
    # returns first and its walk behavior is undefined there (the gpsi
    # contract at src/index.ts:69-110 reports both crossings); our walk
    # would loop forever.  An engine must never hang an executor on one
    # poisoned row, so we reject such polygons explicitly.
    if len({_coord_key(it[0]) for it in isects}) != len(isects):
        raise DecomposeError(
            "Coincident intersection points are not supported "
            "(engine deviation: the reference's behavior is undefined here)"
        )
    coord_to_isect = {_coord_key(it[0]): idx for idx, it in enumerate(isects)}

    # --- link pass 1: next isect along each pseudo-vertex's edge-in
    # (src/index.ts:217-244) --------------------------------------------
    pv_nxt: dict[tuple, int] = {}
    for i in range(num_rings):
        n = len(closed[i]) - 1
        for j in range(n):
            lst = pv_by_ring_edge[i][j]
            for k in range(len(lst)):
                if k == len(lst) - 1:
                    coord_to_find = pv_by_ring_edge[i][pmod(j + 1, n)][0][0]
                else:
                    coord_to_find = lst[k + 1][0]
                lst[k].append(coord_to_isect[_coord_key(coord_to_find)])

    # --- link pass 2: port successors onto isects (src/index.ts:246-281)
    for i in range(num_rings):
        for j in range(len(pv_by_ring_edge[i])):
            for pv in pv_by_ring_edge[i][j]:
                l = coord_to_isect[_coord_key(pv[0])]
                nxt = pv[4]
                if l < numvertices:
                    isects[l][6] = nxt  # ringAndEdgeOut == ringAndEdge2 at ring vertices
                elif isects[l][1] == pv[2]:
                    isects[l][5] = nxt
                else:
                    isects[l][6] = nxt

    # --- queue seeding (src/index.ts:283-330) ---------------------------
    # the reference's `before` is the first isect whose successor is
    # `left`: one map of each isect's first predecessor, not a scan
    first_pred: dict[int, int] = {}
    for k, it in enumerate(isects):
        for succ in (it[5], it[6]):
            if succ is not None:
                first_pred.setdefault(succ, k)
    queue: list[list] = []  # [isect, parent, winding, live]
    i_run = 0
    for j in range(num_rings):
        left = i_run
        for _ in range(len(closed[j]) - 1):
            if isects[i_run][0][0] < isects[left][0][0]:
                left = i_run
            i_run += 1
        after = isects[left][6]
        if after is None:
            raise DecomposeError("Next intersection not defined")
        before = first_pred.get(left, 0)
        winding = (
            1
            if is_convex(isects[before][0], isects[left][0], isects[after][0], True)
            else -1
        )
        queue.append([left, -1, winding, True])
    # Q1: JS sorts with string-coerced array comparison, descending
    queue.sort(key=lambda q: _js_coord_string(isects[q[0]][0]), reverse=True)
    # lazy deletion: the walk's "remove nxt from the queue" marks the
    # earliest live entry for nxt dead, and pop skips dead entries. The
    # live entries of each isect, in queue order: removal takes the
    # front, and a live pop (the queue's last live entry) the back.
    pending: dict[int, deque] = {}
    for q in queue:
        pending.setdefault(q[0], deque()).append(q)

    def push(isect: int, parent: int, winding: int) -> None:
        q = [isect, parent, winding, True]
        queue.append(q)
        pending.setdefault(isect, deque()).append(q)

    # --- the walk (src/index.ts:332-519) --------------------------------
    # hard step bound (defense in depth behind the coincident-point
    # guard): a consistent intersection graph walks each (isect,
    # direction) at most once, so total steps are bounded by the number
    # of walkable directions; exceeding it means a degenerate structure
    # slipped through — fail the row, never hang the executor.
    max_steps = 2 * (numvertices + 2 * len(isects)) + 16
    steps = 0
    out: list[dict[str, Any]] = []
    while queue:
        start_isect, cur_parent, cur_winding, live = queue.pop()
        if not live:
            continue
        pending[start_isect].pop()
        cur_ring_idx = len(out)
        coords = [list(isects[start_isect][0])]
        cur = start_isect
        if isects[start_isect][3]:  # ringAndEdge1Walkable
            walking = isects[start_isect][1]
            nxt = isects[start_isect][5]
        else:
            walking = isects[start_isect][2]
            nxt = isects[start_isect][6]
        if nxt is None:
            raise DecomposeError("Next intersection not defined")
        start_coord = isects[start_isect][0]
        while not (
            start_coord[0] == isects[nxt][0][0] and start_coord[1] == isects[nxt][0][1]
        ):
            steps += 1
            if steps > max_steps:
                raise DecomposeError(
                    "Ring walk exceeded its step bound — degenerate "
                    "intersection structure (engine guard; see coincident-"
                    "point deviation note)"
                )
            coords.append(list(isects[nxt][0]))
            # remove nxt from the queue if pending (src/index.ts:393-404)
            if pending.get(nxt):
                pending[nxt].popleft()[3] = False
            it = isects[nxt]
            if walking == it[1]:
                walking = it[2]
                it[4] = False
                if it[3]:
                    nxt2 = it[6]
                    if nxt2 is None:
                        raise DecomposeError("Next intersection not defined")
                    if is_convex(
                        isects[cur][0], it[0], isects[nxt2][0], cur_winding == 1
                    ):
                        push(nxt, cur_parent, -cur_winding)
                    else:
                        push(nxt, cur_ring_idx, cur_winding)
                cur = nxt
                nxt = it[6]
            else:
                walking = it[1]
                it[3] = False
                if it[4]:
                    nxt1 = it[5]
                    if nxt1 is None:
                        raise DecomposeError("Next intersection not defined")
                    if is_convex(
                        isects[cur][0], it[0], isects[nxt1][0], cur_winding == 1
                    ):
                        push(nxt, cur_parent, -cur_winding)
                    else:
                        push(nxt, cur_ring_idx, cur_winding)
                cur = nxt
                nxt = it[5]
            if nxt is None:
                raise DecomposeError("Next intersection not defined")
        coords.append(list(isects[nxt][0]))
        out.append(
            {
                "coords": coords,
                "parent": cur_parent,
                "winding": cur_winding,
                "net_winding": None,
                "index": cur_ring_idx,
            }
        )

    _determine_parents(out)
    _set_net_winding(out)
    return out


def _determine_parents(feats: list[dict[str, Any]]) -> None:
    """Root-parent fixup (src/index.ts:645-694) — Q2: last containing ring
    in index order wins; the area comparison is dead code and skipped.
    One ``points_in_rings`` call tests every (root first vertex, other
    ring) pair."""
    roots = np.array([i for i, f in enumerate(feats) if f["parent"] == -1], np.int64)
    if len(roots) <= 1:
        return
    pts, off = ring_table([f["coords"] for f in feats])
    n = len(feats)
    first = pts[off[roots]]
    root = np.repeat(np.arange(len(roots)), n)
    ring = np.tile(np.arange(n), len(roots))
    inside = points_in_rings(first[root, 0], first[root, 1], ring, pts, off)
    inside &= ring != roots[root]
    contained = inside.reshape(len(roots), n)
    last = n - 1 - np.argmax(contained[:, ::-1], axis=1)
    for i, parent in zip(roots.tolist(), np.where(contained.any(axis=1), last, -1).tolist()):
        feats[i]["parent"] = parent


def _set_net_winding(feats: list[dict[str, Any]]) -> None:
    """Net-winding propagation (src/index.ts:696-720): one pass from the
    roots down a parent → children map, so any nesting depth works.  A
    ring no root reaches keeps ``net_winding=None``."""
    children: dict[int, list[int]] = {}
    for i, f in enumerate(feats):
        children.setdefault(f["parent"], []).append(i)
    order = list(children.get(-1, []))
    for i in order:  # grows as each ring's children are appended
        p = feats[i]["parent"]
        feats[i]["net_winding"] = feats[i]["winding"] + (0 if p == -1 else feats[p]["net_winding"])
        order.extend(children.get(i, []))


def simplepolygon(feature: dict) -> dict:
    """Drop-in equivalent of the reference's sole public API
    (``simplepolygon(feature: Feature<Polygon>) -> FeatureCollection``,
    reference src/index.ts:39-41): validates the Feature wrapper
    with the reference's exact error messages (:42-48), decomposes, and
    assembles the FeatureCollection with the reference's property
    contract — index/parent/winding/netWinding, and NO ``index`` key on
    the zero-intersection fast path (quirk Q3).  Pure Python/numpy (no
    Spark), and the package's one FeatureCollection assembly: the
    columnar form, ``operators.geojson.decompose_geojson``, calls it on
    each row inside its one Arrow pass."""
    if not isinstance(feature, dict) or feature.get("type") != "Feature":
        raise DecomposeError("The input must a geojson object of type Feature")
    geom = feature.get("geometry")
    if geom is None:
        raise DecomposeError(
            "The input must a geojson object with a non-empty geometry"
        )
    if not isinstance(geom, dict) or geom.get("type") != "Polygon":
        # a non-dict geometry (e.g. the string "Polygon") matches the
        # reference here too: `feature.geometry.type` is undefined, so
        # its type check throws this same error (src/index.ts:47-48)
        raise DecomposeError("The input must be a geojson Polygon")
    # missing "coordinates" reaches decompose() as None and raises a
    # typed DecomposeError (the reference crashes with a TypeError on
    # `.coordinates.length`; a typed error keeps on_error='skip' working)
    out = []
    for f in decompose(geom.get("coordinates")):
        props: dict[str, Any] = {}
        if f["index"] is not None:
            props["index"] = f["index"]
        props.update(
            parent=f["parent"], winding=f["winding"], netWinding=f["net_winding"]
        )
        out.append(
            {
                "type": "Feature",
                "properties": props,
                "geometry": {"type": "Polygon", "coordinates": [f["coords"]]},
            }
        )
    return {"type": "FeatureCollection", "features": out}
