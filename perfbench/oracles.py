"""Reference answers computed without the code paths being measured.

Each check raises ``Mismatch`` with a one-line reason.  The point-in-ring
oracle is a plain numpy ray-cast over a bbox prefilter; the kNN oracle
is a brute-force distance sort; the crosswalk oracle recovers every cover
interval from the index's breakpoints and scans them all per cell; the
payload oracle decodes SPIM bytes itself and regenerates the pixels.
Where a full check would dominate the run, a deterministic id sample
(ids ending in a fixed suffix) is checked in full instead.
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
import pyarrow.parquet as pq


class Mismatch(AssertionError):
    """An operation returned output that disagrees with its oracle."""


def require(ok: bool, what: str) -> None:
    if not ok:
        raise Mismatch(what)


# ---------------------------------------------------------------------------
# point in ring
# ---------------------------------------------------------------------------


def ray_cast(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Strict even-odd ray-cast of many points against one closed ring;
    boundary points count as outside.  Each edge is evaluated from its
    end vertex back to its start vertex, the orientation the engine's
    refine uses, so both sides round identically."""
    r = np.asarray(ring, np.float64)[:-1]
    xi, yi = r[:, 0], r[:, 1]
    xj, yj = np.concatenate([r[-1:, 0], r[:-1, 0]]), np.concatenate([r[-1:, 1], r[:-1, 1]])
    inside = np.zeros(len(px), bool)
    on_edge = np.zeros(len(px), bool)
    for a, b, c, d in zip(xi, yi, xj, yj):
        straddle = (b > py) != (d > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            inside ^= straddle & (px < (c - a) * (py - b) / (d - b) + a)
        on_edge |= (
            (py * (a - c) + b * (c - px) + d * (px - a) == 0)
            & ((a - px) * (c - px) <= 0)
            & ((b - py) * (d - py) <= 0)
        )
    return inside & ~on_edge


def pip_pairs(lon: np.ndarray, lat: np.ndarray, rings: list) -> tuple[np.ndarray, np.ndarray]:
    """All (point index, ring index) pairs with the point strictly inside
    the ring, for points inside the lon/lat window."""
    ok = np.isfinite(lon) & np.isfinite(lat) & (np.abs(lon) <= 180) & (np.abs(lat) <= 90)
    order = np.argsort(lon, kind="stable")
    order = order[ok[order]]
    slon = lon[order]
    pts, rids = [], []
    for rid, ring in enumerate(rings):
        x0, y0 = ring[:, 0].min(), ring[:, 1].min()
        x1, y1 = ring[:, 0].max(), ring[:, 1].max()
        a, b = np.searchsorted(slon, x0, "left"), np.searchsorted(slon, x1, "right")
        cand = order[a:b]
        cand = cand[(lat[cand] >= y0) & (lat[cand] <= y1)]
        hit = cand[ray_cast(lon[cand], lat[cand], ring)]
        pts.append(hit)
        rids.append(np.full(len(hit), rid))
    if not pts:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    return np.concatenate(pts), np.concatenate(rids)


def ring_counts(lon, lat, keys: list, rings: list) -> dict:
    """(polygon_id, ring_index) -> number of points strictly inside."""
    _, rid = pip_pairs(lon, lat, rings)
    cnt = np.bincount(rid, minlength=len(rings))
    return {keys[r]: int(c) for r, c in enumerate(cnt) if c}


def assignment_rows(ids, lon, lat, keys: list, rings: list) -> list:
    """Sorted (id, polygon_id, ring_index) rows of every containment."""
    pt, rid = pip_pairs(lon, lat, rings)
    return sorted((ids[p], keys[r][0], keys[r][1]) for p, r in zip(pt, rid))


# ---------------------------------------------------------------------------
# kNN and crosswalk
# ---------------------------------------------------------------------------


def knn_rows(ids, lon, lat, keys: list, rings: list, k: int) -> list:
    """(id, polygon_id, ring_index, rank, dist) by brute-force sort over
    every ring centroid (vertex mean, closing vertex excluded), ties broken
    on (polygon_id, ring_index)."""
    cents = np.array([r[:-1].mean(axis=0) for r in rings])
    tie = sorted(range(len(keys)), key=lambda r: keys[r])
    tie_rank = np.empty(len(keys), np.int64)
    tie_rank[tie] = np.arange(len(keys))
    out = []
    for i in range(len(ids)):
        dx, dy = lon[i] - cents[:, 0], lat[i] - cents[:, 1]
        d = np.sqrt(dx * dx + dy * dy)
        best = np.lexsort((tie_rank, d))[:k]
        out += [(ids[i], keys[r][0], keys[r][1], n + 1, float(d[r])) for n, r in enumerate(best)]
    return sorted(out)


def index_intervals(index) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lo, hi, ring id) of every cover interval, recovered from the
    index's elementary segments: an interval spans a run of segments, its
    lo is the first segment's breakpoint and hi+1 the breakpoint after
    its last."""
    n_iv = len(index.iv_ring)
    seg = np.repeat(np.arange(len(index.bp)), np.diff(index.seg_ptr))
    first = np.full(n_iv, len(index.bp), np.int64)
    last = np.full(n_iv, -1, np.int64)
    np.minimum.at(first, index.seg_ids, seg)
    np.maximum.at(last, index.seg_ids, seg)
    return index.bp[first], index.bp[last + 1] - 1, index.iv_ring


def _morton(ix: int, iy: int) -> int:
    c = 0
    for b in range(32):
        c |= ((ix >> b) & 1) << (2 * b) | ((iy >> b) & 1) << (2 * b + 1)
    return c


def crosswalk_rows(ids, b0, b1, b2, b3, level: int, index, max_level: int = 16) -> list:
    """Sorted (id, cell, polygon_id, ring_index) rows: every level-``level``
    cell a tile touches, linked to every ring whose cover overlaps it, or
    to (None, None) when none does."""
    lo, hi, ring = index_intervals(index)
    n = 1 << level
    shift = 2 * (max_level - level)

    def axis(v, off, ext):
        return min(n - 1, max(0, int(np.floor((v + off) / ext * n))))

    out = []
    for i in range(len(ids)):
        for ix in range(axis(b0[i], 180.0, 360.0), axis(b2[i], 180.0, 360.0) + 1):
            for iy in range(axis(b1[i], 90.0, 180.0), axis(b3[i], 90.0, 180.0) + 1):
                c = _morton(ix, iy)
                qlo, qhi = c << shift, ((c + 1) << shift) - 1
                hits = np.unique(ring[(lo <= qhi) & (hi >= qlo)])
                if len(hits) == 0:
                    out.append((ids[i], c, None, None))
                for r in hits:
                    out.append((ids[i], c) + tuple(index.ring_keys[r]))
    return sorted(out, key=null_last)


def null_last(row):
    """Sort key for rows with NULL columns: None after every value."""
    return tuple((v is None, v if v is not None else 0) for v in row)


def landed_rows(out_dir: str) -> list:
    """Sorted (image_id, polygon_id, ring_index) rows of a landed run,
    read from the parquet files with pyarrow rather than through the
    engine's reader: the lineage log must commit one run, and each
    committed part directory must hold exactly the row count its lineage
    row records."""
    lin = pq.read_table(os.path.join(out_dir, "_lineage")).to_pylist()
    runs = {r["run_id"] for r in lin}
    require(len(runs) == 1 and len(lin) == len({r["part_id"] for r in lin}),
            f"land: lineage log holds {len(lin)} rows over {len(runs)} runs")
    (run,) = runs
    out = []
    for r in lin:
        files = glob.glob(os.path.join(out_dir, "data", f"part_id={r['part_id']}", f"run_id={run}", "*.parquet"))
        rows = [row for f in files for row in pq.read_table(f, columns=["image_id", "polygon_id", "ring_index"])
                .to_pylist()]
        require(len(rows) == r["n_rows"], f"land: part {r['part_id']} holds {len(rows)} rows, lineage says {r['n_rows']}")
        out += [(row["image_id"], row["polygon_id"], row["ring_index"]) for row in rows]
    return sorted(out)


# ---------------------------------------------------------------------------
# decompose, overlap, payload
# ---------------------------------------------------------------------------


def perimeter(ring) -> float:
    r = np.asarray(ring, np.float64)
    if not (r[0] == r[-1]).all():
        r = np.vstack([r, r[:1]])
    return float(np.hypot(*np.diff(r, axis=0).T).sum())


def check_perimeters(polygons: dict, out_rings: dict) -> None:
    """Decomposition splits edges at crossings and uses every piece once,
    so each polygon's summed output edge length equals its input
    perimeter."""
    require(set(polygons) == set(out_rings), f"decompose: {len(set(polygons) ^ set(out_rings))} polygon ids missing or extra")
    for pid, rings in polygons.items():
        want = sum(perimeter(r) for r in rings)
        got = sum(perimeter(r) for r in out_rings[pid])
        require(abs(got - want) <= 1e-9 * max(want, 1.0), f"decompose: perimeter of {pid} is {got}, input {want}")


def overlap_pairs(keys: list, rings: list, sample: set) -> set:
    """Unordered overlapping ring pairs that involve a sampled ring, by
    the exact pairwise predicate on every bbox-overlapping candidate."""
    from simplepolygon_spark.geom import rings_overlap

    bb = np.array([[r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()] for r in rings])
    out = set()
    for a in sorted(sample):
        cand = np.nonzero(
            (bb[:, 0] <= bb[a, 2]) & (bb[:, 2] >= bb[a, 0]) & (bb[:, 1] <= bb[a, 3]) & (bb[:, 3] >= bb[a, 1])
        )[0]
        for b in cand:
            if b != a and rings_overlap(rings[a], rings[b]):
                out.add(tuple(sorted((keys[a], keys[b]))))
    return out


def spim_pixels(data: bytes, fmt: str) -> np.ndarray:
    """Decode a SPIM payload: 'SPIM', int32le w, int32le h, then RGB24 raw
    (raw, qnt) or (count, value) byte pairs (rle)."""
    require(data[:4] == b"SPIM", "payload: bad magic")
    w, h = (int.from_bytes(data[k:k + 4], "little", signed=True) for k in (4, 8))
    body = np.frombuffer(data, np.uint8, offset=12)
    if fmt == "rle":
        body = np.repeat(body[1::2], body[0::2])
    return body.reshape(h, w, 3)


def payload_row(image_id: str, data: bytes, fmt: str, caption: str) -> tuple[float, bool]:
    """(psnr_db with the 1e9 lossless sentinel, caption_ok)."""
    from simplepolygon_spark.sources.images import pixels_of

    i = int(image_id[3:])
    px = spim_pixels(data, fmt)
    ref = pixels_of(i, px.shape[1], px.shape[0])
    mse = float(((px.astype(np.float64) - ref) ** 2).mean())
    psnr = 1e9 if mse == 0 else 20.0 * np.log10(255.0 / np.sqrt(mse))
    digest = hashlib.blake2b(image_id.encode()).digest()
    return psnr, caption == f"synthetic image {i} :: {digest[:12].hex()}"
