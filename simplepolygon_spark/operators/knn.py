"""kNN join: k nearest simple rings per query point (SURVEY.md §2.3 J6).

Distance metric: Euclidean lon/lat distance to the ring *centroid*
(mean of the ring's vertices, closing vertex excluded) — documented
engine semantics; ties break on (polygon_id, ring_index), the ring's
*rank*, for determinism.

Scale plan: the ring layer is the broadcastable dim side, so the right
physical strategy is **broadcast + per-batch exact candidate search**,
with *no shuffle and no window sort*.  Each worker puts the broadcast
index's rank-ordered centroids into a quantile grid once
(``IntervalIndex._view``; the grid is never shipped).  A batch looks
its points up in that grid, gathers the centroids of each point's 3×3
cell block, and keeps the k best by (dist, rank).  A point's answer is
*certified* when its k-th distance is strictly below its distance to
the block's edge, less a rounding margin: every centroid outside the
block is farther, so no other ring can enter the top k or win a tie.
Rows not certified retry with a wider block, up to the whole grid,
where every ring is a candidate and the answer is final.  Filter and
refine, as in *Raster Intervals*: the cheap block settles almost every
row, and only the rest pay for more rings.

No stage holds more than ``_MAX_ENTRIES`` (row, centroid) entries
(at least one row's worth): rows are processed in chunks under it.

The window-function formulation (candidate join → row_number() ≤ k)
exists as ``knn_join_window`` for oracle parity and for the case where
the ring side outgrows a broadcast.
"""

from __future__ import annotations

import numbers
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .tiling import IntervalIndex

_MAX_ENTRIES = 1 << 15  # (row, centroid) entries any one stage may hold
_PER_CELL = 3  # target centroids per grid cell
# A certified row's k-th distance must be below (1 - _SLACK) times its
# block-edge distance, less _FLOOR.  One computed distance carries at
# most ~4 ulps of relative error against the exact one, far below
# 2**-40; _FLOOR keeps the squares of edge-sized differences normal.
_SLACK = 2.0**-40
_FLOOR = 1e-150


def _check_k(k) -> int:
    if isinstance(k, bool) or not isinstance(k, numbers.Integral) or k < 1:
        raise ValueError(f"k must be an int >= 1, got {k!r}")
    return int(k)


@dataclass
class _Grid:
    """Quantile grid over the rank-ordered ring centroids.

    Rank j is the j-th ring in (polygon_id, ring_index) order
    (``ring = order[j]``).  Column c spans ``[xe[c], xe[c + 1])`` and row
    r spans ``[ye[r], ye[r + 1])``; the rim edges are ±inf.  Cell
    ``r * nx + c`` holds ranks ``rank[ptr[cell]:ptr[cell + 1]]``, in
    rank order, at ``(cx, cy)`` of the same slots; slot R is a sentinel
    at +inf with a rank above every ring's."""

    order: np.ndarray  # rank -> ring id
    xe: np.ndarray
    ye: np.ndarray
    ptr: np.ndarray
    rank: np.ndarray
    cx: np.ndarray
    cy: np.ndarray

    @property
    def nx(self) -> int:
        return len(self.xe) - 1

    @property
    def ny(self) -> int:
        return len(self.ye) - 1


def _edges(v: np.ndarray, n: int) -> np.ndarray:
    """-inf, up to n - 1 distinct quantile breaks of v, +inf."""
    s = np.sort(v)
    br = np.unique(s[(np.arange(1, n) * len(s)) // n])
    return np.concatenate([[-np.inf], br, [np.inf]])


def _grid(idx: IntervalIndex) -> _Grid:
    order = np.lexsort((idx.ring_ridx, idx.ring_pid))
    cents = idx.centroids[order]
    n = max(1, int(np.sqrt(len(order) / _PER_CELL)))
    xe, ye = _edges(cents[:, 0], n), _edges(cents[:, 1], n)
    ix = np.searchsorted(xe, cents[:, 0], side="right") - 1
    iy = np.searchsorted(ye, cents[:, 1], side="right") - 1
    cell = iy * (len(xe) - 1) + ix
    rank = np.argsort(cell, kind="stable")  # by cell, rank order within one
    ptr = np.zeros((len(xe) - 1) * (len(ye) - 1) + 1, dtype=np.int64)
    np.cumsum(np.bincount(cell, minlength=len(ptr) - 1), out=ptr[1:])
    inf = [np.inf]
    return _Grid(
        order, xe, ye, ptr, np.append(rank, len(order)),
        np.concatenate([cents[rank, 0], inf]), np.concatenate([cents[rank, 1], inf]),
    )


def _best(key: np.ndarray, rk: np.ndarray, kk: int) -> np.ndarray:
    """Columns of the kk best entries of each row of ``key`` by (key,
    rk), best first.  Rows hold at least kk entries; pad with +inf at a
    rank above every real one.  No NaN in ``key``."""
    o = np.argsort(key, axis=1)[:, : kk + 1]
    top = np.take_along_axis(key, o, axis=1)
    # argsort is not stable: trust its order only where the first kk + 1
    # keys are all distinct, and sort the rest by (key, rank) in full
    tied = np.flatnonzero((top[:, 1:] == top[:, :-1]).any(axis=1))
    o = o[:, :kk]
    if len(tied):
        o[tied] = np.lexsort((rk[tied], key[tied]))[:, :kk]
    return o


def nearest_rings(idx: IntervalIndex, lon: np.ndarray, lat: np.ndarray, k: int):
    """The min(k, R) nearest rings of every point: ``(ring, dist)``, both
    of shape (n, min(k, R)), nearest first, ties by (polygon_id,
    ring_index).  ``dist`` is ``sqrt(dx*dx + dy*dy)`` on the float64
    coordinates, the same doubles as ``knn_join_window`` compares."""
    g: _Grid = idx._view("knn_grid", lambda: _grid(idx))
    R = len(g.order)
    kk = min(_check_k(k), R)
    n = len(lon)
    sel_r = np.zeros((n, kk), dtype=np.int64)
    sel_d = np.zeros((n, kk))
    if n == 0 or kk == 0:
        return g.order[sel_r], sel_d
    # a non-finite coordinate is as far from every ring as from the
    # block's edge, so its row goes straight to the whole grid
    fin = np.isfinite(lon) & np.isfinite(lat)
    ix = np.searchsorted(g.xe, lon, side="right") - 1
    iy = np.searchsorted(g.ye, lat, side="right") - 1
    rows = np.flatnonzero(fin)
    w = 1
    while len(rows) and w < max(g.nx, g.ny) - 1:
        rows = _block_stage(g, lon, lat, ix, iy, rows, w, kk, sel_r, sel_d)
        w = 2 * w + 1
    # the whole grid: every ring is a candidate, so the answer is final
    rows = np.union1d(rows, np.flatnonzero(~fin))
    step = max(1, _MAX_ENTRIES // R)
    for a in range(0, len(rows), step):
        ch = rows[a : a + step]
        dx = lon[ch, None] - g.cx[None, :R]
        dy = lat[ch, None] - g.cy[None, :R]
        d = np.sqrt(dx * dx + dy * dy)
        # NaN (a NaN coordinate) ties with everything: rank order
        o = _best(np.where(np.isnan(d), np.inf, d), np.broadcast_to(g.rank[:R], d.shape), kk)
        sel_r[ch], sel_d[ch] = g.rank[o], np.take_along_axis(d, o, axis=1)
    return g.order[sel_r], sel_d


def _block_stage(g: _Grid, lon, lat, ix, iy, rows, w, kk, sel_r, sel_d):
    """Search ``rows`` (finite points) among the centroids of their
    (2w+1)² cell blocks; fill in the certified rows, return the rest."""
    x0, x1 = np.maximum(ix[rows] - w, 0), np.minimum(ix[rows] + w, g.nx - 1)
    y0, y1 = np.maximum(iy[rows] - w, 0), np.minimum(iy[rows] + w, g.ny - 1)
    # one CSR range per block row: cells y*nx + x0 .. y*nx + x1 are adjacent
    yy = y0[:, None] + np.arange(2 * w + 1)
    live = yy <= y1[:, None]
    yy = np.minimum(yy, g.ny - 1)
    start = g.ptr[yy * g.nx + x0[:, None]]
    cnt = np.where(live, g.ptr[yy * g.nx + x1[:, None] + 1] - start, 0)
    first = np.cumsum(cnt, axis=1) - cnt  # where each range starts in its row
    per_row = first[:, -1] + cnt[:, -1]
    lx, ly = lon[rows], lat[rows]
    edge = np.minimum(
        np.minimum(lx - g.xe[x0], g.xe[x1 + 1] - lx),
        np.minimum(ly - g.ye[y0], g.ye[y1 + 1] - ly),
    )
    bound = edge * (1.0 - _SLACK) - _FLOOR
    retry = []
    # rows by block size, chunked so a padded chunk stays under the cap
    by_size = np.argsort(per_row, kind="stable")
    a = 0
    while a < len(by_size):
        span = np.arange(1, len(by_size) - a + 1) * np.maximum(per_row[by_size[a:]], kk)
        b = a + max(1, int(np.searchsorted(span, _MAX_ENTRIES, side="right")))
        ch = by_size[a:b]
        a = b
        # padded (row, j) gather: entry j of a row lies in the last range
        # starting at or before j; past the row's end, the sentinel slot
        j = np.arange(max(int(per_row[ch[-1]]), kk))
        r = np.zeros((len(ch), len(j)), dtype=np.intp)
        for c in range(1, 2 * w + 1):
            r += j >= first[ch, c : c + 1]
        slot = np.take_along_axis(start[ch] - first[ch], r, axis=1) + j
        slot = np.where(j < per_row[ch, None], slot, len(g.rank) - 1)
        dx = lx[ch, None] - g.cx[slot]
        dy = ly[ch, None] - g.cy[slot]
        d = np.sqrt(dx * dx + dy * dy)
        rk = g.rank[slot]
        o = _best(d, rk, kk)
        v = np.take_along_axis(d, o, axis=1)
        ok = v[:, kk - 1] < bound[ch]
        done = rows[ch[ok]]
        sel_r[done], sel_d[done] = np.take_along_axis(rk, o, axis=1)[ok], v[ok]
        retry.append(rows[ch[~ok]])
    return np.sort(np.concatenate(retry))


def knn_join(
    points: DataFrame,
    index_bc,
    k: int = 3,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """points → (id, polygon_id, ring_index, dist, rank 1..k)."""
    k = _check_k(k)
    schema = f"{id_col} string, polygon_id string, ring_index int, dist double, rank int"

    def run(batches):
        idx = index_bc.value
        if len(idx.centroids) == 0:
            return
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            lon = batch.column(lon_col).to_numpy(zero_copy_only=False).astype(np.float64)
            lat = batch.column(lat_col).to_numpy(zero_copy_only=False).astype(np.float64)
            ring, dist = nearest_rings(idx, lon, lat, k)
            kk = ring.shape[1]
            # ids and ring keys are Arrow takes: no column passes
            # through Python objects
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(id_col).take(np.repeat(np.arange(n), kk)).cast(pa.string()),
                    *idx.ring_columns(ring.ravel()),
                    pa.array(dist.ravel()),
                    pa.array(np.tile(np.arange(1, kk + 1, dtype=np.int32), n), pa.int32()),
                ],
                names=[id_col, "polygon_id", "ring_index", "dist", "rank"],
            )

    return points.select(id_col, lon_col, lat_col).mapInArrow(run, schema)


def knn_join_window(
    points: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "image_id",
) -> DataFrame:
    """Relational formulation: broadcast-join points × ring centroids,
    rank with a window.  ``centroids``: (polygon_id, ring_index, cx, cy).
    Same output contract as ``knn_join`` — used as its oracle."""
    k = _check_k(k)
    j = points.crossJoin(F.broadcast(centroids))
    dx = F.col("lon") - F.col("cx")
    dy = F.col("lat") - F.col("cy")
    # explicit x*x, never pow(): Math.pow(x, 2.0) is only 1-ulp-accurate,
    # while multiplication is exact — keeps all three formulations
    # (Arrow kernel, this window form, the DuckDB oracle) on identical
    # doubles so tie-breaks can never diverge at the k boundary
    d = j.withColumn("dist", F.sqrt(dx * dx + dy * dy))
    w = Window.partitionBy(id_col).orderBy("dist", "polygon_id", "ring_index")
    return (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "polygon_id", "ring_index", "dist", F.col("rank").cast("int"))
    )
