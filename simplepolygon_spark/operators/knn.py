"""kNN join: k nearest simple rings per query point (SURVEY.md §2.3 J6).

Distance metric: Euclidean lon/lat distance to the ring *centroid*
(mean of the ring's vertices, closing vertex excluded) — documented
engine semantics; ties break on ring id for determinism.

Scale plan: the ring layer is the broadcastable dim side, so the right
physical strategy is **broadcast + per-batch vectorized top-k** — each
Arrow batch computes a B×R distance matrix in numpy and selects k via
argpartition + a candidate-slice sort (exact full-sort fallback only
for rows whose boundary distance ties beyond the partition), emitting
B·k rows with *no shuffle and no window sort*.  The
window-function formulation (candidate join → row_number() ≤ k) exists
as ``knn_join_window`` for oracle parity and for the case where the
ring side outgrows a broadcast.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def knn_join(
    points: DataFrame,
    index_bc,
    k: int = 3,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """points → (id, polygon_id, ring_index, dist, rank 1..k)."""
    schema = f"{id_col} string, polygon_id string, ring_index int, dist double, rank int"

    def run(batches):
        idx = index_bc.value
        cents = idx.centroids
        R = len(cents)
        kk = min(k, R)
        if R == 0:
            return
        # deterministic tie order identical to knn_join_window's
        # ORDER BY dist, polygon_id, ring_index: pre-sort the ring axis
        # by (polygon_id, ring_index), then a STABLE argsort on distance
        # yields exactly that ordering — equal distances at the k
        # boundary can never be dropped arbitrarily
        rank_order = np.lexsort((idx.ring_ridx, idx.ring_pid))
        cents_r = cents[rank_order]
        for batch in batches:
            ids = batch.column(id_col).to_numpy(zero_copy_only=False)
            lon = batch.column(lon_col).to_numpy(zero_copy_only=False).astype(np.float64)
            lat = batch.column(lat_col).to_numpy(zero_copy_only=False).astype(np.float64)
            if len(ids) == 0:
                continue
            dx = lon[:, None] - cents_r[None, :, 0]
            dy = lat[:, None] - cents_r[None, :, 1]
            # order by the EMITTED metric sqrt(dx*dx + dy*dy), not the
            # squared distance: sqrt collapses some adjacent doubles, so
            # two d2 values at the k boundary can share one dist — the
            # window/SQL oracle then tie-breaks on ring id while a
            # d2-ordered kernel would keep the d2 order.  Same explicit
            # x*x (never pow) everywhere, so all three forms (kernel,
            # window, DuckDB) compare identical doubles.
            d = np.sqrt(dx * dx + dy * dy)
            if R <= 256:
                order = np.argsort(d, axis=1, kind="stable")[:, :kk]
            else:
                # hot path: O(B·R) argpartition + O(B·k log k) candidate
                # sort; rows whose k-boundary distance ties candidates
                # OUTSIDE the partition (rare) fall back to the exact
                # full sort so ties never resolve arbitrarily
                part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
                part_sorted = np.sort(part, axis=1)  # ascending rank order
                cd = np.take_along_axis(d, part_sorted, axis=1)
                ord2 = np.argsort(cd, axis=1, kind="stable")
                order = np.take_along_axis(part_sorted, ord2, axis=1)
                thresh = cd.max(axis=1)
                spill = (d <= thresh[:, None]).sum(axis=1) > kk
                if spill.any():
                    order[spill] = np.argsort(
                        d[spill], axis=1, kind="stable"
                    )[:, :kk]
            sel = rank_order[order]
            seld = np.take_along_axis(d, order, axis=1)
            out_id = np.repeat(ids, kk)
            out_ring = sel.ravel()
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_id, pa.string()),
                    # vectorized id lookup via the index's ring_pid /
                    # ring_ridx arrays — no per-row Python in the hot path
                    pa.array(idx.ring_pid[out_ring], pa.string()),
                    pa.array(idx.ring_ridx[out_ring].astype(np.int32), pa.int32()),
                    pa.array(seld.ravel()),
                    pa.array(np.tile(np.arange(1, kk + 1, dtype=np.int32), len(ids)), pa.int32()),
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
