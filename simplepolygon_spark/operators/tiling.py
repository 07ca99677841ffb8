"""Cell-cover tiling: compressed cell→ring interval index + PIP join.

The scale architecture (SURVEY.md §2.3 J5, §3.4; Raster-Intervals idea
from PAPERS.md):

1. ``build_interval_index`` — the *dimension* side.  Decomposed simple
   rings (rings_out) are collected to the driver by one JVM-only
   ``toArrow`` (no Python worker), covered there with FULL/PARTIAL
   quadkey cells by one ``cells.cover_rings`` call over the whole ring
   table, compressed into sorted Morton [lo, hi] ranges, flattened into
   an elementary-segment stabbing structure (CSR), and **broadcast** to
   every executor.  Size: O(cells of all rings) — the polygon layer is
   small next to the 10^12-row image table by design; its driver cover
   time is bounded in the ``build_interval_index`` docstring.

2. ``pip_join`` — the *fact* side.  Images stream through ``mapInArrow``
   with **no shuffle**: each Arrow batch computes its points' cells
   (numpy bit-math, identical to the JVM/SQL cell expression), stabs
   the broadcast index (two searchsorted + CSR gather, fully
   vectorized), accepts FULL-cell hits outright, and refines only
   PARTIAL-cell candidates with the exact ray-cast PIP kernel.  Its
   columns cross the Arrow↔numpy boundary on buffers
   (``geom.arrow_to_numpy`` / ``geom.numpy_to_arrow``), as in every
   executor batch function of the engine: pyarrow's own conversions
   would import pandas into each Python worker.

At 1000 executors this plan reads the image table once, moves no image
bytes across the network, and does O(log m) work per image — the only
driver-side step is building/broadcasting the index from the (small)
ring layer.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from ..cells import MAX_LEVEL, cell_of_point
from ..geom import arrow_to_numpy, numpy_to_arrow, points_in_rings, ragged, ring_mats, ring_table


@dataclass
class IntervalIndex:
    """Broadcastable compressed cell→ring interval index.

    Ring r is (``ring_pid[r]``, ``ring_ridx[r]``) with vertices
    ``ring_pts[ring_off[r]:ring_off[r + 1]]`` — a ``geom`` ring table, so
    the broadcast pickles one vertex buffer."""

    ring_pid: np.ndarray  # ring id -> polygon_id (object)
    ring_ridx: np.ndarray  # ring id -> ring_index (int32)
    ring_pts: np.ndarray  # ring table: closed-ring vertices, float64 (Σn, 2)
    ring_off: np.ndarray  # ring table: ring r is ring_pts[ring_off[r]:ring_off[r + 1]]
    bp: np.ndarray  # elementary-segment breakpoints (sorted int64)
    seg_ptr: np.ndarray  # CSR pointers into seg_ids per elementary segment
    seg_ids: np.ndarray  # interval ids active in each elementary segment
    iv_ring: np.ndarray  # interval id -> ring id
    iv_full: np.ndarray  # interval id -> FULL flag (bool)
    max_level: int = MAX_LEVEL
    stats: dict = field(default_factory=dict)
    centroids: np.ndarray = field(default_factory=lambda: np.zeros((0, 2)))
    _views: dict = field(default_factory=dict, init=False, repr=False, compare=False)

    def __getstate__(self):
        return dict(self.__dict__, _views={})  # views are rebuilt where used, never shipped

    def _view(self, name: str, make):
        if name not in self._views:
            self._views[name] = make()
        return self._views[name]

    @property
    def rings(self) -> list:
        """Per-ring float64 [N, 2] views of the ring table."""
        return self._view("rings", lambda: _ring_views(self.ring_pts, self.ring_off))

    @property
    def ring_keys(self) -> list:
        """(polygon_id, ring_index) per ring."""
        return self._view("keys", lambda: list(zip(self.ring_pid.tolist(), self.ring_ridx.tolist())))

    def ring_columns(self, ring_id: np.ndarray, n_null: int = 0):
        """(polygon_id, ring_index) Arrow columns of rings ``ring_id``,
        then ``n_null`` NULL rows: two takes from Arrow copies of
        ``ring_pid`` and ``ring_ridx`` that each worker builds once (a
        view, never pickled), so no output row is a Python object.  The
        copies and the take indices are built on buffers
        (``geom.numpy_to_arrow``), so the worker never imports pandas."""
        pid = self._view("pid_arrow", lambda: numpy_to_arrow(self.ring_pid, pa.string()))
        ridx = self._view("ridx_arrow", lambda: numpy_to_arrow(self.ring_ridx, pa.int32()))
        take = numpy_to_arrow(np.asarray(ring_id, np.int64))
        if n_null:
            take = pa.concat_arrays([take, pa.nulls(n_null, pa.int64())])
        return pid.take(take), ridx.take(take)

    def lookup(self, lon: np.ndarray, lat: np.ndarray):
        """Vectorized stabbing: points → candidate (point_idx, ring_id,
        full) triples. A point may hit several rings."""
        if len(self.bp) == 0:
            z = np.zeros(0, dtype=np.int64)
            return z, z, np.zeros(0, dtype=bool)
        cells = cell_of_point(lon, lat, self.max_level).astype(np.int64)
        pos = np.searchsorted(self.bp, cells, side="right") - 1
        valid = pos >= 0
        pos = np.where(valid, pos, 0)
        start = self.seg_ptr[pos]
        stop = self.seg_ptr[pos + 1]
        cnt = np.where(valid, stop - start, 0)
        pt_idx, slot = ragged(start, cnt)  # gather the CSR slices
        iv = self.seg_ids[slot]
        return pt_idx, self.iv_ring[iv], self.iv_full[iv]

    def overlap_batch(self, qlo: np.ndarray, qhi: np.ndarray):
        """Fully vectorized interval-overlap for many query ranges at
        once: one CSR gather over all queries (np.repeat offsets), then
        a single np.unique dedup of (query, ring) pairs — no Python loop
        over queries."""
        if len(self.bp) == 0 or len(qlo) == 0:
            z = np.zeros(0, dtype=np.int64)
            return z, z
        qlo = np.asarray(qlo, np.int64)
        qhi = np.asarray(qhi, np.int64)
        k0 = np.maximum(np.searchsorted(self.bp, qlo, side="right") - 1, 0)
        k1 = np.searchsorted(self.bp, qhi, side="right") - 1
        valid = k1 >= 0
        a = self.seg_ptr[np.where(valid, k0, 0)]
        b = self.seg_ptr[np.where(valid, k1, -1) + 1]
        cnt = np.where(valid, np.maximum(b - a, 0), 0)
        q_rep, slot = ragged(a, cnt)
        rid = self.iv_ring[self.seg_ids[slot]]
        # dedup (query, ring) — intervals spanning several segments and
        # several intervals of one ring both collapse here
        n_rings = len(self.ring_pid)
        key = q_rep * np.int64(n_rings) + rid
        uniq = np.unique(key)
        return uniq // n_rings, uniq % n_rings

    def refine(self, lon, lat, pt_idx, ring_id, full):
        """Exact-PIP refine of PARTIAL candidates; FULL pass through.
        Returns filtered (pt_idx, ring_id)."""
        keep = np.array(full, dtype=bool, copy=True)
        part = np.flatnonzero(~keep)
        pi = pt_idx[part]
        keep[part] = points_in_rings(lon[pi], lat[pi], ring_id[part], self.ring_pts, self.ring_off)
        return pt_idx[keep], ring_id[keep]

    def assign(self, lon: np.ndarray, lat: np.ndarray):
        """Guarded point→ring assignment: lookup + refine over the valid
        points only. Returns (pt_idx, ring_id) with pt_idx indexing the
        caller's unfiltered arrays, in lookup order.

        Invalid coordinates (NaN/inf or outside the lon/lat world
        window) never match: the cell computation CLIPS onto boundary
        cells, so a lon=190 point would otherwise land in the
        easternmost column and be FULL-cell-accepted with no geometry
        check, while the same point in a PARTIAL cell is rejected — an
        accept/reject inconsistency on bad data."""
        ok = (
            np.isfinite(lon) & np.isfinite(lat)
            & (lon >= -180.0) & (lon <= 180.0)
            & (lat >= -90.0) & (lat <= 90.0)
        )
        if not ok.all():
            rows = np.flatnonzero(ok)
            pt_idx, ring_id = self.assign(lon[rows], lat[rows])
            return rows[pt_idx], ring_id
        pt_idx, ring_id, full = self.lookup(lon, lat)
        return self.refine(lon, lat, pt_idx, ring_id, full)


def build_interval_index(
    rings_out: DataFrame | list,
    cover_level: int = 11,
    max_level: int = MAX_LEVEL,
) -> IntervalIndex:
    """Build the broadcastable index from a rings_out DataFrame (or an
    already-collected list of Rows/dicts with polygon_id, ring_index,
    coords).

    Every ring passed in is indexed, whatever its net winding; a caller
    that wants another layer (say, positive net winding only) filters
    upstream.  perfbench's ``ingest`` indexes all of
    ``decompose_polygons``' output.

    A DataFrame is collected once with a JVM-only ``toArrow`` of its
    (polygon_id, ring_index, coords) — no Python worker, rows in
    partition order — and its coordinate buffers become the ring table
    (``geom.ring_mats``); a list becomes it through ``geom.ring_table``.
    From there both forms run the same driver code: one
    ``crosswalk.table_covers`` call covers every ring, so a degenerate
    ring fails the build on the driver with a plain ValueError naming
    its (polygon_id, ring_index).

    The cover runs on one driver core, not across the layer's
    partitions: on the served grid-16 layer (614 rings) the whole build
    takes about 0.18 ms per ring at cover level 10 and 0.67 ms per ring
    at level 12 — about 2 µs per interval — on a 4-vCPU host.  Nothing
    here bounds the layer's size; routing an oversized layer to the
    partitioned relational path (``pip_join_relational``) is left to a
    size estimate checked before the collect.
    """
    from .crosswalk import table_covers

    if isinstance(rings_out, DataFrame):
        from pyspark.sql import functions as F

        tbl = rings_out.select(
            "polygon_id", F.col("ring_index").cast("int").alias("ring_index"), "coords"
        ).toArrow()
        ring_pid = np.array(tbl.column("polygon_id").to_pylist(), dtype=object)
        ring_ridx = arrow_to_numpy(tbl.column("ring_index"), np.int64).astype(np.int32)
        pts, off = ring_mats(tbl.column("coords").combine_chunks())
    else:
        rows = list(rings_out)
        ring_pid = np.array([row["polygon_id"] for row in rows], dtype=object)
        ring_ridx = np.array([row["ring_index"] for row in rows], dtype=np.int32)
        pts, off = ring_table([row["coords"] for row in rows])
    lo, hi, full, counts = table_covers(pts, off, ring_pid, ring_ridx, cover_level, max_level)
    full = full.astype(bool)
    iv_ring = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    centroids = _centroids(pts, off)

    # elementary segments between all endpoints; sweep with +1/-1 events
    events = np.concatenate([lo, hi + 1])
    bp = np.unique(events)
    # For each elementary segment [bp[k], bp[k+1]-1] find active intervals.
    # CSR built by bucketing each interval onto the segments it spans.
    seg_of_lo = np.searchsorted(bp, lo, side="right") - 1
    seg_of_hi = np.searchsorted(bp, hi, side="right") - 1
    span = seg_of_hi - seg_of_lo + 1
    iv_rep, seg_rep = ragged(seg_of_lo, span)
    order = np.argsort(seg_rep, kind="stable")
    seg_sorted = seg_rep[order]
    ids_sorted = iv_rep[order]
    counts = np.bincount(seg_sorted, minlength=len(bp))
    seg_ptr = np.zeros(len(bp) + 1, dtype=np.int64)
    np.cumsum(counts, out=seg_ptr[1:])

    idx = IntervalIndex(
        ring_pid,
        ring_ridx,
        pts,
        off,
        bp,
        seg_ptr,
        ids_sorted,
        iv_ring,
        full,
        max_level,
        stats={
            "n_rings": len(ring_pid),
            "n_intervals": len(lo),
            "n_full": int(full.sum()),
            "n_segments": len(bp),
            "csr_entries": len(seg_rep),
        },
        centroids=centroids,
    )
    return idx


def _centroids(pts: np.ndarray, off: np.ndarray) -> np.ndarray:
    """Each ring's mean position without its closing one, for every ring
    of a closed ring table at once.  Bit-identical to
    ``r[:-1].mean(axis=0)`` ring by ring: ``np.add.at`` adds in index
    order, the same sequential sum (an ``np.add.reduceat`` form sums in
    another order and differs in the last bits)."""
    n = np.diff(off) - 1
    keep = np.ones(len(pts), dtype=bool)
    keep[off[1:] - 1] = False
    acc = np.zeros((len(n), 2))
    np.add.at(acc, np.repeat(np.arange(len(n)), n), pts[keep])
    return acc / n[:, None]


def _ring_views(pts: np.ndarray, off: np.ndarray) -> list:
    """Ring r of a ring table as the view ``pts[off[r]:off[r + 1]]``."""
    o = off.tolist()
    return [pts[a:b] for a, b in zip(o[:-1], o[1:])]


def broadcast_index(spark: SparkSession, index: IntervalIndex):
    return spark.sparkContext.broadcast(index)


def pip_join(
    points: DataFrame,
    index_bc,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """points(id, lon, lat, ...) ⨝ broadcast ring index → tile assignments.

    Output: (id_col, lon, lat, polygon_id, ring_index) — one row per
    (point, containing simple ring). Strict interior semantics
    (boundary points excluded), matching the reference's
    booleanPointInPolygon(ignoreBoundary=true) parent test.
    """
    def run(batches):
        idx: IntervalIndex = index_bc.value
        for batch in batches:
            # NULL coordinates read as NaN, which assign never matches
            lon = arrow_to_numpy(batch.column(lon_col))
            lat = arrow_to_numpy(batch.column(lat_col))
            pt_idx, ring_id = idx.assign(lon, lat)
            if len(pt_idx) == 0:
                continue
            # ids and ring keys are Arrow takes, the coordinates numpy
            # fancy indexing: no column passes through Python objects,
            # and every conversion runs on buffers (no pandas import).
            # The cast keeps the declared string type should the JVM
            # hand the ids over as large_string.
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(id_col).take(numpy_to_arrow(pt_idx)).cast(pa.string()),
                    numpy_to_arrow(lon[pt_idx]),
                    numpy_to_arrow(lat[pt_idx]),
                    *idx.ring_columns(ring_id),
                ],
                names=[id_col, "lon", "lat", "polygon_id", "ring_index"],
            )

    return points.select(id_col, lon_col, lat_col).mapInArrow(run, _pip_schema(id_col))


def _pip_schema(id_col: str) -> str:
    """Output of both PIP joins.  Its columns are ALWAYS named lon/lat:
    the two paths are drop-in replacements for each other, so custom
    lon_col/lat_col input names must not leak into the output."""
    return f"{id_col} string, lon double, lat double, polygon_id string, ring_index int"


# ---------------------------------------------------------------------------
# Relational fallback: PIP join without a broadcast index
# ---------------------------------------------------------------------------


def pip_join_relational(
    points: DataFrame,
    rings_out: DataFrame,
    cover_level: int = 10,
    bucket_level: int = 6,
    max_level: int = MAX_LEVEL,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """PIP join for ring layers too large to broadcast as an
    IntervalIndex — the same cell-bucket equi-join shape as
    ``crosswalk_relational``:

      points: cell at max level (JVM Morton expr) → coarse bucket (its
          unique Morton prefix);
      covers: distributed FULL/PARTIAL intervals (covers_df, never
          collected) exploded to the bucket range they span;
      join:   equi on bucket + ``lo <= cell <= hi`` residual.  A ring's
          merged intervals are disjoint, so a point matches ≤ 1
          interval per ring — no dedup needed, no cartesian.
      FULL intervals accept outright (Raster-Intervals shortcut);
      PARTIAL candidates join the ring geometry by (polygon_id,
          ring_index) — only candidate rows ever carry coordinates —
          and refine in a ``mapInArrow``: each batch's candidate rings
          become one ring table and one ``points_in_rings`` call tests
          every (point, ring) row.

    Output contract identical to ``pip_join``."""
    from pyspark.sql import functions as F

    from ..functions.cells_sql import cell_sql_expr
    from .crosswalk import bucketed_cover_spans, covers_df

    shift_b = 2 * (max_level - bucket_level)
    # same invalid-coordinate rejection as pip_join's kernel: the cell
    # expression clips, so out-of-window/NaN points would otherwise be
    # FULL-cell-accepted on boundary cells (pushed-down filter — prunes
    # before the cell math)
    valid = (
        ~F.isnan(F.col(lon_col)) & ~F.isnan(F.col(lat_col))
        & (F.col(lon_col) >= -180.0) & (F.col(lon_col) <= 180.0)
        & (F.col(lat_col) >= -90.0) & (F.col(lat_col) <= 90.0)
    )
    pts = points.where(valid).select(
        id_col,
        lon_col,
        lat_col,
        F.expr(cell_sql_expr(lon_col, lat_col, max_level)).alias("cell"),
    ).withColumn("bucket", F.shiftright(F.col("cell"), shift_b))
    cov = bucketed_cover_spans(
        covers_df(rings_out, cover_level, max_level), bucket_level, max_level
    ).select("bucket", "lo", "hi", "full", "polygon_id", "ring_index")
    cand = pts.join(
        cov,
        (pts.bucket == cov.bucket)
        & (pts.cell >= cov.lo)
        & (pts.cell <= cov.hi),
    ).select(id_col, lon_col, lat_col, "full", "polygon_id", "ring_index")

    # attach ring geometry to PARTIAL candidates only, in the SAME plan
    # branch (a split into accepted/partial DataFrames would compute the
    # candidate subtree twice — Spark only reuses exchanges it can see
    # are identical, and the two filters break that)
    rg = rings_out.select(
        F.col("polygon_id").alias("r_pid"),
        F.col("ring_index").alias("r_ridx"),
        "coords",
    )
    withco = cand.join(
        rg,
        (cand.polygon_id == rg.r_pid)
        & (cand.ring_index == rg.r_ridx)
        & (cand.full == 0),
        "left",
    ).select(id_col, lon_col, lat_col, "full", "polygon_id", "ring_index", "coords")

    def refine(batches):
        for batch in batches:
            keep = arrow_to_numpy(batch.column("full"), np.int64) == 1
            part = np.flatnonzero(~keep)
            if len(part):
                # each PARTIAL row carries its own ring: row k tests ring k
                rows = batch.take(numpy_to_arrow(part))
                pts, off = ring_mats(rows.column("coords"))
                lon = arrow_to_numpy(rows.column(lon_col))
                lat = arrow_to_numpy(rows.column(lat_col))
                keep[part] = points_in_rings(lon, lat, np.arange(len(part)), pts, off)
            if keep.any():
                out = batch.filter(numpy_to_arrow(keep))
                lonlat = [out.column(c).cast(pa.float64()) for c in (lon_col, lat_col)]
                cols = [out.column(id_col), *lonlat, out.column("polygon_id"), out.column("ring_index")]
                yield pa.RecordBatch.from_arrays(cols, names=[id_col, "lon", "lat", "polygon_id", "ring_index"])

    return withco.mapInArrow(refine, _pip_schema(id_col))
