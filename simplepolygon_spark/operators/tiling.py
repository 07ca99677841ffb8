"""Cell-cover tiling: compressed cell→ring interval index + PIP join.

The scale architecture (SURVEY.md §2.3 J5, §3.4; Raster-Intervals idea
from PAPERS.md):

1. ``build_interval_index`` — the *dimension* side.  Decomposed simple
   rings (rings_out) are covered with FULL/PARTIAL quadkey cells
   (cells.cover_ring), compressed into sorted Morton [lo, hi] ranges,
   flattened into an elementary-segment stabbing structure (CSR), and
   **broadcast** to every executor.  Size: O(cells of all rings) — the
   polygon layer is small next to the 10^12-row image table by design.

2. ``pip_join`` — the *fact* side.  Images stream through ``mapInArrow``
   with **no shuffle**: each Arrow batch computes its points' cells
   (numpy bit-math, identical to the JVM/SQL cell expression), stabs
   the broadcast index (two searchsorted + CSR gather, fully
   vectorized), accepts FULL-cell hits outright, and refines only
   PARTIAL-cell candidates with the exact ray-cast PIP kernel.

At 1000 executors this plan reads the image table once, moves no image
bytes across the network, and does O(log m) work per image — the only
driver-side step is building/broadcasting the index from the (small)
ring layer.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession

from ..cells import MAX_LEVEL, cell_of_point
from ..geom import point_in_ring_batch


@dataclass
class IntervalIndex:
    """Broadcastable compressed cell→ring interval index."""

    ring_keys: list  # (polygon_id, ring_index)
    rings: list  # list of float64 [N,2] coordinate arrays
    bp: np.ndarray  # elementary-segment breakpoints (sorted int64)
    seg_ptr: np.ndarray  # CSR pointers into seg_ids per elementary segment
    seg_ids: np.ndarray  # interval ids active in each elementary segment
    iv_ring: np.ndarray  # interval id -> ring id
    iv_full: np.ndarray  # interval id -> FULL flag (bool)
    max_level: int = MAX_LEVEL
    stats: dict = field(default_factory=dict)
    centroids: np.ndarray = field(default_factory=lambda: np.zeros((0, 2)))

    def __post_init__(self):
        # vectorized ring-key lookups for the hot join path
        self.ring_pid = np.array([k[0] for k in self.ring_keys], dtype=object)
        self.ring_ridx = np.array([k[1] for k in self.ring_keys], dtype=np.int32)

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
        pt_idx = np.repeat(np.arange(len(cells), dtype=np.int64), cnt)
        # gather the CSR slices: offsets within each slice
        total = int(cnt.sum())
        if total == 0:
            z = np.zeros(0, dtype=np.int64)
            return z, z, np.zeros(0, dtype=bool)
        offs = np.arange(total, dtype=np.int64) - np.repeat(
            np.cumsum(cnt) - cnt, cnt
        )
        iv = self.seg_ids[np.repeat(start, cnt) + offs]
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
        total = int(cnt.sum())
        if total == 0:
            z = np.zeros(0, dtype=np.int64)
            return z, z
        q_rep = np.repeat(np.arange(len(qlo), dtype=np.int64), cnt)
        offs = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        iv = self.seg_ids[np.repeat(a, cnt) + offs]
        rid = self.iv_ring[iv]
        # dedup (query, ring) — intervals spanning several segments and
        # several intervals of one ring both collapse here
        key = q_rep * np.int64(len(self.rings)) + rid
        uniq = np.unique(key)
        return uniq // len(self.rings), uniq % len(self.rings)

    def refine(self, lon, lat, pt_idx, ring_id, full):
        """Exact-PIP refine of PARTIAL candidates; FULL pass through.
        Returns filtered (pt_idx, ring_id)."""
        keep = np.array(full, dtype=bool, copy=True)
        part = ~keep
        if part.any():
            pi, ri = pt_idx[part], ring_id[part]
            ok = np.zeros(len(pi), dtype=bool)
            for r in np.unique(ri):
                m = ri == r
                ok[m] = point_in_ring_batch(lon[pi[m]], lat[pi[m]], self.rings[r])
            keep[part] = ok
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

    Only rings with positive *net* winding participate by default
    semantics of "the cleaned polygon interior": callers filter upstream
    if they want a different layer (we index whatever is passed in).
    """
    from .crosswalk import cover_keyed, ring_mats

    if isinstance(rings_out, DataFrame):
        # TWO actions read the ring layer (the distributed cover pass
        # and the coordinate collect) — persist for their duration so an
        # expensive upstream (e.g. a full decompose_polygons) is not
        # executed twice for callers who did not think to cache
        sl = rings_out.storageLevel
        caller_cached = sl.useMemory or sl.useDisk
        if not caller_cached:
            rings_out = rings_out.persist()
        try:
            # compute covers on the executors (one Arrow pass over the
            # ring layer) — the driver only collects compressed intervals
            cov = _covers_distributed(rings_out, cover_level, max_level)
            tbl = rings_out.select("polygon_id", "ring_index", "coords").toArrow()
        finally:
            if not caller_cached:
                rings_out.unpersist()
        pts, off = ring_mats(tbl.column("coords").combine_chunks())
        rings = [pts[off[i] : off[i + 1]] for i in range(tbl.num_rows)]
        ring_pid = tbl.column("polygon_id").combine_chunks()
        ring_ridx = tbl.column("ring_index").to_numpy()
        ring_keys = list(zip(ring_pid.to_pylist(), ring_ridx.tolist()))
        iv_ring = _ring_ids(
            ring_pid, ring_ridx, cov.column("polygon_id").combine_chunks(), cov.column("ring_index").to_numpy()
        )
        lo, hi = cov.column("lo").to_numpy(), cov.column("hi").to_numpy()
        full = cov.column("full").to_numpy().astype(bool)
    else:
        ring_keys, rings, covs = [], [], []
        for row in rings_out:
            pid, ridx = row["polygon_id"], int(row["ring_index"])
            coords = np.asarray([list(c) for c in row["coords"]], dtype=np.float64)
            covs.append(cover_keyed(coords, pid, ridx, cover_level, max_level))
            ring_keys.append((pid, ridx))
            rings.append(coords)
        cov = np.concatenate(covs) if covs else np.zeros((0, 3), np.int64)
        lo, hi, full = cov[:, 0], cov[:, 1], cov[:, 2].astype(bool)
        iv_ring = np.repeat(np.arange(len(covs), dtype=np.int64), [len(c) for c in covs])

    centroids = (
        np.array([r[:-1].mean(axis=0) for r in rings])
        if rings
        else np.zeros((0, 2))
    )
    n_iv = len(lo)
    if n_iv == 0:
        return IntervalIndex(
            ring_keys,
            rings,
            np.zeros(0, np.int64),
            np.zeros(1, np.int64),
            np.zeros(0, np.int64),
            np.zeros(0, np.int64),
            np.zeros(0, bool),
            max_level,
            centroids=centroids,
        )

    # elementary segments between all endpoints; sweep with +1/-1 events
    events = np.concatenate([lo, hi + 1])
    bp = np.unique(events)
    # For each elementary segment [bp[k], bp[k+1]-1] find active intervals.
    # CSR built by bucketing each interval onto the segments it spans.
    seg_of_lo = np.searchsorted(bp, lo, side="right") - 1
    seg_of_hi = np.searchsorted(bp, hi, side="right") - 1
    span = seg_of_hi - seg_of_lo + 1
    tot = int(span.sum())
    iv_rep = np.repeat(np.arange(n_iv, dtype=np.int64), span)
    seg_rep = np.arange(tot, dtype=np.int64) - np.repeat(np.cumsum(span) - span, span) + np.repeat(seg_of_lo, span)
    order = np.argsort(seg_rep, kind="stable")
    seg_sorted = seg_rep[order]
    ids_sorted = iv_rep[order]
    counts = np.bincount(seg_sorted, minlength=len(bp))
    seg_ptr = np.zeros(len(bp) + 1, dtype=np.int64)
    np.cumsum(counts, out=seg_ptr[1:])

    idx = IntervalIndex(
        ring_keys,
        rings,
        bp,
        seg_ptr,
        ids_sorted,
        iv_ring,
        full,
        max_level,
        stats={
            "n_rings": len(rings),
            "n_intervals": n_iv,
            "n_full": int(full.sum()),
            "n_segments": len(bp),
            "csr_entries": tot,
        },
        centroids=centroids,
    )
    return idx


def _covers_distributed(rings_out: DataFrame, cover_level: int, max_level: int) -> pa.Table:
    """Run cover_ring on the executors and collect the intervals with
    ``toArrow``: a (polygon_id, ring_index, lo, hi, full) Arrow table,
    with no Row objects.  Delegates to the single cover kernel
    (crosswalk.covers_df, a ``mapInArrow`` pass) so the broadcast-index
    build and the relational fallbacks can never drift apart.  The
    repartition spreads a layer read from few files over every core."""
    from .crosswalk import covers_df

    df = rings_out.repartition(
        max(rings_out.sparkSession.sparkContext.defaultParallelism, 8)
    )
    return covers_df(df, cover_level, max_level).toArrow()


def _ring_ids(ring_pid: pa.Array, ring_ridx: np.ndarray, pid: pa.Array, ridx: np.ndarray) -> np.ndarray:
    """Row of each (pid, ridx) key among the ring keys (the last row if
    a key repeats), by one sort and a searchsorted."""
    code = pc.dictionary_encode(pa.concat_arrays([ring_pid, pid]), null_encoding="encode")
    code = code.indices.to_numpy().astype(np.int64)
    key = (code << 32) | (np.concatenate([ring_ridx, ridx]).astype(np.int64) & 0xFFFFFFFF)
    ring_key, cover_key = key[: len(ring_ridx)], key[len(ring_ridx) :]
    order = np.argsort(ring_key, kind="stable")
    rid = order[np.maximum(np.searchsorted(ring_key[order], cover_key, side="right") - 1, 0)]
    if len(rid) and not np.array_equal(ring_key[rid], cover_key):
        raise KeyError("cover rows name rings that the ring layer does not hold")
    return rid


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
    out_schema = pa.schema(
        [
            pa.field(id_col, pa.string()),
            pa.field("lon", pa.float64()),
            pa.field("lat", pa.float64()),
            pa.field("polygon_id", pa.string()),
            pa.field("ring_index", pa.int32()),
        ]
    )

    def run(batches):
        idx: IntervalIndex = index_bc.value
        for batch in batches:
            tbl = batch
            ids = tbl.column(id_col).to_numpy(zero_copy_only=False)
            lon = tbl.column(lon_col).to_numpy(zero_copy_only=False).astype(np.float64)
            lat = tbl.column(lat_col).to_numpy(zero_copy_only=False).astype(np.float64)
            pt_idx, ring_id = idx.assign(lon, lat)
            if len(pt_idx) == 0:
                continue
            pids = idx.ring_pid[ring_id]
            ridxs = idx.ring_ridx[ring_id]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[pt_idx], pa.string()),
                    pa.array(lon[pt_idx]),
                    pa.array(lat[pt_idx]),
                    pa.array(pids, pa.string()),
                    pa.array(ridxs, pa.int32()),
                ],
                schema=out_schema,
            )  # all columns assembled by fancy indexing — no per-row Python

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    spark_schema = StructType(
        [
            StructField(id_col, StringType()),
            StructField("lon", DoubleType()),
            StructField("lat", DoubleType()),
            StructField("polygon_id", StringType()),
            StructField("ring_index", IntegerType()),
        ]
    )
    return points.select(id_col, lon_col, lat_col).mapInArrow(run, spark_schema)


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
          and refine with the vectorized strict ray-cast, grouped per
          ring inside each Arrow batch.

    Output contract identical to ``pip_join``."""
    import pandas as pd

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

    # output columns are ALWAYS named lon/lat, matching pip_join's
    # hardcoded output schema — the two paths are drop-in replacements
    # for each other, so custom lon_col/lat_col input names must not
    # leak into the output contract
    out_schema = (
        f"{id_col} string, lon double, lat double, "
        "polygon_id string, ring_index int"
    )

    def refine(batches):
        cols = [id_col, lon_col, lat_col, "polygon_id", "ring_index"]
        renames = {lon_col: "lon", lat_col: "lat"}
        for pdf in batches:
            keep_parts = []
            fullm = pdf["full"] == 1
            if fullm.any():
                keep_parts.append(pdf.loc[fullm, cols])
            part = pdf.loc[~fullm]
            for (_pid, _ridx), grp in part.groupby(
                ["polygon_id", "ring_index"], sort=False
            ):
                ring = np.asarray(
                    [list(c) for c in grp["coords"].iloc[0]], dtype=np.float64
                )
                inside = point_in_ring_batch(
                    grp[lon_col].to_numpy(np.float64),
                    grp[lat_col].to_numpy(np.float64),
                    ring,
                )
                if inside.any():
                    keep_parts.append(grp.loc[inside, cols])
            if keep_parts:
                out = pd.concat(keep_parts, ignore_index=True)
                out = out.rename(columns=renames)
                out["ring_index"] = out["ring_index"].astype("int32")
                yield out

    return withco.mapInPandas(refine, out_schema)
