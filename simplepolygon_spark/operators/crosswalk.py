"""Raster↔vector crosswalk: tile bounds → covering cells → rings
(SURVEY.md §2.3 J7; BASELINE.json:6).

Each image tile (its bbox) is rasterized to the quadkey cells it
overlaps at ``level``; each cell is an interval [lo, hi] at max level,
pushed through the broadcast interval index's batched overlap query.
The whole batch is processed with numpy — tile→cell expansion via
repeat/arange arithmetic, overlap via one CSR gather + unique — no
Python loop over tiles or cells.  Output links every tile to its cells
and the rings whose cover those cells overlap; cells overlapping no
ring emit one NULL-ring row so the raster side stays complete.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from ..cells import RingError, cell_range_at_max, cover_rings, spread_bits
from ..geom import ring_mats


def _bbox_cells(lon0, lat0, lon1, lat1, level: int):
    """All Morton cells at ``level`` overlapping one bbox (test oracle +
    small-scale helper)."""
    n = 1 << level
    ix0 = int(np.clip(np.floor((lon0 + 180.0) / 360.0 * n), 0, n - 1))
    ix1 = int(np.clip(np.floor((lon1 + 180.0) / 360.0 * n), 0, n - 1))
    iy0 = int(np.clip(np.floor((lat0 + 90.0) / 180.0 * n), 0, n - 1))
    iy1 = int(np.clip(np.floor((lat1 + 90.0) / 180.0 * n), 0, n - 1))
    ix = np.arange(ix0, ix1 + 1, dtype=np.int64)
    iy = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx = np.repeat(ix, len(iy))
    gy = np.tile(iy, len(ix))
    return (spread_bits(gx) | (spread_bits(gy) << np.uint64(1))).astype(np.int64)


def _bbox_cells_batch(b0, b1, b2, b3, level: int, ids=None):
    """(tile_idx, cell_id) for every cell of every tile bbox — vectorized
    variable-length expansion with repeat/arange arithmetic.

    Inverted or non-finite bboxes are rejected up front (mirroring
    tile_cells_df's SQL-side guard): a doubly-inverted bbox would pass
    the repeat arithmetic and silently emit garbage cells, a singly-
    inverted one dies deep in numpy with no tile attribution."""
    bad = (
        ~(np.isfinite(b0) & np.isfinite(b1) & np.isfinite(b2) & np.isfinite(b3))
        | (b0 > b2)
        | (b1 > b3)
    )
    if bad.any():
        k = int(np.nonzero(bad)[0][0])
        # ids: an Arrow column or a numpy array; both slice to a list
        who = f"tile {ids[k : k + 1].tolist()[0]!r}" if ids is not None else f"batch row {k}"
        raise ValueError(
            f"inverted bbox or non-finite bounds at {who}: "
            f"lon [{b0[k]}, {b2[k]}], lat [{b1[k]}, {b3[k]}]"
        )
    n = np.int64(1 << level)
    ix0 = np.clip(np.floor((b0 + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    ix1 = np.clip(np.floor((b2 + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy0 = np.clip(np.floor((b1 + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    iy1 = np.clip(np.floor((b3 + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    nx = ix1 - ix0 + 1
    ny = iy1 - iy0 + 1
    per_tile = nx * ny
    total = int(per_tile.sum())
    if total == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    tile_idx = np.repeat(np.arange(len(b0), dtype=np.int64), per_tile)
    # flat position within each tile's nx×ny block (x-major like
    # _bbox_cells: gx varies slowest)
    flat = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(per_tile) - per_tile, per_tile
    )
    ny_rep = np.repeat(ny, per_tile)
    gx = np.repeat(ix0, per_tile) + flat // ny_rep
    gy = np.repeat(iy0, per_tile) + flat % ny_rep
    cells = (spread_bits(gx) | (spread_bits(gy) << np.uint64(1))).astype(np.int64)
    return tile_idx, cells


def crosswalk(
    images: DataFrame,
    index_bc,
    level: int = 12,
    id_col: str = "image_id",
) -> DataFrame:
    """images(id, lon_min, lat_min, lon_max, lat_max) →
    (id, cell_id, polygon_id nullable, ring_index nullable)."""
    schema = f"{id_col} string, cell_id long, polygon_id string, ring_index int"

    def run(batches):
        idx = index_bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(id_col)
            b0 = batch.column("lon_min").to_numpy(zero_copy_only=False)
            b1 = batch.column("lat_min").to_numpy(zero_copy_only=False)
            b2 = batch.column("lon_max").to_numpy(zero_copy_only=False)
            b3 = batch.column("lat_max").to_numpy(zero_copy_only=False)
            tile_idx, cells = _bbox_cells_batch(b0, b1, b2, b3, level, ids=ids)
            lo, hi = cell_range_at_max(cells, level, idx.max_level)
            qi, rid = idx.overlap_batch(lo, hi)
            # hit rows, then one NULL-ring row per (tile, cell) pair
            # with no overlapping ring
            miss = np.ones(len(cells), dtype=bool)
            miss[qi] = False
            mi = np.nonzero(miss)[0]
            out = np.concatenate([qi, mi])
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(tile_idx[out]).cast(pa.string()),
                    pa.array(cells[out], pa.int64()),
                    *idx.ring_columns(rid, n_null=len(mi)),
                ],
                names=[id_col, "cell_id", "polygon_id", "ring_index"],
            )

    return images.select(
        id_col, "lon_min", "lat_min", "lon_max", "lat_max"
    ).mapInArrow(run, schema)


# ---------------------------------------------------------------------------
# Relational fallback: cell-bucket equi-join (no broadcast index)
# ---------------------------------------------------------------------------


def bucketed_cover_spans(
    covers: DataFrame, bucket_level: int, max_level: int
) -> DataFrame:
    """covers(lo, hi, …) → one row per coarse bucket the interval spans
    (bucket = level-``bucket_level`` Morton prefix).  The shared
    dim-side shape of BOTH relational spatial joins
    (``crosswalk_relational`` here and ``tiling.pip_join_relational``):
    the fact side maps each cell to exactly ONE bucket, an interval
    expands to its contiguous bucket range — every qualifying pair
    meets in exactly one bucket, so the classic grid-join duplication
    cannot occur.  ``overlap.overlap_join`` melts both ring layers
    with it."""
    from pyspark.sql import functions as F

    shift_b = 2 * (max_level - bucket_level)
    return covers.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.shiftright(F.col("lo"), shift_b),
                F.shiftright(F.col("hi"), shift_b),
            )
        ),
    )


def table_covers(pts, off, pids, ridx, cover_level: int, max_level: int):
    """``cells.cover_rings`` of a ring table whose ring r is
    (``pids[r]``, ``ridx[r]``): a degenerate ring's ValueError is
    prefixed with its (polygon_id, ring_index)."""
    try:
        return cover_rings(pts, off, max_level=cover_level, abs_max=max_level)
    except RingError as e:
        raise ValueError(f"(polygon_id, ring_index) = ({pids[e.ring]!r}, {ridx[e.ring]}): {e}") from e


def covers_df(rings_out: DataFrame, cover_level: int = 8, max_level: int = 16) -> DataFrame:
    """(polygon_id, ring_index, lo, hi, full) — the ring cover as a
    DataFrame, one row per interval, computed on the executors and NEVER
    collected.  The relational paths (``crosswalk_relational``,
    ``tiling.pip_join_relational``) and ``overlap.overlap_join`` consume
    it; ``tiling.build_interval_index`` instead collects the bare rings
    with a JVM-only ``toArrow`` and covers them on the driver through
    ``table_covers``.

    One ``mapInArrow`` pass over the input's own partitions (no
    repartition: repartition upstream when a layer arrives in few
    splits).  Each batch's coordinates are sliced out of the Arrow list
    buffers into a ring table (``geom.ring_mats``), one
    ``cells.cover_rings`` call covers every ring of it, and each
    interval's ids are taken from its ring's row — no per-ring or
    per-interval Python.  A degenerate ring fails the job with the cover
    kernel's ValueError, prefixed with the (polygon_id, ring_index) of
    the batch's first such ring."""
    from pyspark.sql import functions as F

    def run(batches):
        for batch in batches:
            pts, off = ring_mats(batch.column("coords"))
            pid, ridx = batch.column("polygon_id"), batch.column("ring_index")
            lo, hi, full, counts = table_covers(
                pts, off, pid.to_pylist(), ridx.to_pylist(), cover_level, max_level
            )
            ring = pa.array(np.repeat(np.arange(len(counts)), counts))
            yield pa.RecordBatch.from_arrays(
                [pid.take(ring), ridx.take(ring), pa.array(lo), pa.array(hi), pa.array(full.astype(np.int32))],
                names=["polygon_id", "ring_index", "lo", "hi", "full"],
            )

    schema = "polygon_id string, ring_index int, lo bigint, hi bigint, full int"
    return rings_out.select(
        "polygon_id", F.col("ring_index").cast("int").alias("ring_index"), "coords"
    ).mapInArrow(run, schema)


def tile_cells_df(
    images: DataFrame,
    level: int,
    id_col: str = "image_id",
    max_cells_per_tile: int = 65536,
    antimeridian: str = "error",
) -> DataFrame:
    """(id, cell_id): every level-``level`` Morton cell overlapping each
    tile bbox — pure JVM column expressions (sequence + explode + the
    shared Morton spread SQL), no Python in the expansion.

    ``max_cells_per_tile`` guards against the single-row skew bomb: one
    continent-sized (or corrupt) bbox at level 12 would otherwise
    explode to ~16.7M rows.  Oversized tiles FAIL LOUDLY (raise_error
    carrying the tile id) rather than being silently dropped — callers
    with legitimately huge tiles pre-coarsen the level or pre-split.

    ``antimeridian``:
      'error' (default): lon_min > lon_max fails loudly — a negative
        axis extent would make nx*ny non-positive (sailing past the
        product cap) while ``sequence(start, stop)`` happily generates
        the DESCENDING full-span range, re-creating the very explosion
        the cap exists to prevent.
      'split': lon_min > lon_max is interpreted as a dateline-crossing
        tile; its x-range becomes the union [ix(lon_min), n-1] ∪
        [0, ix(lon_max)] (one conditional concat of two sequences —
        still pure JVM), with the cell cap applied to the SUMMED width.
    A latitude inversion (lat_min > lat_max) has no wrap interpretation
    and always fails loudly."""
    from pyspark.sql import functions as F

    from ..functions.cells_sql import _spread_sql

    if antimeridian not in ("error", "split"):
        raise ValueError(f"antimeridian={antimeridian!r}: use 'error' or 'split'")
    n = 1 << level

    def axis(coord, off, extent):
        return (
            f"greatest(0L, least({n - 1}L, "
            f"CAST(floor((({coord}) + {off}) / {extent} * {n}) AS BIGINT)))"
        )

    ix0, ix1 = axis("lon_min", 180.0, 360.0), axis("lon_max", 180.0, 360.0)
    wraps = "(lon_min > lon_max)"
    if antimeridian == "split":
        nx = (
            f"(CASE WHEN {wraps} THEN ({n - 1} - {ix0} + 1) + ({ix1} + 1) "
            f"ELSE {ix1} - {ix0} + 1 END)"
        )
        lon_bad = "FALSE"
        ixs = (
            f"CASE WHEN {wraps} THEN concat(sequence({ix0}, {n - 1}L), "
            f"sequence(0L, {ix1})) ELSE sequence({ix0}, {ix1}) END"
        )
    else:
        nx = f"({ix1} - {ix0} + 1)"
        lon_bad = f"({nx} <= 0)"
        ixs = f"sequence({ix0}, {ix1})"
    ny = f"({axis('lat_max', 90.0, 180.0)} - {axis('lat_min', 90.0, 180.0)} + 1)"
    guard = (
        f"CASE WHEN {lon_bad} OR {ny} <= 0 THEN "
        f"raise_error(concat('tile ', {id_col}, ' has an inverted bbox "
        f"(lon_min > lon_max or lat_min > lat_max)')) "
        f"WHEN {nx} * {ny} > {max_cells_per_tile} THEN "
        f"raise_error(concat('tile ', {id_col}, ' expands to ', "
        f"CAST({nx} * {ny} AS STRING), ' cells at level {level} "
        f"(cap {max_cells_per_tile})')) ELSE {id_col} END"
    )

    return (
        images.select(
            F.expr(guard).alias(id_col),
            F.expr(ixs).alias("ixs"),
            F.expr(f"sequence({axis('lat_min', 90.0, 180.0)}, {axis('lat_max', 90.0, 180.0)})").alias("iys"),
        )
        .select(id_col, F.explode("ixs").alias("ix"), F.col("iys"))
        .select(id_col, "ix", F.explode("iys").alias("iy"))
        .select(
            id_col,
            F.expr(f"({_spread_sql('ix')} | ({_spread_sql('iy')} << 1))").alias("cell_id"),
        )
    )


def crosswalk_relational(
    images: DataFrame,
    rings_out: DataFrame,
    level: int = 12,
    cover_level: int = 8,
    bucket_level: int = 6,
    max_level: int = 16,
    id_col: str = "image_id",
) -> DataFrame:
    """Crosswalk WITHOUT a broadcast index: a cell-bucket equi-join
    (PAPERS.md EDBT'15 grid-partitioned spatial join pattern), for when
    the ring layer outgrows executor memory.

    Both sides key on a coarse bucket (the level-``bucket_level``
    ancestor cell): a tile cell maps to exactly ONE bucket (its Morton
    prefix), a ring cover interval expands to the contiguous bucket
    range it spans — so every qualifying (cell, interval) pair meets in
    exactly one bucket and the classic grid-join duplicate problem
    cannot occur (dedup is only needed across a ring's own intervals).
    The shuffle moves (id, cell) pairs and (bucket, interval) rows —
    never geometry.  Catalyst plans it as a plain shuffled hash/sort
    equi-join on ``bucket`` with the interval overlap as a residual
    filter, which AQE can skew-split; total work is O(cells + interval
    bucket spans), no cartesian anywhere."""
    from pyspark.sql import functions as F

    shift_cell = 2 * (max_level - level)

    cells = tile_cells_df(images, level, id_col).withColumn(
        "bucket", F.shiftright(F.col("cell_id"), 2 * (level - bucket_level))
    )
    iv = bucketed_cover_spans(
        covers_df(rings_out, cover_level, max_level), bucket_level, max_level
    ).select("bucket", "lo", "hi", "polygon_id", "ring_index")
    cell_lo = F.shiftleft(F.col("cell_id"), shift_cell)
    cell_hi = F.shiftleft(F.col("cell_id") + 1, shift_cell) - 1
    joined = cells.join(
        iv,
        (cells.bucket == iv.bucket) & (cell_lo <= iv.hi) & (cell_hi >= iv.lo),
        "left",
    )
    return joined.select(
        id_col, "cell_id", "polygon_id", "ring_index"
    ).distinct()
