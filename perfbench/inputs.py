"""Seeded input generator for the spatial-engine benchmark.

Every value is a pure function of ``(seed, stream, index)`` through a
counter-based hash (splitmix64), so one seed always yields the same
tables regardless of how they are split.  Tables are written to parquet
once per seed under the cache directory, outside any timed region.

Inputs:
  * points  — image points spread over the footprint window, with an
    explicit share relocated into one hot cell that lies inside a served
    footprint (the skew the salted aggregation exists for).
  * tiles   — per-point bboxes derived from the same points.
  * polygons — fixture footprints on a jittered, partly overlapping grid
    plus a tail of crossing-heavy random polygons (vertices in shuffled
    order), pre-filtered with ``validate_polygons`` so no polygon is
    rejected mid-run.
  * images  — ``images_df(with_bytes=True)`` (raw / rle / lossy qnt SPIM
    payloads) with the benchmark's lon/lat swapped in.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from simplepolygon_spark.sources.fixtures import NORTH_STAR_FIXTURES
from simplepolygon_spark.sources.footprints import WINDOW, footprint_rows

# the five decomposable north-star shapes; passed explicitly so the
# layer never depends on an optional reference checkout being present
FIXTURES = {k: v for k, v in NORTH_STAR_FIXTURES.items() if k != "unclosed"}
SERVED_GRID = 16  # grid-16 footprint layer: 256 polygons, 614 rings
HOT_HALF_WIDTH = 0.004  # degrees; the hot box sits inside one level-10 cell
FIXTURE_CELL_DEG = 1.2  # grid pitch of the ingested fixture layer

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _mix(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        x = x + _GOLDEN
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def uniform(seed: int, stream: int, idx: np.ndarray) -> np.ndarray:
    """U[0, 1) per index, independent per (seed, stream)."""
    with np.errstate(over="ignore"):
        key = _mix(np.uint64(seed) * np.uint64(1_000_003) + np.uint64(stream) + np.zeros(1, np.uint64))
        x = _mix(np.asarray(idx, np.uint64) ^ key)
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _inside_even_odd(x: float, y: float, rings: list) -> bool:
    inside = False
    for ring in rings:
        r = np.asarray(ring, np.float64)
        xi, yi = r[:-1, 0], r[:-1, 1]
        xj, yj = r[1:, 0], r[1:, 1]
        with np.errstate(divide="ignore", invalid="ignore"):
            hit = ((yi > y) != (yj > y)) & (x < (xj - xi) * (y - yi) / (yj - yi) + xi)
        inside ^= bool(hit.sum() % 2)
    return inside


def hot_center(seed: int, layer: list) -> tuple[float, float]:
    """Centre of a level-10 cell lying inside one polygon of ``layer``
    (seed-chosen): the hot points all land on one ring, in a cell its
    cover can accept without a geometry test, whichever seed is used."""
    n = 1 << 10
    cw, ch = 360.0 / n, 180.0 / n
    k = np.arange(4096)
    u, v = uniform(seed, 90, k), uniform(seed, 91, k)
    for j in range(len(layer)):
        rings = layer[(seed + j) % len(layer)][1]
        pts = np.array([p for r in rings for p in r], np.float64)
        (x0, y0), (x1, y1) = pts.min(axis=0), pts.max(axis=0)
        for a, b in zip(x0 + u * (x1 - x0), y0 + v * (y1 - y0)):
            lo_x = np.floor((a + 180.0) / cw) * cw - 180.0
            lo_y = np.floor((b + 90.0) / ch) * ch - 90.0
            eps = 1e-9
            probes = [(lo_x + dx, lo_y + dy) for dx in (eps, cw - eps) for dy in (eps, ch - eps)]
            if all(_inside_even_odd(px, py, rings) for px, py in probes):
                return float(lo_x + cw / 2), float(lo_y + ch / 2)
    raise RuntimeError(f"no hot cell found for seed {seed}")


def points(seed: int, n: int, hot_share: float, window: tuple, hot: tuple, stream: int = 0):
    """(lon, lat) of n points: uniform over ``window``, except a
    ``hot_share`` of them packed into a small box around ``hot``."""
    idx = np.arange(n, dtype=np.uint64)
    lon0, lat0, lon1, lat1 = window
    lon = lon0 + uniform(seed, stream + 1, idx) * (lon1 - lon0)
    lat = lat0 + uniform(seed, stream + 2, idx) * (lat1 - lat0)
    is_hot = uniform(seed, stream + 3, idx) < hot_share
    lon[is_hot] = hot[0] + (uniform(seed, stream + 4, idx[is_hot]) - 0.5) * 2 * HOT_HALF_WIDTH
    lat[is_hot] = hot[1] + (uniform(seed, stream + 5, idx[is_hot]) - 0.5) * 2 * HOT_HALF_WIDTH
    return lon, lat


def tile_bounds(seed: int, lon: np.ndarray, lat: np.ndarray, stream: int = 0):
    """Tile bboxes around the points: half-sizes 0.01-0.12 degrees, i.e.
    about 1-30 level-12 cells per tile."""
    idx = np.arange(len(lon), dtype=np.uint64)
    hw = 0.01 + 0.11 * uniform(seed, stream + 6, idx)
    hh = 0.01 + 0.11 * uniform(seed, stream + 7, idx)
    return lon - hw, lat - hh, lon + hw, lat + hh


def fixture_polygons(seed: int, grid: int, cell_deg: float = FIXTURE_CELL_DEG) -> list[tuple[str, list]]:
    """Fixture shapes on a grid of ``cell_deg`` cells centred on (0, 0),
    the five shapes in turn; each is scaled to 60-130% of its cell and
    jittered, so neighbours sometimes overlap."""
    names = sorted(FIXTURES)
    units = {k: _unit(FIXTURES[k]) for k in names}
    idx = np.arange(grid * grid, dtype=np.uint64)
    scale = 0.6 + 0.7 * uniform(seed, 21, idx)
    jx, jy = uniform(seed, 22, idx) - 0.5, uniform(seed, 23, idx) - 0.5
    origin = -grid * cell_deg / 2
    out = []
    for k in range(grid * grid):
        gx, gy = k % grid, k // grid
        s = float(scale[k]) * cell_deg
        ox = origin + (gx + 0.5 + 0.3 * float(jx[k])) * cell_deg - s / 2
        oy = origin + (gy + 0.5 + 0.3 * float(jy[k])) * cell_deg - s / 2
        name = names[k % len(names)]
        rings = [[[ox + x * s, oy + y * s] for x, y in r] for r in units[name]]
        out.append((f"fx{k:05d}:{name}", rings))
    return out


def _unit(rings: list) -> list:
    pts = np.array([p for r in rings for p in r], np.float64)
    mn, span = pts.min(axis=0), np.ptp(pts, axis=0)
    return [[((p - mn) / span).tolist() for p in np.asarray(r, np.float64)] for r in rings]


def crossing_polygons(seed: int, n: int, attempt: int = 0, vmin: int = 16, vmax: int = 96) -> list[tuple[str, list]]:
    """Random polygons whose vertices come in shuffled order — each edge
    crosses many others, so the decompose walk does O(crossings) work.
    The kernel cost grows steeply with the crossing count, so it is not
    left to the seed: vertex counts follow a fixed 16-96 schedule and each
    slot's vertex pattern (in a 0.3-degree box) is the same for every
    seed; the seed picks where in the window each polygon lies.
    ``attempt`` draws an independent replacement set."""
    lon0, lat0, lon1, lat1 = WINDOW
    out = []
    for k in range(n):
        kk = np.array([k], np.uint64)
        nv = vmin + round((vmax - vmin) * k / max(1, n - 1))
        st = 30 + 10 * attempt
        cx = lon0 + 1 + uniform(seed, st, kk)[0] * (lon1 - lon0 - 2)
        cy = lat0 + 1 + uniform(seed, st + 1, kk)[0] * (lat1 - lat0 - 2)
        v = np.arange(nv, dtype=np.uint64) + np.uint64(1000 * k)
        xs = cx + 0.3 * uniform(0, st + 2, v)
        ys = cy + 0.3 * uniform(0, st + 3, v)
        ring = [[float(x), float(y)] for x, y in zip(xs, ys)]
        out.append((f"cx{k:05d}:{nv}:{attempt}", [ring + [ring[0]]]))
    return out


def _write(table: pa.Table, path: str, nproc: int) -> None:
    # several row groups, so Spark splits the file across all cores
    pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // (2 * nproc))))


def _points_table(seed: int, n: int, fact: tuple, prefix: str, stream: int) -> pa.Table:
    lon, lat = points(seed, n, *fact, stream)
    b = tile_bounds(seed, lon, lat, stream)
    ids = np.char.add(prefix, np.char.zfill(np.arange(n).astype(str), 8))
    return pa.table(
        {"image_id": ids, "lon": lon, "lat": lat,
         "lon_min": b[0], "lat_min": b[1], "lon_max": b[2], "lat_max": b[3]}
    )


CACHE_SEEDS = 4  # seeds kept per workload; the oldest is evicted first


def materialize(spark, cache_dir: str, workload: str, seed: int, sizes: dict, nproc: int) -> dict:
    """Write the workload's inputs to parquet (once per seed) and return
    their paths."""
    root = os.path.join(cache_dir, f"{workload}-s{seed}")
    paths = {k: os.path.join(root, f"{k}.parquet")
             for k in ("points", "knn", "tiles", "probe", "polygons", "fixture_rings", "images")}
    done = os.path.join(root, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            if json.load(f) == sizes:
                return paths
    shutil.rmtree(root, ignore_errors=True)
    _evict(cache_dir, workload)
    os.makedirs(root)

    # the fact side spreads over the layer it is served against: the
    # grid-16 footprints, or (on ingest) the freshly ingested fixtures
    fx = fixture_polygons(seed, sizes["fixture_grid"])
    if sizes["fact_on"] == "served":
        window, layer = WINDOW, footprint_rows(SERVED_GRID, FIXTURES)
    else:
        half = sizes["fixture_grid"] * FIXTURE_CELL_DEG / 2
        window, layer = (-half, -half, half, half), fx
    fact = (sizes["hot_share"], window, hot_center(seed, layer))
    _write(_points_table(seed, sizes["points"], fact, "p", 0), paths["points"], nproc)
    _write(_points_table(seed, sizes["knn"], fact, "k", 100), paths["knn"], nproc)
    _write(_points_table(seed, sizes["tiles"], fact, "t", 200), paths["tiles"], nproc)
    _write(_points_table(seed, sizes["probe"], fact, "q", 400), paths["probe"], nproc)

    keep = fx + _valid_tail(spark, seed, sizes["crossing_tail"])
    # interleave the tail among the fixtures, so the slow polygons are
    # spread over partitions the way a real delivery would mix them
    order = np.argsort(uniform(seed, 40, np.arange(len(keep), dtype=np.uint64)))
    keep = [keep[i] for i in order]
    coords = pa.list_(pa.list_(pa.float64()))
    _write(pa.table({"polygon_id": [r[0] for r in keep], "rings": [r[1] for r in keep]},
                    schema=pa.schema([("polygon_id", pa.string()), ("rings", pa.list_(coords))])),
           paths["polygons"], nproc)

    # the overlap input: the fixture layer, decomposed once by the driver kernel
    from simplepolygon_spark.decompose import decompose

    rings = [(pid, k, f["coords"]) for pid, rs in fx for k, f in enumerate(decompose(rs))]
    _write(pa.table([pa.array([r[i] for r in rings], t) for i, t in enumerate((pa.string(), pa.int32(), coords))],
                    names=["polygon_id", "ring_index", "coords"]), paths["fixture_rings"], nproc)

    _write(_images_table(seed, sizes["images"], fact), paths["images"], nproc)
    with open(done, "w") as f:
        json.dump(sizes, f)
    return paths


def _evict(cache_dir: str, workload: str) -> None:
    if not os.path.isdir(cache_dir):
        return
    mine = sorted((os.path.getmtime(os.path.join(cache_dir, d)), d) for d in os.listdir(cache_dir)
                  if d.startswith(f"{workload}-s"))
    for _, d in mine[: max(0, len(mine) - CACHE_SEEDS + 1)]:
        shutil.rmtree(os.path.join(cache_dir, d))


def _valid_tail(spark, seed: int, n: int) -> list:
    """The crossing-heavy tail, each slot the first of up to three seeded
    draws that ``validate_polygons`` accepts."""
    from simplepolygon_spark.operators.decompose import POLYGONS_SCHEMA, validate_polygons

    tail: list = [None] * n
    for attempt in range(3):
        cand = [p for k, p in enumerate(crossing_polygons(seed, n, attempt)) if tail[k] is None]
        if not cand:
            break
        # one polygon per task: the kernel cost is steep in vertex count
        df = spark.createDataFrame(spark.sparkContext.parallelize(cand, len(cand)), POLYGONS_SCHEMA)
        ok = {r.polygon_id for r in validate_polygons(df).where("ok").select("polygon_id").collect()}
        for p in cand:
            if p[0] in ok:
                tail[int(p[0][2:7])] = p
    if None in tail:
        raise RuntimeError(f"seed {seed}: a crossing-heavy polygon failed validation three times")
    return tail


def _images_table(seed: int, n: int, fact: tuple) -> pa.Table:
    """The rows ``images_df(with_bytes=True)`` generates (same SPIM
    encoder and metadata), with the benchmark's lon/lat and tile bounds
    in place of the built-in golden-ratio walk."""
    from simplepolygon_spark.sources.images import encode_image, meta_of

    geo = _points_table(seed, n, fact, "", 300)
    enc = [encode_image(i) for i in range(n)]
    meta = [meta_of(i, skew=False) for i in range(n)]
    return pa.table({
        "image_id": pa.array([m["image_id"] for m in meta], pa.string()),
        "bytes": pa.array([e[0] for e in enc], pa.binary()),
        "w": pa.array([e[1] for e in enc], pa.int32()),
        "h": pa.array([e[2] for e in enc], pa.int32()),
        "fmt": pa.array([e[3] for e in enc], pa.string()),
        "caption": pa.array([m["caption"] for m in meta], pa.string()),
        "phash": pa.array([m["phash"] for m in meta], pa.int64()),
        **{c: geo.column(c) for c in ("lon", "lat", "lon_min", "lat_min", "lon_max", "lat_max")},
    })
