"""The four served joins (``pip_join``, ``knn_join``, ``crosswalk``,
``validate_and_assign``) build their output columns with Arrow takes:
ids from the input batch, ring keys from ``IntervalIndex.ring_columns``.
Each output table, column types included, must equal an object-array
assembly of the same kernel results (ids and ring ids through numpy
object arrays and ``pa.array(..., pa.string())``), at one row per Arrow
batch and at the session's default batch size.  The inputs carry
non-ASCII ids, invalid coordinates, crosswalk cells that hit no ring,
unassigned images, and batches and frames with no rows."""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from simplepolygon_spark.cells import cell_range_at_max
from simplepolygon_spark.operators.crosswalk import _bbox_cells_batch, crosswalk
from simplepolygon_spark.operators.decompose import decompose_polygons
from simplepolygon_spark.operators.fused import validate_and_assign
from simplepolygon_spark.operators.knn import knn_join, nearest_rings
from simplepolygon_spark.operators.payload import validate_rows
from simplepolygon_spark.operators.tiling import broadcast_index, build_interval_index, pip_join
from simplepolygon_spark.sources.footprints import WINDOW, footprints_df
from simplepolygon_spark.sources.images import encode_image

BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"
LEVEL = 12
K = 3


@pytest.fixture(scope="module")
def layer(spark):
    rows = decompose_polygons(footprints_df(spark, grid=2)).collect()
    idx = build_interval_index(rows, cover_level=9)
    return idx, broadcast_index(spark, idx)


def _image_id(i: int) -> str:
    # every third id is non-ASCII: validate reports it as undecodable
    return f"img{i:09d}" if i % 3 else f"bild-{i}-é東京🛰"


@pytest.fixture(scope="module")
def images(spark):
    rng = np.random.default_rng(5)
    lon = rng.uniform(WINDOW[0], WINDOW[2], 48)
    lat = rng.uniform(WINDOW[1], WINDOW[3], 48)
    # invalid coordinates: never assigned by pip/validate, pinned by knn
    lon[[4, 9, 14]] = [np.nan, 190.0, np.inf]
    lat[[19, 24]] = [-95.0, np.nan]
    rows = []
    for i in range(48):
        data, _w, _h, fmt = encode_image(i)
        iid = _image_id(i)
        cap = f"synthetic image {i} :: {hashlib.blake2b(iid.encode()).digest()[:12].hex()}"
        rows.append((iid, data, fmt, cap, float(lon[i]), float(lat[i])))
    schema = "image_id string, bytes binary, fmt string, caption string, lon double, lat double"
    return spark.createDataFrame(rows, schema).repartition(3)


@pytest.fixture(scope="module")
def tiles(spark, images):
    # tiles around the finite in-window points, and one clipped onto
    # the western edge of the world window
    ok = F.col("lon").between(-180.0, 180.0) & F.col("lat").between(-90.0, 90.0)
    t = images.where(ok).select(
        "image_id",
        (F.col("lon") - 0.05).alias("lon_min"),
        (F.col("lat") - 0.05).alias("lat_min"),
        (F.col("lon") + 0.05).alias("lon_max"),
        (F.col("lat") + 0.05).alias("lat_max"),
    )
    edge = t.sparkSession.createDataFrame(
        [("kante-ö", -200.0, 10.0, -179.95, 10.05)], t.schema
    )
    return t.unionByName(edge)


def _col(t: pa.Table, name: str) -> np.ndarray:
    return t.column(name).combine_chunks().to_numpy(zero_copy_only=False)


def _objects_pip(idx, t):
    ids, lon, lat = _col(t, "image_id"), _col(t, "lon"), _col(t, "lat")
    pt, rid = idx.assign(lon, lat)
    return [
        pa.array(ids[pt], pa.string()),
        pa.array(lon[pt]),
        pa.array(lat[pt]),
        pa.array(idx.ring_pid[rid], pa.string()),
        pa.array(idx.ring_ridx[rid], pa.int32()),
    ]


def _objects_knn(idx, t):
    ids, lon, lat = _col(t, "image_id"), _col(t, "lon"), _col(t, "lat")
    ring, dist = nearest_rings(idx, lon, lat, K)
    kk = ring.shape[1]
    return [
        pa.array(np.repeat(ids, kk), pa.string()),
        pa.array(idx.ring_pid[ring.ravel()], pa.string()),
        pa.array(idx.ring_ridx[ring.ravel()], pa.int32()),
        pa.array(dist.ravel()),
        pa.array(np.tile(np.arange(1, kk + 1, dtype=np.int32), len(ids)), pa.int32()),
    ]


def _objects_crosswalk(idx, t):
    ids = np.asarray(t.column("image_id").to_pylist(), dtype=object)
    b = [_col(t, c) for c in ("lon_min", "lat_min", "lon_max", "lat_max")]
    tile, cells = _bbox_cells_batch(*b, LEVEL, ids=ids)
    qi, rid = idx.overlap_batch(*cell_range_at_max(cells, LEVEL, idx.max_level))
    miss = np.ones(len(cells), dtype=bool)
    miss[qi] = False
    mi = np.nonzero(miss)[0]
    out = np.concatenate([qi, mi])
    return [
        pa.array(ids[tile[out]], pa.string()),
        pa.array(cells[out], pa.int64()),
        pa.array(np.concatenate([idx.ring_pid[rid], np.full(len(mi), None, object)]), pa.string()),
        pa.concat_arrays([pa.array(idx.ring_ridx[rid], pa.int32()), pa.nulls(len(mi), pa.int32())]),
    ]


def _objects_validate(idx, t):
    ids = t.column("image_id").to_pylist()
    cols = [t.column(c).to_pylist() for c in ("bytes", "fmt", "caption")]
    ps, cap_ok = validate_rows(ids, *cols)
    pt, rid = idx.assign(_col(t, "lon"), _col(t, "lat"))
    un = np.setdiff1d(np.arange(len(ids)), pt)
    rows = np.concatenate([pt, un])
    return [
        pa.array([ids[r] for r in rows], pa.string()),
        pa.array(np.concatenate([idx.ring_pid[rid], np.full(len(un), None, object)]), pa.string()),
        pa.concat_arrays([pa.array(idx.ring_ridx[rid], pa.int32()), pa.nulls(len(un), pa.int32())]),
        pa.array(ps[rows]),
        pa.array(cap_ok[rows]),
    ]


OPERATORS = {
    "pip": (lambda df, bc: pip_join(df, bc), _objects_pip, "images"),
    "knn": (lambda df, bc: knn_join(df, bc, k=K), _objects_knn, "images"),
    "crosswalk": (lambda df, bc: crosswalk(df, bc, level=LEVEL), _objects_crosswalk, "tiles"),
    "validate": (lambda df, bc: validate_and_assign(df, bc), _objects_validate, "images"),
}


def _rows(t: pa.Table) -> list:
    """Rows in a canonical order (the operators emit batch by batch),
    NaN made comparable."""
    t = t.sort_by([(c, "ascending") for c in t.column_names])
    return [tuple("NaN" if v != v else v for v in r.values()) for r in t.to_pylist()]


def _check(spark, name, layer, frame, batch):
    idx, bc = layer
    op, objects, _ = OPERATORS[name]
    old = spark.conf.get(BATCH)
    if batch is not None:
        spark.conf.set(BATCH, str(batch))
    try:
        got = op(frame, bc).toArrow()
    finally:
        spark.conf.set(BATCH, old)
    inp = frame.toArrow()
    if inp.num_rows:
        want = pa.Table.from_arrays(objects(idx, inp), names=got.column_names)
    else:
        want = got.schema.empty_table()
    assert got.schema.types == want.schema.types, (got.schema, want.schema)
    assert pa.string() in got.schema.types and pa.large_string() not in got.schema.types
    assert _rows(got) == _rows(want)
    return got


@pytest.mark.parametrize("batch", [1, None], ids=["one_row_batches", "default_batches"])
@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_served_output_equals_object_assembly(spark, layer, images, tiles, name, batch):
    frame = {"images": images, "tiles": tiles}[OPERATORS[name][2]]
    got = _check(spark, name, layer, frame, batch)
    ids = set(got.column(0).to_pylist())
    assert any(not i.isascii() for i in ids)
    if name in ("crosswalk", "validate"):
        # NULL-ring rows: cells that hit no ring, images in no ring
        nulls = got.column("polygon_id").null_count
        assert 0 < nulls < got.num_rows
        assert got.column("ring_index").null_count == nulls


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_served_output_of_empty_frames(spark, layer, images, tiles, name):
    frame = {"images": images, "tiles": tiles}[OPERATORS[name][2]]
    got = _check(spark, name, layer, frame.where(F.lit(False)), 1)
    assert got.num_rows == 0


def test_ring_columns_appends_nulls_and_takes_nothing(layer):
    idx, _ = layer
    rid = np.array([3, 0, 3], dtype=np.int64)
    pid, ridx = idx.ring_columns(rid, n_null=2)
    assert pid.to_pylist() == [*idx.ring_pid[rid].tolist(), None, None]
    assert ridx.to_pylist() == [*idx.ring_ridx[rid].tolist(), None, None]
    assert (pid.type, ridx.type) == (pa.string(), pa.int32())
    empty = idx.ring_columns(np.zeros(0, dtype=np.int64))
    assert [len(c) for c in empty] == [0, 0]
    assert [len(c) for c in idx.ring_columns(np.zeros(0, dtype=np.int64), n_null=3)] == [3, 3]


def test_crosswalk_error_names_a_non_ascii_tile(spark, layer):
    _, bc = layer
    bad = spark.createDataFrame(
        [("kachel-ü", 10.0, 0.0, 0.0, 1.0)],
        "image_id string, lon_min double, lat_min double, lon_max double, lat_max double",
    )
    with pytest.raises(Exception, match="inverted bbox or non-finite bounds at tile 'kachel-ü'"):
        crosswalk(bad, bc, level=LEVEL).collect()
