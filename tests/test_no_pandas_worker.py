"""No Python worker imports pandas while the engine runs.

pyarrow imports pandas lazily, on the first ``to_numpy``, ``pa.array``
on a list or ndarray, ``take(ndarray)``, ``from_pydict`` or
``pa.scalar`` — some 20-40 MB in every Python worker that makes one such
call.  The engine's executor batch functions convert through
``geom.arrow_to_numpy`` / ``geom.numpy_to_arrow`` instead.

This test runs every one of them in a fresh ``local[1]`` session in a
subprocess (this file run as a script), then reads
``/proc/<pid>/maps`` of every live Python worker of that session: none
may map pandas, and at least one must map pyarrow, which shows the scan
found the workers that ran the batch functions.  One slot and worker
reuse keep the worker that ran them alive until the scan (the session
keeps at most one idle worker).  ``test_imports_resolve``
checks the same property statically, on imports and calls.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from pyworkers import python_workers

REPO = Path(__file__).resolve().parent.parent


def _drive() -> dict:
    import json as _json

    import pyarrow as pa

    from simplepolygon_spark.operators.crosswalk import covers_df, crosswalk
    from simplepolygon_spark.operators.decompose import decompose_polygons, validate_polygons
    from simplepolygon_spark.operators.fused import validate_and_assign
    from simplepolygon_spark.operators.geojson import decompose_geojson
    from simplepolygon_spark.operators.knn import knn_join
    from simplepolygon_spark.operators.overlap import overlap_join
    from simplepolygon_spark.operators.payload import validate_payload
    from simplepolygon_spark.operators.tiling import (
        broadcast_index,
        build_interval_index,
        pip_join,
        pip_join_relational,
    )
    from simplepolygon_spark.session import get_spark
    from simplepolygon_spark.sources.footprints import footprint_rows, footprints_df
    from simplepolygon_spark.sources.images import images_df

    spark = get_spark("no-pandas-worker", parallelism=1, shuffle_partitions=2)
    rows = {}
    polys = footprints_df(spark, grid=2)
    rings_tbl = decompose_polygons(polys).toArrow()
    rows["decompose_polygons"] = rings_tbl.num_rows
    rows["validate_polygons"] = validate_polygons(polys).count()
    rings = spark.createDataFrame(rings_tbl)
    bc = broadcast_index(spark, build_interval_index(rings, cover_level=8))
    # the generated images plus one with NULL coordinates, which every
    # served join reads as NaN
    img_tbl = images_df(spark, 40, partitions=1).toArrow()
    rows["images_df"] = img_tbl.num_rows
    null_row = {c: [img_tbl.column(c)[0].as_py()] for c in img_tbl.column_names}
    null_row.update(image_id=["null-coords"], lon=[None], lat=[None])
    img_tbl = pa.concat_tables([img_tbl, pa.table(null_row, schema=img_tbl.schema)])
    images = spark.createDataFrame(img_tbl)
    features = [
        _json.dumps({"type": "Feature", "geometry": {"type": "Polygon", "coordinates": r}})
        for _, r in footprint_rows(2)
    ]
    geo = spark.createDataFrame(
        pa.table({"polygon_id": [str(i) for i in range(len(features))], "geojson": features})
    )
    ops = {
        "pip_join": lambda: pip_join(images, bc),
        "knn_join": lambda: knn_join(images, bc, k=2),
        "crosswalk": lambda: crosswalk(images, bc, level=10),
        "validate_and_assign": lambda: validate_and_assign(images, bc),
        "validate_payload": lambda: validate_payload(images),
        "covers_df": lambda: covers_df(rings, 8),
        "pip_join_relational": lambda: pip_join_relational(images, rings, cover_level=8),
        # coarse cells: the pairs go to the exact refine
        "overlap_join": lambda: overlap_join(rings, rings, cover_level=2),
        "decompose_geojson": lambda: decompose_geojson(geo),
    }
    for name, op in ops.items():
        rows[name] = op().count()
    workers = python_workers()
    spark.stop()
    return {"rows": rows, "workers": workers}


def test_buffer_conversions_equal_pyarrows():
    """The two helpers give what pyarrow's own conversions give, on
    sliced arrays (non-zero offsets) with and without NULLs."""
    import numpy as np
    import pyarrow as pa

    from simplepolygon_spark.geom import arrow_to_numpy, numpy_to_arrow

    floats = pa.array([1.5, None, -0.0, np.nan, 4.0, None, 7.0, 8.0, 9.0, 10.0])
    for col in (floats, floats.slice(3), floats.slice(6, 3), floats.slice(10)):
        want = col.to_numpy(zero_copy_only=False).astype(np.float64)
        np.testing.assert_array_equal(arrow_to_numpy(col), want)
    ints = pa.array(np.arange(12, dtype=np.int32))
    np.testing.assert_array_equal(arrow_to_numpy(ints.slice(5, 4), np.int64), [5, 6, 7, 8])
    chunked = pa.chunked_array([ints.slice(9), ints.slice(1, 2)])
    np.testing.assert_array_equal(arrow_to_numpy(chunked, np.int64), [9, 10, 11, 1, 2])
    assert arrow_to_numpy(pa.chunked_array([], pa.float64())).shape == (0,)
    with pytest.raises(ValueError, match="NULL"):
        arrow_to_numpy(pa.array([1, None]), np.int64)

    def same(got, want):
        # repr keeps NaN equal to NaN and -0.0 apart from 0.0
        got.validate(full=True)
        return got.type == want.type and repr(got.to_pylist()) == repr(want.to_pylist())

    for values in (np.array([0.5, np.nan, -0.0]), np.arange(3, dtype=np.int32), np.array([True, False] * 9), np.zeros(0)):
        assert same(numpy_to_arrow(values), pa.array(values))
    assert same(numpy_to_arrow(np.arange(3), pa.int32()), pa.array(np.arange(3), pa.int32()))
    strings = ["a", None, "é東🛰", "", None]
    assert same(numpy_to_arrow(np.array(strings, dtype=object), pa.string()), pa.array(strings, pa.string()))
    assert same(numpy_to_arrow([b"x\x00", None], pa.binary()), pa.array([b"x\x00", None], pa.binary()))
    assert same(numpy_to_arrow([], pa.string()), pa.array([], pa.string()))


@pytest.mark.skipif(not Path("/proc/self/maps").exists(), reason="needs /proc")
def test_no_python_worker_imports_pandas(tmp_path):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, __file__],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    empty = [name for name, n in report["rows"].items() if not n]
    assert not empty, f"batch functions produced no rows: {empty}"
    workers = report["workers"]
    assert any(w["pyarrow"] for w in workers), f"no Python worker ran Arrow code: {workers}"
    assert not [w for w in workers if w["pandas"]], f"pandas mapped in a Python worker: {workers}"


if __name__ == "__main__":
    print(json.dumps(_drive()))
