"""The Spark decompose operator returns the same rings as the pure kernel,
for every fixture at once, through Arrow batches (no shuffle)."""

from __future__ import annotations

from simplepolygon_spark.decompose import decompose
from simplepolygon_spark.operators.decompose import (
    POLYGONS_SCHEMA,
    decompose_polygons,
)
from simplepolygon_spark.sources.fixtures import all_decomposable_fixtures


def _to_float_rings(rings):
    return [[[float(x), float(y)] for x, y in ring] for ring in rings]


def test_spark_matches_kernel(spark):
    fixtures = all_decomposable_fixtures()
    rows = [(name, _to_float_rings(rings)) for name, rings in sorted(fixtures.items())]
    df = spark.createDataFrame(rows, POLYGONS_SCHEMA)
    out = decompose_polygons(df).collect()

    by_pid: dict[str, list] = {}
    for r in out:
        by_pid.setdefault(r.polygon_id, []).append(r)
    assert set(by_pid) == set(fixtures)

    for name, rings in fixtures.items():
        expected = decompose(_to_float_rings(rings))
        got = sorted(by_pid[name], key=lambda r: r.ring_index)
        assert len(got) == len(expected)
        for g, e in zip(got, expected):
            assert [list(c) for c in g.coords] == e["coords"]
            assert g.parent == e["parent"]
            assert g.winding == e["winding"]
            assert g.net_winding == e["net_winding"]
            assert g.is_indexed == (e["index"] is not None)


def test_no_shuffle_in_plan(spark):
    fixtures = all_decomposable_fixtures()
    rows = [(name, _to_float_rings(r)) for name, r in fixtures.items()]
    df = spark.createDataFrame(rows, POLYGONS_SCHEMA)
    plan = decompose_polygons(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # decomposition must not shuffle


def test_on_error_skip(spark):
    rows = [
        ("good", _to_float_rings([[[0, 0], [2, 0], [0, 2], [2, 2], [0, 0]]])),
        ("bad-dup", _to_float_rings([[[0, 0], [2, 0], [1, 1], [0, 2], [1, 3], [2, 2], [1, 1], [0, 0]]])),
    ]
    df = spark.createDataFrame(rows, POLYGONS_SCHEMA)
    out = decompose_polygons(df, on_error="skip").collect()
    assert {r.polygon_id for r in out} == {"good"}


def test_validate_polygons_routes_dirty_data(spark):
    from simplepolygon_spark.operators.decompose import (
        POLYGONS_SCHEMA,
        decompose_polygons,
        validate_polygons,
    )

    good = [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]]
    dup = [[[0.0, 0.0], [2.0, 0.0], [1.0, 1.0], [0.0, 2.0], [1.0, 3.0], [2.0, 2.0], [1.0, 1.0], [0.0, 0.0]]]
    short = [[[0.0, 0.0], [1.0, 1.0]]]
    badpos = [[[0.0, 0.0], [2.0], [2.0, 2.0], [0.0, 2.0]]]  # 1-coord position
    nullxy = [[[0.0, 0.0], [2.0, None], [2.0, 2.0], [0.0, 2.0]]]  # NULL coordinate
    nanxy = [[[0.0, 0.0], [2.0, float("nan")], [2.0, 2.0], [0.0, 2.0]]]
    df = spark.createDataFrame(
        [("g", good), ("d", dup), ("s", short), ("n", None), ("e", []), ("p", badpos),
         ("z", nullxy), ("i", nanxy)],
        POLYGONS_SCHEMA,
    )
    v = {r.polygon_id: r for r in validate_polygons(df).collect()}
    assert len(v) == 8
    assert v["g"].ok and v["g"].error is None
    assert v["e"].ok and v["e"].error is None  # [] = empty FC, valid
    assert not v["d"].ok and "duplicate vertices" in v["d"].error
    assert not v["s"].ok and "at least 3 vertices" in v["s"].error
    assert not v["n"].ok and "non-empty geometry" in v["n"].error
    assert not v["p"].ok and "at least 2 coordinates" in v["p"].error
    assert not v["z"].ok and "2 finite coordinates" in v["z"].error
    assert not v["i"].ok and "2 finite coordinates" in v["i"].error
    # every reject is typed, so skip drops them all
    skipped = decompose_polygons(df, on_error="skip").collect()
    assert {r.polygon_id for r in skipped} == {"g"}
    # the documented routing: rejects quarantined, the rest decompose clean
    from pyspark.sql import functions as F

    clean = df.join(
        validate_polygons(df).where("ok").select("polygon_id"), "polygon_id", "left_semi"
    )
    rows = decompose_polygons(clean, on_error="raise").collect()
    assert {r.polygon_id for r in rows} == {"g"}  # "e" is valid but yields 0 rows
