"""End-to-end GeoJSON string API: reference input JSON strings in,
FeatureCollection strings out, equal to the reference goldens
(geometry coordinates float64-exact, properties exact)."""

from __future__ import annotations

import json

import pytest

from simplepolygon_spark.decompose import simplepolygon
from simplepolygon_spark.operators.geojson import decompose_geojson
from simplepolygon_spark.sources.fixtures import (
    NORTH_STAR_FIXTURES,
    load_reference_fixture,
    reference_fixture_names,
)
from simplepolygon_spark.sources.footprints import footprint_rows


def _strip_style(feature):
    """Golden files embed test-harness style props (colorize(),
    /root/reference/test/index.test.ts:34-51) — engine parity covers the
    algorithmic properties."""
    keep = {"index", "parent", "winding", "netWinding"}
    return {
        "type": feature["type"],
        "properties": {k: v for k, v in feature["properties"].items() if k in keep},
        "geometry": feature["geometry"],
    }


def test_geojson_string_roundtrip_matches_goldens(spark):
    rows = []
    goldens = {}
    for name in reference_fixture_names():
        rings, gold = load_reference_fixture(name)
        feature = {
            "type": "Feature",
            "properties": {},
            "geometry": {"type": "Polygon", "coordinates": rings},
        }
        rows.append((name, json.dumps(feature)))
        goldens[name] = gold

    df = spark.createDataFrame(rows, "polygon_id string, geojson string")
    got = {r.polygon_id: json.loads(r.feature_collection)
           for r in decompose_geojson(df).collect()}

    for name, gold in goldens.items():
        mine = got[name]
        assert mine["type"] == "FeatureCollection"
        expect = [_strip_style(f) for f in gold["features"]]
        assert mine["features"] == expect, f"{name} mismatch"


def test_polygon_rings_straddle_arrow_batches(spark):
    """Regression: with mapInPandas assembly, a polygon whose rings
    straddled an Arrow batch boundary was emitted as TWO partial
    FeatureCollections.  Force 1-row batches so every multi-ring
    polygon straddles, and assert exactly one complete row each."""
    rows, expected_feats = [], {}
    for name in reference_fixture_names():
        rings, gold = load_reference_fixture(name)
        feature = {
            "type": "Feature",
            "properties": {},
            "geometry": {"type": "Polygon", "coordinates": rings},
        }
        rows.append((name, json.dumps(feature)))
        expected_feats[name] = len(gold["features"])

    df = spark.createDataFrame(rows, "polygon_id string, geojson string")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        out = decompose_geojson(df).collect()
    finally:
        spark.conf.set(key, old)

    assert len(out) == len(rows)  # one row per polygon, no splits
    for r in out:
        fc = json.loads(r.feature_collection)
        assert len(fc["features"]) == expected_feats[r.polygon_id]


def test_geojson_validation_errors(spark):
    bad = [
        ("not-feature", json.dumps({"type": "Point", "geometry": None})),
    ]
    df = spark.createDataFrame(bad, "polygon_id string, geojson string")
    from simplepolygon_spark.operators.geojson import parse_geojson_features

    with pytest.raises(Exception, match="type Feature"):
        parse_geojson_features(df).collect()


def test_integral_id_round_trips_and_bad_id_type_rejected(spark):
    """The Arrow kernel pins polygon_id to string; an integral id must
    be cast around the kernel and come back in the CALLER'S type, and a
    non-round-trippable id type must fail loudly at plan time, not as a
    worker-side ArrowTypeError."""
    import pytest

    feature = {
        "type": "Feature",
        "properties": {},
        "geometry": {
            "type": "Polygon",
            "coordinates": [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]],
        },
    }
    df = spark.createDataFrame(
        [(7, json.dumps(feature))], "polygon_id long, geojson string"
    )
    out = decompose_geojson(df)
    assert out.schema["polygon_id"].dataType.simpleString() == "bigint"
    rows = out.collect()
    assert len(rows) == 1 and rows[0].polygon_id == 7
    fc = json.loads(rows[0].feature_collection)
    assert len(fc["features"]) == 1

    bad = spark.createDataFrame(
        [(1.5, json.dumps(feature))], "polygon_id double, geojson string"
    )
    with pytest.raises(TypeError, match="must be string or integral"):
        decompose_geojson(bad)


def _feature(rings) -> str:
    """A Feature string with float coordinates, as ``from_json`` reads
    them, so the driver-side ``simplepolygon`` sees the same numbers."""
    coords = [[[float(x), float(y)] for x, y in ring] for ring in rings]
    return json.dumps(
        {"type": "Feature", "properties": {}, "geometry": {"type": "Polygon", "coordinates": coords}}
    )


def _expected(geojson: str) -> str:
    return json.dumps(simplepolygon(json.loads(geojson)))


def test_each_row_equals_simplepolygon_at_one_row_batches(spark):
    """Every output string is ``json.dumps(simplepolygon(feature))`` of
    its own input, with 1-row Arrow batches so no multi-ring polygon
    could be split across batches."""
    rows = [(name, _feature(rings)) for name, rings in NORTH_STAR_FIXTURES.items()]
    rows += [(pid, _feature(rings)) for pid, rings in footprint_rows(3)]
    rows.append(("empty", _feature([])))
    df = spark.createDataFrame(rows, "polygon_id string, geojson string")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        got = {r.polygon_id: r.feature_collection for r in decompose_geojson(df).collect()}
    finally:
        spark.conf.set(key, old)

    assert got == {pid: _expected(g) for pid, g in rows}
    assert json.loads(got["empty"]) == {"type": "FeatureCollection", "features": []}


def test_duplicate_ids_give_one_row_per_input(spark):
    """Ids are labels, not keys: each input row gets its own
    FeatureCollection, whatever id it shares."""
    rows = [
        ("x", _feature(NORTH_STAR_FIXTURES["banana"])),
        ("x", _feature(NORTH_STAR_FIXTURES["8-shape"])),
        ("y", _feature([])),
        ("y", _feature([])),
    ]
    df = spark.createDataFrame(rows, "polygon_id string, geojson string")
    got = sorted((r.polygon_id, r.feature_collection) for r in decompose_geojson(df).collect())
    assert got == sorted((pid, _expected(g)) for pid, g in rows)


def test_one_arrow_pass_and_no_shuffle(spark):
    rows = [(pid, _feature(rings)) for pid, rings in footprint_rows(2)]
    out = decompose_geojson(spark.createDataFrame(rows, "polygon_id string, geojson string"))
    assert len(out.collect()) == len(rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "Exchange" not in plan and "FlatMapGroupsInPandas" not in plan, plan
