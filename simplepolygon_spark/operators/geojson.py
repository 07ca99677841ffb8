"""GeoJSON string API — the reference's exact interface, columnar.

A user of the reference calls ``simplepolygon(feature)`` with a GeoJSON
``Feature<Polygon>`` and gets a ``FeatureCollection<Polygon>`` back
(reference src/index.ts:39-41).  These operators give the same contract
over DataFrame columns:

  parse_geojson_features  — geojson string column → (id, rings) via JVM
                            ``from_json`` (schema-checked; non-Feature,
                            geometry-less and non-Polygon rows raise with
                            the reference's messages)
  decompose_geojson       — geojson strings in → one FeatureCollection
                            JSON string per input row

``decompose_geojson`` is one ``mapInArrow`` over the parsed rows.  Each
row holds a whole polygon, so ``decompose.simplepolygon`` — the
single-feature form, and the package's only FeatureCollection assembly —
runs on it where it sits: no shuffle, and no polygon can straddle an
Arrow batch.
"""

from __future__ import annotations

import json

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from ..geom import numpy_to_arrow

GEOJSON_GEOM_SCHEMA = (
    "STRUCT<type: STRING, geometry: STRUCT<type: STRING, "
    "coordinates: ARRAY<ARRAY<ARRAY<DOUBLE>>>>>"
)

# ids compare exactly in these types; a float or nested id is refused
_ID_TYPES = (StringType, ByteType, ShortType, IntegerType, LongType, BooleanType)


def parse_geojson_features(
    df: DataFrame, geojson_col: str = "geojson", id_col: str = "polygon_id"
) -> DataFrame:
    """geojson string column → (id_col, rings) for decompose_polygons.

    Validation parity with the reference's src/index.ts:42-48: non-Feature,
    missing geometry, and non-Polygon rows raise with the reference's
    error messages.
    """
    parsed = df.select(
        F.col(id_col),
        F.from_json(F.col(geojson_col), GEOJSON_GEOM_SCHEMA).alias("f"),
    )
    # the checks live INSIDE the rings column — a separate error column
    # would be pruned away by Catalyst and never evaluated
    rings = (
        F.when(
            (F.col("f.type").isNull()) | (F.col("f.type") != "Feature"),
            F.raise_error(F.lit("The input must a geojson object of type Feature")).cast(
                "array<array<array<double>>>"
            ),
        )
        .when(
            F.col("f.geometry").isNull(),
            F.raise_error(
                F.lit("The input must a geojson object with a non-empty geometry")
            ).cast("array<array<array<double>>>"),
        )
        .when(
            F.col("f.geometry.type") != "Polygon",
            F.raise_error(F.lit("The input must be a geojson Polygon")).cast(
                "array<array<array<double>>>"
            ),
        )
        .otherwise(F.col("f.geometry.coordinates"))
    )
    return parsed.select(id_col, rings.alias("rings"))


def decompose_geojson(
    df: DataFrame, geojson_col: str = "geojson", id_col: str = "polygon_id"
) -> DataFrame:
    """(id, geojson Feature string) → (id, feature_collection string).

    Each row's ``feature_collection`` is ``json.dumps(simplepolygon(f))``
    of its Feature ``f``: one-ring Polygons with properties {index?,
    parent, winding, netWinding}, ``index`` omitted on the fast path
    (Q3), and ``{"type": "FeatureCollection", "features": []}`` for
    ``coordinates: []``.  JSON numbers are parsed as doubles, so integer
    coordinates come back as ``2.0``.  A Feature the kernel rejects
    fails the job with its ``DecomposeError`` message.

    ``id_col`` passes through untouched, in the caller's type, which
    must be string or integral (boolean included).

    DUPLICATE-ID CONTRACT: one output row per input row, as the
    reference gives one FeatureCollection per call.  Ids are labels,
    not keys: two rows under one id give two rows, each its own
    Feature's FeatureCollection.
    """
    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, _ID_TYPES):
        raise TypeError(
            f"decompose_geojson: id column {id_col!r} must be string or "
            f"integral, got {id_type.simpleString()}"
        )
    schema = StructType(
        [StructField(id_col, id_type), StructField("feature_collection", StringType())]
    )

    def run(batches):
        # imported lazily so the worker imports the kernel, not the operator
        from simplepolygon_spark.decompose import simplepolygon

        for batch in batches:
            fcs = []
            for rings in batch.column(1).to_pylist():
                feature = {"type": "Feature", "geometry": {"type": "Polygon", "coordinates": rings}}
                fcs.append(json.dumps(simplepolygon(feature)))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), numpy_to_arrow(fcs, pa.string())],
                names=[id_col, "feature_collection"],
            )

    return parse_geojson_features(df, geojson_col, id_col).mapInArrow(run, schema)
