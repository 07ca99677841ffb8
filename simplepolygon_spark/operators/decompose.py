"""Distributed ring decomposition operator.

Runs the per-polygon kernel (``simplepolygon_spark.decompose``, parity
with the reference's src/index.ts:39-533) over a DataFrame of polygons
with one ``mapInArrow`` pass.  Decomposition needs no shuffle because
each row already holds a whole polygon, so each Arrow batch is processed
where it sits.  Parallelism = input partitions; use ``repartition``
upstream only if the source produced few or skewed splits.

Each batch's ``rings`` column is read with ``to_pylist``: a NULL cell
reaches the kernel as ``None`` (its typed "non-empty geometry" error),
``rings = []`` as an empty list, and a NULL ring, position or coordinate
as ``None`` inside it, each rejected by the kernel's typed checks.
``decompose_polygons`` and ``validate_polygons`` share the per-row loop
(``_decomposed_rows``); each input batch gives one output batch.  The
output is assembled on buffers (``geom.numpy_to_arrow``): ``polygon_id``
is a take from the input column, ``coords`` one flat float64 buffer
under two list offsets, so the worker never imports pandas.

Schemas
-------
input:  polygon_id string, rings array<array<array<double>>>
        (GeoJSON coordinate nesting: rings → positions → [x, y])
output: polygon_id string, ring_index int, parent int, winding int,
        net_winding int, is_indexed boolean, coords array<array<double>>
        (is_indexed=False marks the zero-intersection fast path, whose
        output carries no `index` property in the reference — quirk Q3)
"""

from __future__ import annotations

from itertools import chain

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..geom import numpy_to_arrow

RINGS_TYPE = ArrayType(ArrayType(ArrayType(DoubleType())))

POLYGONS_SCHEMA = StructType(
    [
        StructField("polygon_id", StringType()),
        StructField("rings", RINGS_TYPE),
    ]
)

RINGS_OUT_SCHEMA = StructType(
    [
        StructField("polygon_id", StringType()),
        StructField("ring_index", IntegerType()),
        StructField("parent", IntegerType()),
        StructField("winding", IntegerType()),
        StructField("net_winding", IntegerType()),
        StructField("is_indexed", BooleanType()),
        StructField("coords", ArrayType(ArrayType(DoubleType()))),
    ]
)

VALIDATE_SCHEMA = StructType(
    [
        StructField("polygon_id", StringType()),
        StructField("ok", BooleanType()),
        StructField("error", StringType()),
    ]
)


def _decomposed_rows(batch: pa.RecordBatch, max_vertices: int | None):
    """The features, or the exception, of each row of a batch.

    ``max_vertices`` (opt-in) caps per-polygon cost: a pathological
    mega-polygon is one task, so without a cap it can occupy an executor
    for hours.  The vertex count is the cheap static proxy (crossing
    blow-up is already bounded by the sweep's pair cap inside the
    kernel); NULL ring elements are not counted, so the kernel still
    gives them its typed error.  An over-cap row never reaches the
    kernel."""
    # imported lazily so the worker imports the kernel, not the operator
    from simplepolygon_spark.decompose import DecomposeError, decompose

    for rings in batch.column("rings").to_pylist():
        try:
            if (
                max_vertices is not None
                and rings is not None
                and (nv := sum(len(r) for r in rings if r is not None)) > max_vertices
            ):
                raise DecomposeError(
                    f"polygon exceeds max_vertices cap ({nv} > {max_vertices}): "
                    "routed to skip/report instead of occupying an executor"
                )
            result = decompose(rings)
        except Exception as e:
            result = e
        yield result


def _rings_batch(pid: pa.Array, counts: np.ndarray, feats: list, schema: pa.Schema) -> pa.RecordBatch:
    """The rings_out batch of ``feats``: ``counts[r]`` features, in
    order, of input row r, whose id is ``pid[r]``."""
    n = len(feats)
    row = np.repeat(np.arange(len(counts)), counts)
    ring_index = np.arange(n) - np.repeat(np.cumsum(counts) - counts, counts)
    ring_off = np.zeros(n + 1, np.int32)
    np.cumsum(np.fromiter((len(f["coords"]) for f in feats), np.int64, n), out=ring_off[1:])
    # every position is an [x, y] pair of Python floats
    xy = np.fromiter(
        chain.from_iterable(chain.from_iterable(f["coords"] for f in feats)), np.float64, 2 * int(ring_off[-1])
    )
    positions = pa.ListArray.from_arrays(
        numpy_to_arrow(np.arange(0, len(xy) + 1, 2, dtype=np.int32)), numpy_to_arrow(xy)
    )
    coords = pa.ListArray.from_arrays(numpy_to_arrow(ring_off), positions)

    def ints(key):
        return numpy_to_arrow(np.fromiter((f[key] for f in feats), np.int32, n))

    return pa.RecordBatch.from_arrays(
        [
            pid.take(numpy_to_arrow(row)).cast(pa.string()),
            numpy_to_arrow(ring_index.astype(np.int32)),
            ints("parent"),
            ints("winding"),
            ints("net_winding"),
            numpy_to_arrow(np.fromiter((f["index"] is not None for f in feats), bool, n)),
            coords.cast(schema.field("coords").type),
        ],
        schema=schema,
    )


def decompose_polygons(
    polygons: DataFrame,
    on_error: str = "raise",
    max_vertices: int | None = None,
) -> DataFrame:
    """polygons(polygon_id, rings) → rings_out (one row per simple ring).

    ``on_error='raise'`` fails the job on any error; ``on_error='skip'``
    drops polygons the kernel rejects with its typed ``DecomposeError``
    (NULL geometry, duplicate vertices, ...) and still fails on anything
    else.  The scale-friendly route for dirty data is to split rejects
    off with ``validate_polygons`` first.

    A ``rings=[]`` input (the reference's empty FeatureCollection)
    yields no rows.

    ``max_vertices`` (opt-in): over-cap rows raise the typed "exceeds
    max_vertices cap" error — skipped under ``on_error='skip'``,
    reported (not raised) by ``validate_polygons(max_vertices=...)`` for
    quarantine routing.
    """
    if on_error not in ("skip", "raise"):
        raise ValueError(f"on_error must be 'skip' or 'raise', got {on_error!r}")
    schema = to_arrow_schema(RINGS_OUT_SCHEMA)

    def run(batches):
        from simplepolygon_spark.decompose import DecomposeError

        for batch in batches:
            counts = np.zeros(batch.num_rows, np.int64)
            out = []
            for r, feats in enumerate(_decomposed_rows(batch, max_vertices)):
                if isinstance(feats, Exception):
                    if on_error == "raise" or not isinstance(feats, DecomposeError):
                        raise feats
                    continue
                counts[r] = len(feats)
                out.extend(feats)
            yield _rings_batch(batch.column("polygon_id"), counts, out, schema)

    return polygons.select("polygon_id", "rings").mapInArrow(run, RINGS_OUT_SCHEMA)


def validate_polygons(
    polygons: DataFrame, max_vertices: int | None = None
) -> DataFrame:
    """Dry-run validation: (polygon_id, ok, error) — one row per input
    polygon, never failing the job.  ``error`` carries the
    reference-parity message (duplicate vertices, degenerate ring,
    coincident crossings, ...) or NULL when the polygon decomposes
    cleanly.  Use it to ROUTE dirty data — rejects to a quarantine
    sink, the rest through ``decompose_polygons(on_error='raise')``.

    Validity is defined as "the decompose kernel accepts it", so this
    runs the full kernel and discards the rings — the only definition
    that cannot drift from the real pipeline (walk-time rejections like
    coincident crossings are undetectable by cheap static checks).  An
    error outside the kernel's typed ones is reported as
    ``"{Class}: message"`` so the quarantine sink can triage it.

    ``max_vertices`` (opt-in, matching ``decompose_polygons``): a
    polygon over the cap is REPORTED (ok=False, "exceeds max_vertices
    cap") without running the kernel at all — the whole point is that
    the oversized row must not cost kernel time here either.
    """
    schema = to_arrow_schema(VALIDATE_SCHEMA)

    def run(batches):
        from simplepolygon_spark.decompose import DecomposeError

        for batch in batches:
            errs = []
            for feats in _decomposed_rows(batch, max_vertices):
                if not isinstance(feats, Exception):
                    errs.append(None)
                elif isinstance(feats, DecomposeError):
                    errs.append(str(feats))
                else:
                    errs.append(f"{type(feats).__name__}: {feats}")
            oks = np.fromiter((e is None for e in errs), bool, len(errs))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("polygon_id").cast(pa.string()),
                    numpy_to_arrow(oks),
                    numpy_to_arrow(errs, pa.string()),
                ],
                schema=schema,
            )

    return polygons.select("polygon_id", "rings").mapInArrow(run, VALIDATE_SCHEMA)
