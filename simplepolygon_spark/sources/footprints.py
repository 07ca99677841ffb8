"""Deterministic footprint layer: fixture polygons replicated on a grid
(FIXTURES.md §3) so the spatial join has real fan-out.

Each decomposable fixture is normalized to a unit box, then instanced at
every (gx, gy) of a G×G grid scaled onto the lon/lat window — giving
G²×|fixtures| footprints whose decomposition exercises every code path
(crossings, holes, children) at every grid location.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from ..operators.decompose import POLYGONS_SCHEMA
from .fixtures import all_decomposable_fixtures

WINDOW = (-170.0, -80.0, 170.0, 80.0)  # lon0, lat0, lon1, lat1


def _normalize(rings: list) -> list:
    pts = np.array([p for r in rings for p in r], dtype=np.float64)
    mn = pts.min(axis=0)
    span = (pts.max(axis=0) - mn)
    span[span == 0] = 1.0
    return [[((np.asarray(p, np.float64) - mn) / span).tolist() for p in r] for r in rings]


def footprint_rows(grid: int = 4, fixtures: dict | None = None) -> list[tuple]:
    """[(footprint_id, rings)] — deterministic, no RNG."""
    fixtures = fixtures or all_decomposable_fixtures()
    lon0, lat0, lon1, lat1 = WINDOW
    names = sorted(fixtures)
    cell_w = (lon1 - lon0) / grid
    cell_h = (lat1 - lat0) / grid
    rows = []
    for gy in range(grid):
        for gx in range(grid):
            name = names[(gy * grid + gx) % len(names)]
            unit = _normalize(fixtures[name])
            # 70% of the grid cell, centered — footprints never touch
            ox = lon0 + (gx + 0.15) * cell_w
            oy = lat0 + (gy + 0.15) * cell_h
            sx, sy = 0.7 * cell_w, 0.7 * cell_h
            rings = [
                [[ox + p[0] * sx, oy + p[1] * sy] for p in r] for r in unit
            ]
            rows.append((f"{name}@{gx},{gy}", rings))
    return rows


def footprints_df(spark: SparkSession, grid: int = 4) -> DataFrame:
    # an Arrow table plans a LocalTableScan: no Python RDD job builds the layer
    table = pa.table(list(zip(*footprint_rows(grid))), names=["polygon_id", "rings"])
    return spark.createDataFrame(table, POLYGONS_SCHEMA).repartition(
        max(spark.sparkContext.defaultParallelism, 4)
    )
