"""simplepolygon_spark — a PySpark-native spatial-join + tiling engine.

The polygon layer reimplements the ring decomposition of
mclaeysb/simplepolygon (v2.0.4) from scratch as numpy kernels
dispatched through Arrow batches (``mapInArrow``); the join layer adds quadkey cell-cover tiling, point-in-polygon / kNN joins,
raster<->vector crosswalk, dedup / similarity operators, lineage
checkpointing, and a deterministic image payload codec.

Layout:
  geom.py        pure-numpy geometry kernels (no Spark imports)
  decompose.py   per-polygon ring decomposition (reference-parity semantics)
  operators/     Spark DataFrame operators (decompose, cells, joins, dedup,
                 ...)
  sources/       deterministic synthetic sources (images, footprints, fixtures)
  functions/     column-expression helpers (JVM-side, codegen-friendly)
  plans/         end-to-end pipelines + lineage/resume
  session.py     SparkSession factory + register_tables (spark.sql surface)
"""

__version__ = "0.1.0"

from .decompose import DecomposeError, decompose, simplepolygon  # noqa: E402,F401
