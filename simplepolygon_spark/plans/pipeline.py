"""The flagship spatial-join + tiling pipeline (SURVEY.md §3.4).

  images ──┬─ with_part_id ─ resume-filter ─ pip_join (broadcast index,
           │                                 mapInArrow, NO shuffle)
           │                                   │
           └──── per-ring aggregation (partial below ONE exchange) ──┐
                                               │                     │
                        write data + lineage (exact resume)          │
                                                            ring stats

Skew: the generator's hot cell concentrates ~10% of images onto a few
rings.  ``salted_ring_stats`` is one ``groupBy(ring)`` whose count and
bit-xor are decomposable, so Spark plans a map-side partial
``HashAggregate`` below the single ``Exchange``: each map task sends at
most one partial row per ring, and the hot ring reaches its reducer as
at most one row per map task however many images it holds.  That bound
is tighter than a salt column's 1/S split of the hot key, and costs no
second exchange.  The ``salted_`` name stays: callers (the benchmark,
``bench.py``, ``__spark_entry__.py``) import it under that name.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.tiling import pip_join
from .lineage import remaining, with_part_id, write_with_lineage


def salted_ring_stats(assignments: DataFrame) -> DataFrame:
    """(polygon_id, ring_index) → n_images, image_hash_xor (the bit-xor
    of the ring's ``xxhash64(image_id)``): one aggregation, one
    exchange, map-side partials (module docstring).  All JVM-side
    column ops."""
    return assignments.groupBy("polygon_id", "ring_index").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.bit_xor(F.xxhash64("image_id")).alias("image_hash_xor"),
    )


def run_pipeline(
    spark: SparkSession,
    images: DataFrame,
    index_bc,
    out_dir: str,
    run_id: str | None = None,
    num_parts: int = 64,
    fail_after_parts: int | None = None,
) -> DataFrame:
    """Resumable flagship run; returns the assignments DataFrame of the
    parts processed in *this* invocation.

    ``run_id`` defaults to a fresh uuid per invocation — the lineage
    commit-point argument (orphan data files from a crashed run stay
    invisible because their (part_id, run_id) never gets a lineage row)
    silently REQUIRES per-invocation-unique ids: resuming a crashed run
    under its old id would append a second copy into the same data
    partition and then commit both.  ``write_with_lineage`` additionally
    rejects a run_id that already appears in the lineage log.

    ``fail_after_parts`` (tests only) truncates the run to the first K
    remaining logical partitions — simulating executor/job loss so the
    kill/resume test can assert exact-resume equality.
    """
    if run_id is None:
        run_id = uuid.uuid4().hex[:12]
    imgs = with_part_id(images, "image_id", num_parts)
    todo = remaining(imgs, spark, out_dir)
    # one scan collects the todo part-id list; passing the raw
    # todo.select() into write_with_lineage would re-execute the whole
    # input pipeline a second time just to enumerate ids
    todo_ids = sorted(
        r.part_id for r in todo.select("part_id").distinct().collect()
    )
    if fail_after_parts is not None:
        todo_ids = todo_ids[:fail_after_parts]
        todo = todo.filter(F.col("part_id").isin(todo_ids))

    # part_id is a pure function of image_id — recompute on the output
    # instead of joining it back (saves a full shuffle join)
    asg = with_part_id(pip_join(todo, index_bc), "image_id", num_parts)
    write_with_lineage(asg, out_dir, run_id, todo_ids)
    return asg
