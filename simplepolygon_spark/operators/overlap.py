"""Polygon ↔ polygon overlap join — the classic spatial join over two
ring layers ("which footprints intersect which zones").

Shape: both layers are covered with FULL/PARTIAL Morton ranges
(``crosswalk.covers_df`` — the one cover kernel every spatial operator
here shares), ranges melt onto coarse Morton BUCKETS and equi-join
there, nested-range logic accepts pairs a covering cell already proves
(the larger range FULL ⇒ the smaller cell's region lies in its
interior), and only the surviving candidates run the exact
``geom.rings_overlap`` predicate — proper cross-edge crossings via the
decomposition's own discovery kernel plus strict containment probes.

Scale: no all-pairs anywhere — candidates exist only where covers share
a bucket; the cover rows are ~cells-per-ring × 40 B; the only data
wider than ids in motion is the candidate pairs' coordinate arrays,
pulled once for refine-needing pairs only.  Hot buckets (a dense city
block) are equi-join keys AQE can split; cover_level trades candidate
precision against cover size exactly as in the PIP join.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cells import MAX_LEVEL
from ..geom import numpy_to_arrow, ring_mats, rings_overlap
from .crosswalk import bucketed_cover_spans, covers_df


def derive_bucket_level(cov_a: DataFrame, cov_b: DataFrame) -> int:
    """Pick the bucket melt level from the cover-range SPAN histogram
    (one small aggregate over both cover frames) instead of a fixed
    constant: a bucket sized to the MEDIAN range span keeps ranges per
    (ring, bucket) near 1 — the property the hand-tuned level-8 default
    bought on one dataset (commit 96199b0) — for ANY layer extent and
    cell mix, so a dense small-extent layer can't silently re-create
    the >100M-row candidate blowup a too-coarse bucket causes, and the
    melt explode of the single widest range stays bounded (≤ ~4³
    buckets) via the max-span cap.  Purely a performance knob: any
    overlapping range pair shares its common cell's bucket at EVERY
    level, so the candidate set after the range-overlap filter — and
    therefore the join result — is level-invariant."""
    row = (
        cov_a.select((F.col("hi") - F.col("lo") + F.lit(1)).alias("span"))
        .unionAll(
            cov_b.select((F.col("hi") - F.col("lo") + F.lit(1)).alias("span"))
        )
        .agg(
            # exact percentile keeps one counter per DISTINCT span.  A
            # single cover cell spans a power of 4, but cover_rings merges
            # adjacent same-flag cells, so a span is any multiple of the
            # finest cell's 4**(MAX_LEVEL - cover_level): at most
            # 4**cover_level distinct values, independent of row count
            F.expr("percentile(span, 0.5)").alias("med"),
            F.max("span").alias("mx"),
        )
        .first()
    )
    if row is None or row["med"] is None:
        return 8  # empty cover: the historical default, nothing to melt

    def finest_level_with_bucket_at_least(span: float) -> int:
        # bucket at level L holds 4**(MAX_LEVEL - L) max-level cells
        return MAX_LEVEL - max(0, math.ceil(math.log(max(span, 1.0), 4)))

    l_fine = finest_level_with_bucket_at_least(row["med"])
    l_explode_cap = finest_level_with_bucket_at_least(float(row["mx"])) + 3
    return max(2, min(l_fine, l_explode_cap, MAX_LEVEL))


def overlap_join(
    rings_a: DataFrame,
    rings_b: DataFrame,
    cover_level: int = 10,
) -> DataFrame:
    """(a_polygon_id, a_ring_index, b_polygon_id, b_ring_index): every
    pair whose ring INTERIORS intersect (``geom.rings_overlap``
    contract: touch-only contacts excluded).  Both inputs are
    rings_out-shaped frames (polygon_id, ring_index, coords) — e.g. two
    decomposed footprint layers.

    Candidate logic on nested Morton ranges (ranges of cover cells
    either nest or are disjoint): a candidate is any bucket-sharing,
    range-overlapping cover pair; it is ACCEPTED without geometry when
    the LARGER (containing) range is FULL — the smaller cell's region
    then lies inside the larger ring's interior while carrying boundary
    or interior of the smaller ring, so the interiors provably meet.
    (The converse — smaller range FULL, larger PARTIAL — proves
    nothing: the larger ring's boundary crosses its own big cell
    somewhere, not necessarily inside the small region.)  Everything
    else refines with the exact kernel, coordinates pulled for those
    pairs only.

    The bucket melt level comes from the cover-range span histogram
    (``derive_bucket_level``), so the bucket granularity tracks the
    layer's actual cell mix instead of a constant tuned to one dataset.
    The covers are persisted for the duration of the candidate job so
    the histogram pass doesn't recompute the cover kernel."""
    cov_a = covers_df(rings_a, cover_level, MAX_LEVEL).persist()
    cov_b = covers_df(rings_b, cover_level, MAX_LEVEL).persist()
    ids = ["a_polygon_id", "a_ring_index", "b_polygon_id", "b_ring_index"]
    a_contains = (F.col("a_lo") <= F.col("b_lo")) & (
        F.col("a_hi") >= F.col("b_hi")
    )
    b_contains = (F.col("b_lo") <= F.col("a_lo")) & (
        F.col("b_hi") >= F.col("a_hi")
    )
    try:
        bucket_level = derive_bucket_level(cov_a, cov_b)
        ca, cb = (
            bucketed_cover_spans(cov, bucket_level, MAX_LEVEL).select(
                "bucket",
                *(
                    F.col(c).alias(f"{side}_{c}")
                    for c in ("polygon_id", "ring_index", "lo", "hi", "full")
                ),
            )
            for cov, side in ((cov_a, "a"), (cov_b, "b"))
        )
        cand = (
            ca.join(cb, "bucket")
            .where(
                (F.col("a_lo") <= F.col("b_hi"))
                & (F.col("b_lo") <= F.col("a_hi"))
            )
            .select(
                *ids,
                (
                    (a_contains & (F.col("a_full") == 1))
                    | (b_contains & (F.col("b_full") == 1))
                ).alias("accept"),
            )
            .groupBy(*ids)
            .agg(F.max("accept").alias("accept"))
            # one row per candidate PAIR (tiny vs covers) — materialize
            # so the accepted branch and the refine branch don't each
            # re-run the two cover passes and the bucket join
            .localCheckpoint(eager=True)
        )
    finally:
        # no persisted cover outlives the call, on any exit path
        cov_a.unpersist()
        cov_b.unpersist()
    accepted = cand.where("accept").select(*ids)

    need = cand.where(~F.col("accept")).select(*ids)
    wa = rings_a.select(
        F.col("polygon_id").alias("a_polygon_id"),
        F.col("ring_index").alias("a_ring_index"),
        F.col("coords").alias("a_coords"),
    )
    wb = rings_b.select(
        F.col("polygon_id").alias("b_polygon_id"),
        F.col("ring_index").alias("b_ring_index"),
        F.col("coords").alias("b_coords"),
    )
    paired = need.join(wa, ["a_polygon_id", "a_ring_index"]).join(
        wb, ["b_polygon_id", "b_ring_index"]
    )

    schema = (
        "a_polygon_id string, a_ring_index int, "
        "b_polygon_id string, b_ring_index int, hit boolean"
    )

    def refine(batches):
        for batch in batches:
            pa_pts, pa_off = ring_mats(batch.column("a_coords"))
            pb_pts, pb_off = ring_mats(batch.column("b_coords"))
            hits = np.fromiter(
                (
                    rings_overlap(
                        pa_pts[pa_off[i] : pa_off[i + 1]],
                        pb_pts[pb_off[i] : pb_off[i + 1]],
                    )
                    for i in range(batch.num_rows)
                ),
                bool,
                batch.num_rows,
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("a_polygon_id"),
                    batch.column("a_ring_index"),
                    batch.column("b_polygon_id"),
                    batch.column("b_ring_index"),
                    numpy_to_arrow(hits),
                ],
                names=[
                    "a_polygon_id",
                    "a_ring_index",
                    "b_polygon_id",
                    "b_ring_index",
                    "hit",
                ],
            )

    refined = (
        paired.mapInArrow(refine, schema).where("hit").select(*ids)
    )
    return accepted.unionByName(refined)


def overlap_self(rings: DataFrame, **kwargs) -> DataFrame:
    """(a_polygon_id, a_ring_index, b_polygon_id, b_ring_index): every
    UNORDERED pair of DISTINCT rings within one layer whose interiors
    intersect — the layer-QA query ("which footprints in this delivery
    overlap each other").  ``overlap_join`` of the layer with itself,
    keeping each pair once under (polygon_id, ring_index) order and
    dropping the identity pairs the self-join trivially produces.
    Same kwargs and cost shape as ``overlap_join``."""
    out = overlap_join(rings, rings, **kwargs)
    return out.where(
        (F.col("a_polygon_id") < F.col("b_polygon_id"))
        | (
            (F.col("a_polygon_id") == F.col("b_polygon_id"))
            & (F.col("a_ring_index") < F.col("b_ring_index"))
        )
    )
