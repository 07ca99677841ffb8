#!/usr/bin/env python
"""Engine benchmark — one JSON line on stdout (driver contract).

Headline queries: the flagship spatial-join + tiling path (decompose →
interval index → PIP join → salted agg) over 100k generated images and
a footprint grid (9216 polygons for decompose, 8×8 for the join dim
side), plus the operator families (kNN, crosswalk,
payload validation, interval join, salted agg, dedup, ANN) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

Env:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] cores (default 32)
  BENCH_IMAGES         image count for the spatial join (default 100000)

Scaling runs (local[3] vs local[12], N vs 4N cores) are produced by
scripts/scaling_bench.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_images = int(os.environ.get("BENCH_IMAGES", "100000"))

    from pyspark.sql import functions as F

    from simplepolygon_spark.session import get_spark
    from simplepolygon_spark.operators.decompose import decompose_polygons
    from simplepolygon_spark.operators.tiling import (
        broadcast_index,
        build_interval_index,
        pip_join,
    )
    from simplepolygon_spark.operators.knn import knn_join
    from simplepolygon_spark.operators.crosswalk import crosswalk
    from simplepolygon_spark.operators.payload import validate_payload
    from simplepolygon_spark.plans.pipeline import salted_ring_stats
    from simplepolygon_spark.sources.footprints import footprints_df
    from simplepolygon_spark.sources.images import images_df
    import __spark_entry__ as entrymod

    spark = get_spark("bench", parallelism=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    repeats = int(os.environ.get("BENCH_REPEATS", "3"))

    def timed(name, fn):
        # this virtualized host shows time-varying interference
        # (hypervisor steal inflates runs up to 3x minutes apart);
        # min-of-N is the least-contended estimate (timeit rationale).
        # The per-query spread (max/min - 1 across repeats) is reported
        # alongside so round-over-round drifts are attributable: a query
        # whose own spread is 0.4 moving 25% between rounds is host
        # noise, not a plan change (VERDICT r2 item 9).
        samples, out = [], None
        for _ in range(repeats):
            t0 = time.perf_counter()
            out = fn()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 3)
        spreads[name] = round(max(samples) / min(samples) - 1.0, 3)
        return out

    # --- flagship: spatial join + tiling over generated images ---------
    # materialize footprints to parquet first (untimed) so "decompose"
    # measures the operator, not driver-side createDataFrame conversion
    import tempfile

    fp_dir = os.path.join(tempfile.gettempdir(), "bench_footprints")
    footprints_df(spark, grid=96).write.mode("overwrite").parquet(fp_dir)
    fp = spark.read.parquet(fp_dir)
    decompose_polygons(fp).count()  # warm the python workers
    n_polygons = fp.count()
    # fresh plan per repeat — a persisted DF would make repeat 2 a
    # cache read, not a decomposition
    timed("decompose", lambda: decompose_polygons(fp).count())
    # sustained throughput: the 9216-polygon run above is dominated by
    # the ~0.5-1s local-mode job floor (marginal rate measured 5-7x the
    # small-run headline) — size a second run to amortize it, and take
    # polygons/sec from THAT
    fp_big_dir = os.path.join(tempfile.gettempdir(), "bench_footprints_big")
    footprints_df(spark, grid=384).write.mode("overwrite").parquet(fp_big_dir)
    fp_big = spark.read.parquet(fp_big_dir)
    n_polygons_big = fp_big.count()
    timed("decompose_sustained", lambda: decompose_polygons(fp_big).count())
    # the join index uses a smaller grid (the dim side stays broadcastable)
    rings_df8 = decompose_polygons(footprints_df(spark, grid=8)).persist()
    rings_df8.count()
    index = timed(
        "build_index", lambda: build_interval_index(rings_df8, cover_level=10)
    )
    bc = broadcast_index(spark, index)

    imgs = images_df(spark, n_images, partitions=2 * cpus, with_bytes=False).cache()
    imgs.count()  # materialize outside the timed join

    n_assign = timed("pip_join", lambda: pip_join(imgs, bc).count())
    timed(
        "ring_stats",
        lambda: salted_ring_stats(pip_join(imgs, bc)).count(),
    )
    timed("knn", lambda: knn_join(imgs, bc, k=3).count())
    timed("crosswalk", lambda: crosswalk(imgs.limit(20000), bc, level=12).count())

    imgs_bytes = images_df(spark, 20000, partitions=2 * cpus, with_bytes=True).cache()
    imgs_bytes.count()
    timed(
        "payload_validate",
        lambda: validate_payload(imgs_bytes)
        .where((F.col("psnr_db") < 40) | ~F.col("caption_ok"))
        .count(),
    )
    from simplepolygon_spark.operators.fused import validate_and_assign

    timed(
        "fused_validate_assign",
        lambda: validate_and_assign(imgs_bytes, bc)
        .where((F.col("psnr_db") < 40) | ~F.col("caption_ok"))
        .count(),
    )
    # ring×ring overlap join: a decomposed grid layer vs a copy shifted
    # by half a cell — each ring overlaps ~4 of the other layer
    from simplepolygon_spark.operators.overlap import overlap_join

    rings_a = decompose_polygons(footprints_df(spark, grid=24)).persist()
    n_ov_rings = rings_a.count()
    half = 360.0 / 24 / 2.0
    rings_b = rings_a.select(
        "polygon_id",
        "ring_index",
        F.transform(
            "coords",
            lambda c: F.array(
                c[0] + F.lit(half), c[1] + F.lit(half / 2.0)
            ),
        ).alias("coords"),
    )
    timed(
        "overlap_join",
        lambda: overlap_join(rings_a, rings_b, cover_level=8).count(),
    )
    rings_a.unpersist()

    imgs_bytes.unpersist()
    imgs.unpersist()

    # --- operator families over the driver testdata --------------------
    Q = entrymod.queries()
    for name in (
        "minhash_pairs",
        "cosine_topk",
        "embedding_dups",
        "embedding_dups_lsh",
        "ngram_jaccard_lsh",
        "canonical",
        "covariance",
        "quantize",
    ):
        timed(name, lambda name=name: Q[name](spark, sf_dir).count())

    total = round(sum(timings.values()), 3)
    join_secs = timings["pip_join"]
    print(
        json.dumps(
            {
                "metric": "spatial-join+tiling and operator suite wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "spread": spreads,
                "sf": sf_dir.rstrip("/").split("sf")[-1],
                "images": n_images,
                "assignments": n_assign,
                "images_per_sec": round(n_images / join_secs, 1) if join_secs else None,
                "polygons_per_sec": round(
                    n_polygons_big / timings["decompose_sustained"], 1
                ),
                "polygons_small_run": n_polygons,
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
