"""Bucketed co-located joins."""

from __future__ import annotations

from pyspark.sql import functions as F

from simplepolygon_spark.plans.bucketing import colocated_join, write_bucketed
from simplepolygon_spark.sources.images import images_df


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    imgs = images_df(spark, 500, partitions=4, with_bytes=False).select(
        "image_id", "lon", "lat", "phash"
    )
    feats = imgs.select("image_id", (F.col("phash") % 7).alias("f"))
    write_bucketed(imgs, "imgs_b", ["image_id"], 8, sort_cols=["image_id"], path=str(tmp_path / "imgs_b"))
    write_bucketed(feats, "feats_b", ["image_id"], 8, sort_cols=["image_id"], path=str(tmp_path / "feats_b"))

    # at test scale Catalyst would broadcast (also shuffle-free, but it
    # hides the bucketing); force the sort-merge path a 100 TB join takes
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = colocated_join(spark, "imgs_b", "feats_b", ["image_id"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle
        assert j.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
