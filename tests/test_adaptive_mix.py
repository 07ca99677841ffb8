"""adaptive_length_filter (per-group percentile length gate)."""

import pytest
from pyspark.sql import functions as F

from simplepolygon_spark.operators.text import adaptive_length_filter


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_adaptive_filter_drops_shortest_decile(spark):
    # token counts 1..10 in one lang; exact 0.1 percentile of [1..10]
    # is 1.9 (a+(b-a)*frac), so only the 1-token doc falls below it
    rows = [(i, "en", " ".join(["w"] * i)) for i in range(1, 11)]
    kept = adaptive_length_filter(_docs(spark, rows), frac=0.1).collect()
    assert sorted(r["doc_id"] for r in kept) == list(range(2, 11))
    assert all(abs(r["length_floor"] - 1.9) < 1e-12 for r in kept)


def test_adaptive_filter_per_group_floors_independent(spark):
    rows = [(i, "en", " ".join(["w"] * i)) for i in range(1, 11)] + [
        (100 + i, "de", " ".join(["w"] * (10 * i))) for i in range(1, 11)
    ]
    kept = adaptive_length_filter(_docs(spark, rows), frac=0.1)
    floors = {r["lang"]: r["length_floor"] for r in kept.collect()}
    assert abs(floors["en"] - 1.9) < 1e-12
    assert abs(floors["de"] - 19.0) < 1e-12  # 0.1 pct of [10,20..100]


def test_adaptive_filter_null_text_dropped(spark):
    rows = [(1, "en", "a b c"), (2, "en", None), (3, "en", "a b")]
    kept = adaptive_length_filter(_docs(spark, rows), frac=0.0).collect()
    assert sorted(r["doc_id"] for r in kept) == [1, 3]


def test_adaptive_filter_guards(spark):
    d = _docs(spark, [(1, "en", "x")])
    with pytest.raises(ValueError, match="frac"):
        adaptive_length_filter(d, frac=1.0)
    with pytest.raises(ValueError, match="already has column"):
        adaptive_length_filter(d.withColumn("n_tokens", F.lit(1)))


def test_adaptive_filter_corpus_side_broadcast(spark):
    d = _docs(spark, [(i, "en", "a b c") for i in range(20)])
    plan = (
        adaptive_length_filter(d)._jdf.queryExecution().executedPlan().toString()
    )
    # the per-group floors broadcast back; the corpus side must never
    # hash-shuffle for the join (the only exchange feeds the tiny agg)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    assert "SortMergeJoin" not in plan
