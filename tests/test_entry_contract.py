"""Mimics the driver's correctness gate: every queries() entry runs on
Spark at sf0.01; every oracle_sql() entry runs in DuckDB on the same
parquet; row counts, column names, and order-insensitive values must
match."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _rows_to_set(rows, colnames):
    return {tuple(_canon(v) for v in row) for row in rows}, list(colnames)


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_query_matches_oracle(spark, con, name):
    q = entrymod.queries()[name]
    df = q(spark, SF_DIR)
    spark_rows = [tuple(r) for r in df.collect()]
    spark_set, spark_cols = _rows_to_set(spark_rows, df.columns)

    res = con.execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_set, _ = _rows_to_set(res.fetchall(), duck_cols)

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names"
    assert len(spark_rows) == len(duck_set) or len(spark_set) == len(duck_set), (
        f"{name}: row counts {len(spark_rows)} vs {len(duck_set)}"
    )
    # align column order by name
    if spark_cols != duck_cols:
        idx = [spark_cols.index(c) for c in duck_cols]
        spark_set = {tuple(t[i] for i in idx) for t in spark_set}
    missing = duck_set - spark_set
    extra = spark_set - duck_set
    assert not missing and not extra, (
        f"{name}: {len(missing)} missing e.g. {sorted(missing)[:2]}, "
        f"{len(extra)} extra e.g. {sorted(extra)[:2]}"
    )


@pytest.mark.parametrize(
    "name", sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))
)
def test_rows_only_queries_run(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    rows = df.collect()
    assert rows is not None
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"polygon_id", "ring_index", "n_images"}
