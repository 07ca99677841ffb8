"""Temporal operators: sessionization and the as-of join — boundary
conventions, tie-breaks, NULL guards, and plan shape."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from simplepolygon_spark.operators.temporal import (
    asof_join,
    gap_micros,
    session_stats,
    sessionize,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(spark, rows):
    """rows: (event_id, user_id, seconds_after_T0_or_None, value)."""
    data = [
        (i, u, None if s is None else T0 + dt.timedelta(seconds=s), float(v))
        for (i, u, s, v) in rows
    ]
    return spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp, value double"
    )


# ---------------------------------------------------------------------------
# sessionize
# ---------------------------------------------------------------------------


def test_session_boundary_exactly_gap_opens_new_session(spark):
    # delta == gap  -> NEW session (matches session_window's half-open
    # [ts, ts+gap) convention); delta == gap - 1us -> same session
    ev = _ev(spark, [(1, 7, 0, 1.0), (2, 7, 60, 1.0)])
    seqs = {
        r.event_id: r.session_seq
        for r in sessionize(ev, gap="60 seconds").collect()
    }
    assert seqs == {1: 1, 2: 2}
    ev2 = _ev(spark, [(1, 7, 0, 1.0)]).union(
        _ev(spark, [(2, 7, 0, 1.0)]).withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 59.999999 SECONDS")
        )
    )
    seqs2 = {
        r.event_id: r.session_seq
        for r in sessionize(ev2, gap="60 seconds").collect()
    }
    assert seqs2 == {1: 1, 2: 1}


def test_sessionize_users_independent_and_stats(spark):
    ev = _ev(
        spark,
        [
            (1, 1, 0, 1.5),
            (2, 1, 30, 2.5),
            (3, 1, 7200, 4.0),
            (4, 2, 10, 8.0),
        ],
    )
    out = {
        (r.user_id, r.session_seq): r
        for r in session_stats(ev, gap="1 hour").collect()
    }
    assert set(out) == {(1, 1), (1, 2), (2, 1)}
    s11 = out[(1, 1)]
    assert s11.n_events == 2
    assert s11.sum_value_u == 4_000_000
    assert s11.session_end_us - s11.session_start_us == 30_000_000
    assert out[(1, 2)].n_events == 1


def test_sessionize_null_ts_raises(spark):
    ev = _ev(spark, [(1, 1, 0, 1.0), (2, 1, None, 1.0)])
    with pytest.raises(Exception, match="NULL ts"):
        sessionize(ev, gap="1 hour").collect()


def test_gap_micros_rejects_nonpositive():
    assert gap_micros("90 seconds") == 90_000_000
    with pytest.raises(ValueError):
        gap_micros("-5 minutes")


# ---------------------------------------------------------------------------
# asof_join
# ---------------------------------------------------------------------------


def test_asof_basic_latest_prior_wins(spark):
    left = _ev(spark, [(100, 1, 50, 0.0), (101, 1, 5, 0.0)])
    right = _ev(spark, [(1, 1, 10, 0.0), (2, 1, 40, 0.0), (3, 1, 60, 0.0)])
    got = {
        r.event_id: r.asof_event_id
        for r in asof_join(left, right, right_cols=("event_id",)).collect()
    }
    # at t=50 the latest prior click is t=40 (id 2); at t=5 there is none
    assert got == {100: 2, 101: None}


def test_asof_equal_ts_nonstrict_vs_strict(spark):
    left = _ev(spark, [(100, 1, 40, 0.0)])
    right = _ev(spark, [(1, 1, 10, 0.0), (2, 1, 40, 0.0)])
    non = asof_join(left, right, right_cols=("event_id",)).first()
    assert non.asof_event_id == 2  # ts == left.ts visible under <=
    st = asof_join(left, right, right_cols=("event_id",), strict=True).first()
    assert st.asof_event_id == 1  # hidden under <


def test_asof_tie_among_right_rows_takes_max_id(spark):
    left = _ev(spark, [(100, 1, 50, 0.0)])
    right = _ev(spark, [(5, 1, 40, 0.0), (9, 1, 40, 0.0), (7, 1, 40, 0.0)])
    assert (
        asof_join(left, right, right_cols=("event_id",)).first().asof_event_id
        == 9
    )


def test_asof_keys_do_not_leak_across_users(spark):
    left = _ev(spark, [(100, 1, 50, 0.0)])
    right = _ev(spark, [(1, 2, 10, 0.0)])  # other user only
    assert asof_join(left, right, right_cols=("event_id",)).first().asof_event_id is None


def test_asof_matches_naive_quadratic(spark):
    # pseudo-random but deterministic corpus; compare the union+window
    # composition against a literal per-row argmax
    import random

    rng = random.Random(42)
    lrows = [(100 + i, rng.randrange(4), rng.randrange(1000), 0.0) for i in range(60)]
    rrows = [(500 + i, rng.randrange(4), rng.randrange(1000), 0.0) for i in range(80)]
    left, right = _ev(spark, lrows), _ev(spark, rrows)
    got = {
        r.event_id: r.asof_event_id
        for r in asof_join(left, right, right_cols=("event_id",)).collect()
    }
    for lid, lu, lts, _ in lrows:
        elig = [(rts, rid) for (rid, ru, rts, _) in rrows if ru == lu and rts <= lts]
        want = max(elig)[1] if elig else None
        assert got[lid] == want, (lid, got[lid], want)


def test_asof_null_ts_raises(spark):
    left = _ev(spark, [(100, 1, None, 0.0)])
    right = _ev(spark, [(1, 1, 10, 0.0)])
    with pytest.raises(Exception, match="NULL ts"):
        asof_join(left, right, right_cols=("event_id",)).collect()


# ---------------------------------------------------------------------------
# plan shape (the PLANS.md one-exchange claims, pinned)
# ---------------------------------------------------------------------------


def test_session_stats_single_exchange_plan(spark):
    """ONE hash(user) exchange serves both windows AND the per-session
    aggregate: hash partitioning on a subset of the grouping keys
    already clusters the groups, so Catalyst inserts no second
    exchange (PLANS.md)."""
    ev = _ev(spark, [(i, i % 3, i * 60, 1.0) for i in range(30)])
    plan = session_stats(ev)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_asof_join_single_exchange_plan(spark):
    """union + running-last is ONE shuffle on the key — never a range
    join or per-key cross product (PLANS.md)."""
    l = _ev(spark, [(i, i % 3, i * 60, 1.0) for i in range(10)])
    r = _ev(spark, [(100 + i, i % 3, i * 45, 1.0) for i in range(10)])
    out = asof_join(l, r)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan  # no join operator at all — pure window
