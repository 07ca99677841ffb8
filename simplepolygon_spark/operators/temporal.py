"""Temporal operators over the events table: sessionization and the
as-of (most-recent-prior) join.

The reference has no event-time operators (its core is the polygon
decomposition, ``/root/reference/src/index.ts``); these extend the
engine's LLM-pipeline surface to the event/clickstream side of a
training-data stack — session building for behavioral features, and
as-of attribution ("which click preceded this purchase") — expressed
in the shapes that survive 100 TB:

  sessionize       per-event session sequence numbers: one shuffle on
                   the user key (window), pure JVM expressions.
  session_stats    per-session aggregates: reuses sessionize's
                   hash(user) partitioning — Catalyst satisfies the
                   (user, session_seq) clustering requirement from the
                   window's exchange, so NO second shuffle.
  asof_join        latest right row at-or-before each left row, per
                   key: the union + running-last composition — one
                   shuffle on the key, NO range join, NO per-left-row
                   probe.  (A naive ts-inequality join explodes to
                   |left|x|right| per key before filtering; this shape
                   is linear in |left|+|right|.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _epoch_us(col):
    """Epoch microseconds of a timestamp column.  The parquet feed's
    ``ts`` arrives as TIMESTAMP_NTZ (isAdjustedToUTC=false), which
    ``unix_micros`` rejects; the session pins timeZone=UTC
    (session.py), so the NTZ→TZ cast is the identity on the epoch
    value and matches DuckDB's ``epoch_us`` on naive timestamps."""
    return F.unix_micros(F.col(col).cast("timestamp"))


def gap_micros(gap: str) -> int:
    """Parse a Spark interval-ish string ("30 minutes", "12 hours") to
    microseconds — driver-side, so every caller agrees on one gap value
    without a SQL round-trip."""
    import pandas as pd

    us = int(pd.Timedelta(gap).value // 1000)
    if us <= 0:
        raise ValueError(f"gap must be positive, got {gap!r}")
    return us


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Input rows + ``session_seq`` (1-based per user): a new session
    starts when the gap since the user's previous event is >= ``gap``.

    The >= boundary (not >) is chosen to MATCH Structured Streaming's
    ``session_window``, which half-opens each event's window at
    ``[ts, ts + gap)``: a follow-up event exactly ``gap`` later does
    not overlap and opens a new session.

    Shape: ONE shuffle (hash on ``user_col``) feeding two window
    functions — ``lag`` for the inter-event delta and a running ``sum``
    of session starts — both over the same (partition, order) spec, so
    they share one sort.  Ordering ties on ``ts`` break by ``id_col``
    (deterministic output is part of the contract; the oracle sorts
    the same way).  Rows with NULL ``ts`` are rejected loudly: their
    sort position differs between engines (Spark orders NULLS FIRST
    ascending, most SQL engines NULLS LAST) and a session over an
    unknown time is meaningless.

    Skew note (100 TB): one window partition per user — a bot user
    with 10^9 events serializes into one task.  Cap per-user history
    upstream or split such users by day before sessionizing; unlike
    an agg, a window's partition key cannot be salted without
    changing its semantics."""
    gus = gap_micros(gap)
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    delta = _epoch_us(ts_col) - F.unix_micros(
        F.lag(F.col(ts_col).cast("timestamp")).over(w)
    )
    new_session = F.when(delta.isNull() | (delta >= gus), 1).otherwise(0)
    guarded = events.withColumn(
        ts_col,
        F.when(
            F.col(ts_col).isNull(),
            F.raise_error(F.lit("sessionize: NULL %s row" % ts_col)),
        ).otherwise(F.col(ts_col)),
    )
    return guarded.withColumn(
        "session_seq",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def session_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """One row per session: (user, session_seq, session_start_us,
    session_end_us, n_events, sum_value_u).

    Timestamps are emitted as epoch MICROSECOND longs and the value sum
    as integer MICROS (``sum(bigint(round(value * 1e6)))``): every
    output column is exact integer arithmetic, so results are
    bit-identical across engines and summation orders — a
    ``sum(double)`` here would be a latent cross-engine hash flake
    (association order differs run to run), and both Spark ``round``
    and DuckDB ``round`` are HALF_UP so the fixed-point conversion
    itself agrees.

    Plan note: the groupBy keys are (user, session_seq) and the input
    arrives hash-partitioned on ``user`` from sessionize's window
    exchange — a hash partitioning on a SUBSET of the grouping keys
    already clusters the groups, so Catalyst inserts NO second
    exchange (asserted in PLANS.md)."""
    s = sessionize(events, gap, user_col, ts_col, id_col)
    vu = F.round(F.col(value_col) * 1e6, 0).cast("long")
    return s.groupBy(user_col, "session_seq").agg(
        F.unix_micros(F.min(ts_col).cast("timestamp")).alias("session_start_us"),
        F.unix_micros(F.max(ts_col).cast("timestamp")).alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(vu).alias("sum_value_u"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts_col: str = "ts",
    right_cols: tuple[str, ...] = ("event_id", "ts"),
    id_col: str = "event_id",
    strict: bool = False,
) -> DataFrame:
    """Left rows + the LATEST right row with ``right.ts <= left.ts``
    (``<`` when ``strict``) sharing the ``on`` key — the as-of join
    (DuckDB/kdb ASOF JOIN; Spark has no native operator).  Right
    columns come back prefixed ``asof_``; left rows with no eligible
    right row keep NULLs (left-outer semantics).

    SHAPE — union + running last, not a range join: tag both inputs,
    union them, and take ``last(right payload, ignorenulls) OVER
    (PARTITION BY key ORDER BY ts, side, id)`` — the right row in
    effect "carries forward" to every later left row.  One shuffle on
    the key, one sort, linear in |left| + |right|; the naive
    ``l JOIN r ON key AND r.ts <= l.ts`` + argmax explodes to the full
    per-key cross product first (quadratic for hot keys), which no
    100 TB attribution pipeline survives.

    Tie contracts (both deterministic, both mirrored by the test
    oracle): a right row AT the same ts as a left row is visible to it
    unless ``strict``; among right rows sharing the eligible ts the
    one with the greatest ``id_col`` wins.  NULL ``ts`` rows are
    rejected loudly, as in ``sessionize`` (their sort position is
    engine-dependent).  Same skew note as ``sessionize``: the window
    partitions by the join key."""
    for c in ("_side",):
        if c in left.columns or c in right.columns:
            raise ValueError(f"asof_join: reserved column name {c} in input")
    guard = lambda df: df.withColumn(  # noqa: E731
        ts_col,
        F.when(
            F.col(ts_col).isNull(),
            F.raise_error(F.lit("asof_join: NULL %s row" % ts_col)),
        ).otherwise(F.col(ts_col)),
    )
    rpay = [f"asof_{c}" for c in right_cols]
    # right side: payload packed in ONE struct so a single running
    # last() carries it; sort side 0 (before left at equal ts) for the
    # <= contract, after left for strict <
    r = guard(right).select(
        F.col(on),
        F.col(ts_col),
        F.lit(1 if strict else 0).alias("_side"),
        F.col(id_col).alias("_oid"),
        F.struct(*[F.col(c).alias(p) for c, p in zip(right_cols, rpay)]).alias(
            "_pay"
        ),
    )
    lside = 0 if strict else 1
    lcols = left.columns
    l = guard(left).select(
        "*",
        F.lit(lside).alias("_side"),
        F.col(id_col).alias("_oid"),
        F.lit(None).cast(r.schema["_pay"].dataType).alias("_pay"),
    )
    u = l.unionByName(r.select(on, ts_col, "_side", "_oid", "_pay"), allowMissingColumns=True)
    w = (
        Window.partitionBy(on)
        .orderBy(ts_col, "_side", "_oid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("_last", F.last("_pay", ignorenulls=True).over(w))
    return (
        carried.where(F.col("_side") == lside)
        # left-side rows kept their original columns through the union
        .select(*lcols, *[F.col(f"_last.{p}").alias(p) for p in rpay])
    )
