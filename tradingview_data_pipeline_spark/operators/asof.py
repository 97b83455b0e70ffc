"""Temporal join operators: as-of join and bucketed interval join.

Two primitives every time-series / behavioral pipeline needs and plain
Spark lacks as built-ins (reference counterpart: the per-symbol
"latest value before t" lookups its pandas jobs do in-memory, e.g.
``calcompositescore.py`` pulling the newest technical row per symbol).

``asof_join``
    For each left row, the most recent right row with ``right.time <=
    left.time`` for the same key.  Implemented as the classic
    *union-tag + running last_value* trick: union both sides into one
    frame tagged 0 (right) / 1 (left), then one window per key ordered
    by (time, side, tiebreak) carries the latest right-side payload
    forward with ``last(..., ignorenulls=True)``.  Cost: ONE shuffle of
    |L|+|R| rows on the key — no range explosion, no per-row probe, and
    at 100 TB it is exactly a sort-merge pass per key partition.  This
    beats the naive "join + filter + argmax" plan, whose fan-out is
    |matches| (unbounded) before the argmax cuts it back.

``interval_join_bucketed``
    Point-in-interval join (right points inside ``[left.start,
    left.end]`` per key) via *time-bucket co-partitioning*: each
    interval is exploded into the coarse buckets it covers (bounded,
    because interval length is bounded), points map to exactly one
    bucket, and the join becomes an equi-join on ``(key, bucket)``
    followed by the exact range filter.  With bucket width >= max
    interval length each interval lands in at most 2 buckets, so the
    shuffle is ~2|L|+|R| rows and the per-task join fan-out is bounded
    by bucket population — the standard interval-join strategy Flink
    and range-join-enabled engines use, expressed in plain DataFrame
    ops so Catalyst sees an ordinary shuffled hash join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload: list[str],
    tiebreak: str,
    suffix: str = "_asof",
) -> DataFrame:
    """Latest right row at-or-before each left row's time, per key.

    ``payload`` are right-side columns carried onto the left rows (as
    ``<name><suffix>``); ``tiebreak`` is a right-side column that makes
    the pick deterministic when two right rows share a timestamp (the
    larger (time, tiebreak) pair wins, matching an ``ORDER BY time,
    tiebreak`` running-last semantics).  Right rows that tie on both
    are ordered by their payload, so the larger payload wins and the
    result never depends on partition order.  Left rows with no prior
    right row keep NULLs.
    """
    rtagged = right.select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        F.col(tiebreak).alias("__tb"),
        F.struct(*[F.col(c) for c in payload]).alias("__p"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}")
          for c in left.columns],
    )
    ltagged = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(rtagged.schema["__tb"].dataType).alias("__tb"),
        F.lit(None).cast(rtagged.schema["__p"].dataType).alias("__p"),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )
    # side 0 sorts before side 1 at equal time: a right row exactly at the
    # left row's time counts as "at-or-before".  __tb orders duplicate
    # right timestamps, and __p the rows that tie on __tb as well.
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side", "__tb", "__p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ltagged.unionByName(rtagged).withColumn(
        "__last", F.last("__p", ignorenulls=True).over(w)
    )
    out = carried.where(F.col("__side") == 1).select(
        *[F.col(f"__l_{c}").alias(c) for c in left.columns],
        *[F.col("__last").getField(c).alias(f"{c}{suffix}") for c in payload],
    )
    return out


def interval_join_bucketed(
    intervals: DataFrame,
    points: DataFrame,
    on: str,
    start: str,
    end: str,
    point_time: str,
    bucket_seconds: int,
) -> DataFrame:
    """Inner join of ``points`` falling inside ``[start, end]`` per key.

    ``bucket_seconds`` must be >= the maximum interval length so each
    interval covers at most 2 buckets (asserted structurally by the
    explode bound: ``sequence`` over the covered bucket ids).  Returns
    interval columns + point columns for each in-range pair; aggregate
    downstream as needed.
    """
    b = F.lit(int(bucket_seconds)).cast("long")
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start)) / b).cast("long"),
                F.floor(F.unix_timestamp(F.col(end)) / b).cast("long"),
            )
        ),
    )
    pt = points.withColumn(
        "__bucket", F.floor(F.unix_timestamp(F.col(point_time)) / b).cast("long")
    )
    joined = iv.join(pt, on=[on, "__bucket"]).where(
        (F.col(point_time) >= F.col(start)) & (F.col(point_time) <= F.col(end))
    )
    return joined.drop("__bucket")


def sessionize(
    df: DataFrame,
    key: str,
    time_col: str,
    *,
    gap: str = "30 minutes",
    tiebreak: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: assign a per-key ``session_seq``
    (1-based) that increments whenever the gap since the previous event
    strictly exceeds ``gap`` — the batch form of a session window, as a
    lag + running-sum over one key-partitioned window (single shuffle on
    the key; both window functions share the same sort).

    Boundary convention: an event at exactly ``prev + gap`` CONTINUES the
    session.  This matches Structured Streaming's ``F.session_window``,
    which merges a new event into the current session when its time is
    within [session_start, last_event + gap] INCLUSIVE (verified
    empirically — chained events exactly gap apart collapse into one
    session window).  Equivalence on exact-boundary fixtures is pinned by
    tests/test_temporal_corpus_vectors.py::
    test_sessionize_matches_session_window_on_gap_edges.

    ``tiebreak`` orders simultaneous events deterministically.
    """
    order = [F.col(time_col).asc()] + \
        ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    prev = F.lag(time_col).over(w)
    is_start = F.when(
        prev.isNull()
        | (F.col(time_col) > prev + F.expr(f"INTERVAL {gap}")), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_seq",
                         F.sum(is_start).over(wsum).cast("bigint"))
