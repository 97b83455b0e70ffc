"""Skew-handling primitives for hot keys (SURVEY §4 / scale design).

Measured guidance (32M rows with one key owning 50% of the fact,
round 6 — evidence/SKEW_BENCH_r6.jsonl):

- **Algebraic groupBy skew is a non-problem in Spark**: map-side
  partial aggregation collapses each map partition to one row per key
  before the shuffle, so the hot key reaches the reducer as one row per
  map task. Plain groupBy measured 1.0 s vs 3.0 s for the salted
  two-phase form — use plain groupBy for sum/count/min/max and reserve
  ``salted_aggregate`` for the regime where the partial agg degrades:
  per-partition key cardinality large enough to spill the hash agg
  (objectHashAggregate fallback) while the reduce distribution is
  skewed.
- **Skewed sort-merge join IS the real problem**: with mitigation off,
  the hot key's whole slice lands on one reduce task (7.7 s). Two
  fixes, both measured: AQE's skew-join split (session default; 2.2 s,
  the best non-broadcast path) and ``salted_broadcast_left`` (4.7 s,
  pays a ×buckets dim replication) — the static fix for when AQE
  can't apply (skewed side feeding a co-partitioned downstream op, or
  a join shape AQE won't re-split). When the dim fits the broadcast
  threshold none of this matters (0.39 s) — broadcast first, AQE
  second, salt last.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt(col: Column, buckets: int) -> Column:
    """Deterministic per-row salt in [0, buckets) — hash of the full row id
    would need a unique col; xxhash64 of the key + a uniform spread via
    monotonically_increasing_id keeps determinism within a task layout."""
    return (F.xxhash64(col, F.monotonically_increasing_id()) % buckets
            + buckets) % buckets


def salted_aggregate(df: DataFrame, key: str, aggs: dict[str, str],
                     *, buckets: int = 16) -> DataFrame:
    """Two-phase groupBy for skewed keys.

    ``aggs``: output name -> 'sum:col' | 'count' | 'min:col' | 'max:col'.
    """
    salted = df.withColumn("__salt", _salt(F.col(key), buckets))
    partial_exprs, final_exprs = [], []
    for out, spec in aggs.items():
        if spec == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(f"__p_{out}"))
            final_exprs.append(F.sum(f"__p_{out}").alias(out))
        else:
            op, col = spec.split(":", 1)
            partial_exprs.append(getattr(F, op)(col).alias(f"__p_{out}"))
            outer = {"sum": F.sum, "min": F.min, "max": F.max}[op]
            final_exprs.append(outer(f"__p_{out}").alias(out))
    partial = salted.groupBy(key, "__salt").agg(*partial_exprs)
    return partial.groupBy(key).agg(*final_exprs)


def salted_broadcast_left(fact: DataFrame, dim: DataFrame, key: str,
                          *, buckets: int = 8, how: str = "left") -> DataFrame:
    """Join a skewed fact to a dimension by replicating the dim ×buckets
    and salting the fact side — each hot-key burst spreads over
    ``buckets`` reducers instead of one."""
    dim_rep = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))))
    fact_s = fact.withColumn("__salt", _salt(F.col(key), buckets).cast("int"))
    out = fact_s.join(dim_rep, on=[key, "__salt"], how=how)
    return out.drop("__salt")
