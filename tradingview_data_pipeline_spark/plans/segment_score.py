"""Sector / industry score pipeline (reference: sectorscore.py,
indscores.py — identical logic, different table).

clean unit-strings (F3) -> min-max normalize each column over the whole
table (A2/F9, all-equal -> 1.0) -> three weighted horizontal sums
(3m/6m/1y holding periods). The reference then PATCHes row-by-row
(~185 ms/row, indscores.log); the scores are recomputed for every
segment at once, so our sink is one overwrite of the table (K4 as K3).

The min-max aggregates are a single global agg (20-119 rows in the
domain; at scale they stay one reduce of 2 values per column — no global
window needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.functions.cleaning import (
    minmax_normalize, parse_unit_string, round_py,
)

# Holding-period weights (sectorscore.py:48-62; indscores.py mirrors)
WEIGHTS_3M = {"change_pct": 20, "perf_1w": 10, "perf_1m": 20, "perf_3m": 30,
              "perf_6m": 10, "perf_ytd": 5, "perf_1y": 5, "market_cap": 0, "stocks": 0}
WEIGHTS_6M = {"change_pct": 15, "perf_1w": 8, "perf_1m": 15, "perf_3m": 20,
              "perf_6m": 25, "perf_ytd": 10, "perf_1y": 7, "market_cap": 0, "stocks": 0}
WEIGHTS_1Y = {"change_pct": 10, "perf_1w": 5, "perf_1m": 10, "perf_3m": 15,
              "perf_6m": 20, "perf_ytd": 10, "perf_1y": 15, "market_cap": 10, "stocks": 5}

CLEAN_COLS = ["market_cap", "change_pct", "perf_1w", "perf_1m", "perf_3m",
              "perf_6m", "perf_ytd", "perf_1y", "stocks"]


def clean_columns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """F3 on every metric column that may arrive stringly-typed
    (sectorscore.py:64-70): '−12.5%' / '1,234' / '2.5T INR' -> double."""
    for c in cols or CLEAN_COLS:
        if c in df.columns:
            df = df.withColumn(c, parse_unit_string(F.col(c).cast("string")))
    return df


def add_normalized(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Global min-max per column (sectorscore.py:72-78). One agg computes
    all bounds; the normalize step is then map-only via a broadcast of the
    single bounds row (no per-column passes, no global window)."""
    cols = [c for c in (cols or CLEAN_COLS) if c in df.columns]
    bounds = df.agg(*[F.min(c).alias(f"__mn_{c}") for c in cols],
                    *[F.max(c).alias(f"__mx_{c}") for c in cols])
    out = df.crossJoin(F.broadcast(bounds))
    for c in cols:
        out = out.withColumn(
            f"normalized_{c}",
            minmax_normalize(F.col(c), F.col(f"__mn_{c}"), F.col(f"__mx_{c}")))
    return out.drop(*[f"__mn_{c}" for c in cols], *[f"__mx_{c}" for c in cols])


def weighted_score(weights: dict[str, float], present: set[str]):
    """Σ normalized_c × w over columns present (sectorscore.py:84-86);
    null normalized values propagate like pandas NaN arithmetic."""
    out = None
    for c, w in weights.items():
        if f"normalized_{c}" in present:
            term = F.col(f"normalized_{c}") * F.lit(float(w))
            out = term if out is None else out + term
    return out if out is not None else F.lit(None).cast("double")


def segment_scores(df: DataFrame) -> DataFrame:
    """Full pipeline: clean -> normalize -> 3 weighted scores, rounded to
    4dp at the sink boundary (sectorscore.py:150-152)."""
    df = clean_columns(df)
    df = add_normalized(df)
    present = set(df.columns)
    return (
        df.withColumn("normalized_score_3m", round_py(weighted_score(WEIGHTS_3M, present), 4))
        .withColumn("normalized_score_6m", round_py(weighted_score(WEIGHTS_6M, present), 4))
        .withColumn("normalized_score_1y", round_py(weighted_score(WEIGHTS_1Y, present), 4))
    )
