"""Fundamental score pipeline (reference: calfundamentalscore.py).

The reference iterates rows (calfundamentalscore.py:256-316, ~630 rows/s)
re-deriving each stock's peer group and percentiles in Python. Here the
whole job is windows + expressions:

1. peer-group fallback (W5): industry if its member count >= MIN_PEERS,
   elif sector, else all stocks — computed once per row with three
   windowed counts (:162-180);
2. per-metric percentile (W4/A9) at each granularity via the
   count-comparison identity  #{peers < v} == rank(v) - 1, with the
   valuation positivity filter (P6) applied to the peer set via
   rank-over-filtered-value (:137-159, 196-203);
3. weight-renormalized category means (A7, :206-228);
4. 0.4/0.3/0.2/0.1 blend with neutral-50 default (A8, :304-316);
5. rank within market-cap category (W2, :339-349).

Plan size, counted on the executed plan: at market size (small mode,
below ``2M / len(metrics)`` rows) the job plans 10 shuffle exchanges and
3 broadcasts. The three rank windows share ONE exchange on ``metric``,
because (metric) partitioning satisfies the (metric, industry) and
(metric, sector) windows too. The other nine are the industry and sector
peer-count windows (planned on both the wide and the melted frame), the
(metric, industry) and (metric, sector) count aggregates (the second
recomputes the first), and the pivot and join-back on ``symbol``. Each
exchange is partitioned by a business key, skew-safe under AQE. At
decade scale (set mode) the "all" level comes from the set-based
percentile operator instead (29 exchanges, 14 broadcasts): no window
over a whole metric, nothing single-task, and still per-metric
expressions over shared exchanges, not per-metric jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.functions.cleaning import clip_upper, round_py
from tradingview_data_pipeline_spark.operators.scoring import (
    attach_peer_percentile_exact, rank_within,
)

MIN_PEERS = 5     # calfundamentalscore.py:49

# Metric registry (calfundamentalscore.py:55-88): category -> metric ->
# (weight, higher_is_better, cap)
QUALITY_METRICS = {
    "return_on_equity_ttm": (0.12, True, None),
    "return_on_invested_capital_ttm": (0.10, True, None),
    "operating_margin_ttm": (0.08, True, None),
    "net_margin_ttm": (0.06, True, None),
    "gross_margin_annual": (0.04, True, None),
}
GROWTH_METRICS = {
    "eps_diluted_growth_ttm_yoy": (0.10, True, None),
    "revenue_growth_annual_yoy": (0.08, True, None),
    "eps_diluted_growth_annual_yoy": (0.06, True, None),
    "net_income_growth_annual_yoy": (0.06, True, None),
}
VALUATION_METRICS = {
    "pe_ratio": (0.07, False, None),
    "price_to_earnings_growth_ttm": (0.05, False, None),
    "enterprise_value_to_ebitda_ttm": (0.04, False, None),
    "price_to_book_ratio": (0.02, False, None),
    "price_to_sales_ratio": (0.02, False, None),
}
HEALTH_METRICS = {
    "current_ratio_quarterly": (0.03, True, 3.0),
    "debt_to_equity_ratio_quarterly": (0.03, False, None),
    "quick_ratio_quarterly": (0.02, True, 2.0),
    "ebitda_interest_coverage_ttm": (0.02, True, 10.0),
}
ALL_METRICS = {**QUALITY_METRICS, **GROWTH_METRICS, **VALUATION_METRICS,
               **HEALTH_METRICS}

CATEGORY_BLEND = {"quality_score": 0.40, "growth_score": 0.30,
                  "valuation_score": 0.20, "health_score": 0.10}


def apply_caps(df: DataFrame) -> DataFrame:
    """F8 (calfundamentalscore.py:183-193)."""
    caps = {m: clip_upper(F.col(m), cap)
            for m, (_, _, cap) in ALL_METRICS.items()
            if cap is not None and m in df.columns}
    # one withColumns call — chained withColumn re-analyzes per column
    return df.withColumns(caps) if caps else df


def fundamental_scores(df: DataFrame, *, size_hint_rows: int) -> DataFrame:
    """Adds ``{metric}_percentile``, peer_level, four category scores and
    fundamental_score to ``df``.

    Plan shape: instead of one rank-window per (metric × granularity) —
    ~54 chained sorts — the metrics are MELTED to long form
    (symbol, metric, value), so each granularity needs exactly ONE window
    spec partitioned by (metric, group-key): 3 windows total regardless of
    metric count. Percentiles pivot back to wide. This is both the local
    fix (per-operator overhead × 54 → × 3) and the scale design (three
    passes over the fact, not fifty-four).

    Direction handling: lower-is-better metrics rank on the NEGATED value
    — #{peers > v} ≡ #{-peers < -v}, exact for doubles. Valuation metrics
    mask non-positive values out of the ranked column so the peer set is
    positives-only (P6) without a second filtered frame.
    """
    df = apply_caps(df)

    w_ind = Window.partitionBy("industry")
    w_sec = Window.partitionBy("sector")
    n_ind = F.when(F.col("industry").isNotNull(),
                   F.count(F.lit(1)).over(w_ind)).otherwise(F.lit(0))
    n_sec = F.when(F.col("sector").isNotNull(),
                   F.count(F.lit(1)).over(w_sec)).otherwise(F.lit(0))
    df = df.withColumn(
        "peer_level",
        F.when(n_ind >= MIN_PEERS, F.lit("industry"))
         .when(n_sec >= MIN_PEERS, F.lit("sector"))
         .otherwise(F.lit("all")),
    )

    metrics = [m for m in ALL_METRICS if m in df.columns]
    if metrics:
        stack = ", ".join(f"'{m}', `{m}`" for m in metrics)
        long = df.select(
            "symbol", "sector", "industry", "peer_level",
            F.expr(f"stack({len(metrics)}, {stack}) AS (metric, v)"))

        # constant maps as ONE parsed expression each (r12 §7.3): the
        # create_map Column form costs 2 x 36 lit round trips
        hib_map = F.expr("map(" + ", ".join(
            f"'{m}', {str(ALL_METRICS[m][1]).lower()}" for m in metrics) + ")")
        pos_map = F.expr("map(" + ", ".join(
            f"'{m}', {str(m in VALUATION_METRICS).lower()}" for m in metrics)
            + ")")
        v = F.col("v")
        masked = F.when(pos_map[F.col("metric")] & (v <= 0), F.lit(None).cast("double")) \
                  .otherwise(v)
        signed = F.when(hib_map[F.col("metric")], masked).otherwise(-masked)
        long = long.withColumn("sv", signed)

        # per-granularity peer counts as TINY aggregates + broadcast
        # joins instead of unordered count windows (round 10): each
        # pct_at previously planned rank + count as two STACKED
        # WindowExecs per granularity, and their combined per-task
        # partition buffers were the measured 16.4M-decade OOM site.
        # The count space is business-bounded (metrics x industries),
        # so it broadcasts; null group keys join null-safely (their
        # pct is never chosen, but rows must not drop/duplicate).
        for tag, keys in (("i", ["industry"]), ("s", ["sector"])):
            cnt = (long.groupBy("metric", *keys)
                   .agg(F.count("sv").alias(f"__n_{tag}")))
            cond = [long["metric"].eqNullSafe(cnt["metric"])] + \
                   [long[k].eqNullSafe(cnt[k]) for k in keys]
            long = (long.join(F.broadcast(cnt), cond, "left")
                    .drop(cnt["metric"])
                    .drop(*[cnt[k] for k in keys]))

        def pct_at(keys: list[str], tag: str):
            wr = Window.partitionBy("metric", *keys).orderBy(F.col("sv").asc_nulls_last())
            n = F.col(f"__n_{tag}")
            pct = round_py((F.rank().over(wr) - F.lit(1)) * 100.0 / n, 2)
            return F.when(n < 2, F.lit(50.0)).otherwise(pct)

        # "all"-level percentile per metric: small mode is the
        # (metric)-partitioned rank window, which shares the exchange of
        # the two keyed windows above; at scale that window holds the FULL
        # table in one task per metric, so set mode uses the set-based
        # form instead. The mode gate reads the caller's size hint (the
        # job path passes ParquetTable.row_count() — exact, from parquet
        # footers, zero Spark actions). Results are identical in either
        # mode — only the physical plan changes, so a stale hint can never
        # change answers.
        cap = 2_000_000 // max(len(metrics), 1)
        mode = "small" if size_hint_rows <= cap else "set"
        long = attach_peer_percentile_exact(long, "sv", "__pct_all",
                                            group_keys=["metric"],
                                            min_peers=2, round_digits=2,
                                            mode=mode)
        chosen = F.when(F.col("peer_level") == "industry",
                        pct_at(["industry"], "i")) \
                  .when(F.col("peer_level") == "sector",
                        pct_at(["sector"], "s")) \
                  .otherwise(F.col("__pct_all"))
        final = F.when(v.isNull(), F.lit(None).cast("double")) \
                 .when(pos_map[F.col("metric")] & (v <= 0), F.lit(0.0)) \
                 .otherwise(chosen)
        long = long.select("symbol", "metric", final.alias("pct"))

        if mode == "set":
            # decade-size path: groupBy(symbol) over the melted frame is
            # a ~unique-key aggregate — map-side partial agg fills a
            # multi-hundred-MB hash map per task with zero combining
            # (the measured 16.4M UNABLE_TO_ACQUIRE_MEMORY site).
            # Pre-clustering by symbol satisfies the aggregate's
            # required distribution, so Catalyst plans ONE complete
            # aggregate with no partial phase.
            long = long.repartition(F.col("symbol"))
        wide = long.groupBy("symbol").pivot("metric", metrics).agg(F.first("pct"))
        wide = wide.select("symbol", *[F.col(m).alias(f"{m}_percentile")
                                       for m in metrics])
        # merge hint: this is a full-row-count (symbol) join — its
        # shuffle output can zstd-compress under the broadcast
        # threshold at decade scale, and AQE's broadcast flip then
        # fails building a 16M-row hash relation on the driver
        df = df.join(wide.hint("merge"), "symbol", "left")

    cat_cols = {}
    for cat_col, metrics in [("quality_score", QUALITY_METRICS),
                             ("growth_score", GROWTH_METRICS),
                             ("valuation_score", VALUATION_METRICS),
                             ("health_score", HEALTH_METRICS)]:
        num, den = None, None
        for m, (w, _, _) in metrics.items():
            if f"{m}_percentile" not in df.columns:
                continue            # metric column absent from the input
            s = F.col(f"{m}_percentile")
            t_num = F.when(s.isNotNull(), s * F.lit(w)).otherwise(F.lit(0.0))
            t_den = F.when(s.isNotNull(), F.lit(w)).otherwise(F.lit(0.0))
            num = t_num if num is None else num + t_num
            den = t_den if den is None else den + t_den
        cat_cols[cat_col] = round_py(F.when(den > 0, num / den), 2) \
            if den is not None else F.lit(None).cast("double")
    # one withColumns: the four category columns are independent of each
    # other (each reads only *_percentile), so batching is semantics-free
    df = df.withColumns(cat_cols)

    blend = None
    for cat_col, w in CATEGORY_BLEND.items():
        term = F.coalesce(F.col(cat_col), F.lit(50.0)) * F.lit(w)
        blend = term if blend is None else blend + term
    return df.withColumn("fundamental_score", round_py(blend, 2))


def fundamental_ranks(df: DataFrame, categories: DataFrame | None = None,
                      *, rank_mode: str = "window") -> DataFrame:
    """W2: 1..N per market_cap_category by fundamental_score desc
    (calfundamentalscore.py:339-349); deterministic symbol tie-break.

    ``rank_mode='scale'`` for decade-size universes: only 4-5 category
    partitions exist, so the window form sorts each in one task (the
    measured 16.4M heap death); scale mode run-splits on the 2-dp score
    (rank_within docstring) — identical integer ranks, bounded tasks.
    """
    if categories is not None:
        # merge hint: same full-row-count symbol join rationale as the
        # percentile pivot join
        df = df.join(categories.select("symbol", "market_cap_category")
                     .hint("merge"), "symbol", "left")
    ranked = rank_within(df, ["market_cap_category"], "fundamental_score",
                         out_col="fundamental_rank", tie_break="symbol",
                         mode=rank_mode, scale_key="symbol")
    # reference leaves uncategorized symbols unranked (uploads NULL when the
    # rank is 0/NaN) — don't hand rows in the NULL-category partition 1..N
    return ranked.withColumn(
        "fundamental_rank",
        F.when(F.col("market_cap_category").isNotNull(),
               F.col("fundamental_rank")))


def rankings_output(df: DataFrame) -> DataFrame:
    """Projection merged into stock_rankings (calfundamentalscore.py:361-370)."""
    return df.select(
        "symbol", "fundamental_score",
        F.col("fundamental_rank").cast("int").alias("fundamental_rank"),
        "quality_score", "growth_score", "valuation_score", "health_score",
        F.current_timestamp().alias("fundamental_update_date"),
    )
