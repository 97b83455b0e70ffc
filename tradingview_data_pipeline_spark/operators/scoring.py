"""Peer-relative scoring operators (SURVEY §2.4 A1–A9, §2.5 W1–W7).

All operators are pure DataFrame/window compositions — one shuffle per
grouping granularity, no Python in the hot path. Reference citations are
file:line in ``/root/reference/``.

Scale notes (100 TB design point):
- Window functions shuffle on their partition keys; every operator here
  partitions by a business key (sector/industry/category), never globally —
  except ``bucket_by_global_rank`` in parity mode and
  ``attach_peer_percentile_exact`` in small mode, which are documented and
  gated (see their docstrings for the scale-mode alternatives).
- Peer statistics at multiple granularities are computed as *windowed
  aggregates over the same shuffled layout* where possible (industry windows
  are sub-partitions of sector windows), letting Spark reuse one exchange
  for nested keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.functions.cleaning import round_py


# ---------------------------------------------------------------------------
# W1 — global ordinal bucketing by rank (calcompositescore.py:206-218)
# Sort by metric desc nulls-last; rows [0,100) -> 'Large Cap', [100,250) ->
# 'Mid Cap', [250,500) -> 'Small Cap', rest 'Micro Cap'; NULL metric -> NULL.
# ---------------------------------------------------------------------------

def bucket_by_global_rank(
    df: DataFrame,
    metric: str,
    out_col: str = "market_cap_category",
    boundaries: Sequence[tuple[int, str]] = ((100, "Large Cap"), (250, "Mid Cap"), (500, "Small Cap")),
    default_label: str = "Micro Cap",
    tie_break: str | None = None,
    mode: str = "parity",
) -> DataFrame:
    """Assign ordinal buckets from a global descending rank of ``metric``.

    ``mode='parity'`` reproduces the reference exactly with
    ``row_number`` over an unpartitioned window — a single-task sort, fine
    up to ~10^6 rows (the reference runs at 1.6k). pandas breaks ties by
    prior row order; we make it deterministic with ``tie_break`` (key asc).

    ``mode='scale'`` avoids the single-partition window: it computes the
    metric values at the boundary ranks (a tiny 2-phase job: per-partition
    top-N counts -> boundary thresholds) and buckets by range comparison,
    which is a map-only pass after one small aggregate. With ``tie_break``
    the boundary threshold is the composite ``(metric, tie_break)`` order
    statistic and the compare is lexicographic, so scale mode matches
    parity EXACTLY even on tied metrics (a run of tied quantized scores —
    e.g. ``bigram_lm_profile`` output — splits at the boundary instead of
    landing wholesale in the higher bucket). Without ``tie_break``,
    boundary ties bucket by ``metric >= threshold`` and a tied run shifts
    wholesale — documented deviation.
    """
    order = [F.col(metric).desc_nulls_last()]
    if tie_break:
        order.append(F.col(tie_break).asc())

    if mode == "parity":
        rn = F.row_number().over(Window.orderBy(*order))
        bucket = F.lit(None).cast("string")
        # build the when-chain from the last boundary down so earlier ranges win
        expr = F.lit(default_label)
        for upper, label in reversed(list(boundaries)):
            expr = F.when(rn <= upper, F.lit(label)).otherwise(expr)
        bucket = F.when(F.col(metric).isNotNull(), expr)
        return df.withColumn(out_col, bucket)

    # scale mode: thresholds via a driver-side tiny collect of the boundary
    # order statistics; at 100 TB this is one sort-limited aggregate of
    # max(boundary) rows, not a global sort of the table.
    max_rank = max(u for u, _ in boundaries)
    cols = [metric] + ([tie_break] if tie_break else [])
    top = (
        df.where(F.col(metric).isNotNull())
        .select(*cols)
        .orderBy(*order)
        .limit(max_rank)
        .collect()
    )
    expr = F.lit(default_label)
    for upper, label in reversed(list(boundaries)):
        if upper <= len(top):
            thr = top[upper - 1][0]
            if tie_break:
                # composite (metric desc, tie_break asc) boundary: exact
                # parity even on tied metrics — the tied run splits at
                # the boundary row's tie_break value
                tb_thr = top[upper - 1][1]
                in_bucket = (F.col(metric) > F.lit(thr)) | (
                    (F.col(metric) == F.lit(thr))
                    & (F.col(tie_break) <= F.lit(tb_thr)))
            else:
                in_bucket = F.col(metric) >= F.lit(thr)
            expr = F.when(in_bucket, F.lit(label)).otherwise(expr)
        else:
            expr = F.lit(label)
    return df.withColumn(out_col, F.when(F.col(metric).isNotNull(), expr))


# ---------------------------------------------------------------------------
# W2 — rank within partition (calfundamentalscore.py:339-349)
# ---------------------------------------------------------------------------

def rank_within(df: DataFrame, partition_by: Sequence[str], order_metric: str,
                out_col: str = "rank", tie_break: str | None = None,
                ascending: bool = False, mode: str = "window",
                scale_key: str | None = None) -> DataFrame:
    """1..N ordinal per group. pandas assigns positionally after a sort (ties
    by prior order); we pin ties with ``tie_break`` asc for determinism.

    ``mode='window'`` (default): one row_number window per group — fine
    whenever no single group is huge.

    ``mode='scale'`` (round 10): when ``partition_by`` has FEW distinct
    values (fundamental_ranks partitions by 4-5 market-cap categories),
    the window form sorts each multi-million-row group in ONE task —
    the measured 16.4M-stock heap death. This mode computes the exact
    same integer ranks with no giant partition, via run-splitting on a
    LOW-CARDINALITY order metric (e.g. a 2-dp score in [0,100] — <=10k
    runs/group; a continuous metric would degenerate, see below):

      rank = #{rows in group with strictly better metric}   (offset)
             + row_number within the tied (group, metric) run by
               ``tie_break``                                 (run rank)

    The offset is a cumulative-sum window over the (group, metric)
    COUNTS frame (tiny), the run rank a window whose partitions are
    tied runs (bounded by the metric's value multiplicity), both over a
    narrow (key, group, metric, tie) projection joined back on
    ``scale_key`` (a unique row key — required, as is ``tie_break``).
    Ranks are integers, so the two modes are value-identical — only the
    physical plan changes.
    """
    order = [F.col(order_metric).asc_nulls_last() if ascending
             else F.col(order_metric).desc_nulls_last()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    if mode == "window":
        w = Window.partitionBy(*partition_by).orderBy(*order)
        return df.withColumn(out_col, F.row_number().over(w))
    if mode != "scale":
        raise ValueError(f"rank_within: mode must be window/scale, got {mode!r}")
    if not tie_break or not scale_key:
        raise ValueError("rank_within(mode='scale') requires tie_break "
                         "and scale_key (a unique row key)")
    keys = list(partition_by)
    narrow = df.select(scale_key, *keys, order_metric, tie_break)
    w_run = Window.partitionBy(*keys, order_metric) \
        .orderBy(F.col(tie_break).asc())
    counts = narrow.groupBy(*keys, order_metric) \
        .agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = Window.partitionBy(*keys).orderBy(order[0]) \
        .rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        *keys, order_metric,
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"))
    # join on the metric via null-safe equality (null metrics rank last
    # as one run, exactly like desc_nulls_last/asc_nulls_last)
    cond = [narrow[k].eqNullSafe(offsets[k]) for k in keys] + \
           [narrow[order_metric].eqNullSafe(offsets[order_metric])]
    ranks = (narrow.withColumn("__rn", F.row_number().over(w_run))
             .join(offsets, cond)
             .select(narrow[scale_key].alias(scale_key),
                     (F.col("__off") + F.col("__rn")).alias(out_col)))
    # merge hint: a full-row-count key join — never broadcast-right
    # (AQE would flip on compressed size and OOM the driver build)
    return df.join(ranks.hint("merge"), scale_key, "left")


# ---------------------------------------------------------------------------
# W3 + A1 — per-group z-score with min-group gate (calcompositescore.py:222-270)
# valid = non-null values; skip (-> 0.0 contribution) if n_valid < 3 or
# stddev_samp == 0 (pandas std is ddof=1); null value -> 0.0.
# ---------------------------------------------------------------------------

def group_zscore(value: Column, w: WindowSpec, *, min_group: int = 3,
                 level_weight: float = 1.0) -> Column:
    mu = F.avg(value).over(w)
    sd = F.stddev_samp(value).over(w)      # ddof=1, matches pandas .std()
    n = F.count(value).over(w)             # count() skips nulls, like pandas
    z = (value - mu) / sd * F.lit(level_weight)
    return F.when(value.isNull() | (n < min_group) | (sd == 0) | sd.isNull(),
                  F.lit(0.0)).otherwise(z)


# ---------------------------------------------------------------------------
# W4 + A9 — peer-relative percentile, count-comparison formulation
# (calfundamentalscore.py:137-159): pct = 100 * #{peers < v} / #peers
# (strict >, i.e. inverted, when lower_is_better); peers = non-null values
# in the group INCLUDING self; < 2 peers -> 50.0; v null -> null.
#
# #{peers < v} == rank(v) - 1 when ranked ascending with nulls last, so no
# self-join is needed — one windowed rank per metric, shuffle shared across
# metrics on the same keys.
# ---------------------------------------------------------------------------

def peer_percentile(df: DataFrame, metric: str, partition_by: Sequence[str],
                    out_col: str | None = None, *, lower_is_better: bool = False,
                    min_peers: int = 2, round_digits: int | None = None) -> DataFrame:
    out_col = out_col or f"{metric}_pct"
    v = F.col(metric)
    direction = v.asc_nulls_last() if not lower_is_better else v.desc_nulls_last()
    w = Window.partitionBy(*partition_by).orderBy(direction)
    wg = Window.partitionBy(*partition_by)
    n = F.count(v).over(wg)
    pct = (F.rank().over(w) - F.lit(1)) * 100.0 / n
    if round_digits is not None:
        pct = round_py(pct, round_digits)
    return df.withColumn(
        out_col,
        F.when(v.isNull(), F.lit(None).cast("double"))
         .when(n < min_peers, F.lit(50.0))
         .otherwise(pct),
    )


# ---------------------------------------------------------------------------
# W4 at the "all" granularity — exact global (or tiny-key-grouped) peer
# percentile, pct(v) = 100 * #{peers < v} / #peers == (rank(v)-1)*100/n.
#
# "small" mode is the rank window itself (peer_percentile): one exchange
# on the keys, and a group's rows sit in one task, which is fine while the
# input is small. "set" mode gets the identical numbers WITHOUT a window
# over a whole group, from set-based passes:
#
#   1. histogram: groupBy(keys, value) -> count          [shuffle on value]
#   2. range-bucket the distinct values by approxQuantile split points
#      (bucket choice affects BALANCE only — the counts stay exact)
#   3. running count within (keys, bucket)               [bounded windows]
#      + broadcast-joined per-bucket offsets (<= groups x buckets rows,
#      data-size-independent) -> #{< v}
#   4. broadcast per-keys totals -> n
#   5. left-join the (keys, value) -> pct lookup back onto the fact
#
# Every set-mode stage is either a hash aggregate, a window over a bounded
# frame, or a broadcast join — nothing holds O(table) rows in one task.
# ---------------------------------------------------------------------------

SET_MODE_BUCKETS = 64    # approxQuantile split points per group, set mode


def attach_peer_percentile_exact(
    df: DataFrame,
    value_col: str,
    out_col: str,
    *,
    mode: str,
    group_keys: Sequence[str] = (),
    min_peers: int = 2,
    round_digits: int | None = None,
) -> DataFrame:
    """Attach ``out_col`` = exact ascending peer percentile of
    ``value_col`` within ``group_keys`` (empty = global peer set).

    Matches ``(rank() over (order by v asc nulls last) - 1) * 100 / n``
    bit-for-bit, with ``n = count(v)`` over the group: #{< v} and n are
    exact integers, combined with the same double arithmetic and the
    same ``round_py`` rounding. Rows with NULL value get NULL (callers
    mask). Groups with fewer than ``min_peers`` non-null values get 50.0.

    ``mode`` picks the physical plan; the results are identical in both
    modes, and callers pick it from a row count they already hold
    (parquet footers), so choosing it runs no Spark job:

    - ``"small"``: that formula as written — a rank window and a count
      window over ``partition by keys`` (one exchange). A group's rows
      sit in one task, so this is for inputs that fit in one.
    - ``"set"``: ``SET_MODE_BUCKETS`` approx-quantile split points (one
      eager action) so the ranking window runs per (keys, bucket) over
      the distinct-value histogram — the 100 TB path: no task ever holds
      more than ~1/buckets of a group's distinct values.
    """
    keys = list(group_keys)
    if mode == "small":
        return peer_percentile(df, value_col, keys, out_col,
                               min_peers=min_peers, round_digits=round_digits)
    if mode != "set":
        raise ValueError(f"attach_peer_percentile_exact: mode must be small/set, got {mode!r}")

    v = F.col(value_col)
    nn = df.where(v.isNotNull()).select(*keys, v.alias("__gv"))
    hist = nn.groupBy(*keys, "__gv").agg(F.count(F.lit(1)).alias("__c"))

    # split points: balance only; dedup + sort so bucket ids are ordered
    probs = [i / SET_MODE_BUCKETS for i in range(1, SET_MODE_BUCKETS)]
    try:
        bounds = sorted(set(nn.stat.approxQuantile(
            "__gv", probs, 1.0 / (4 * SET_MODE_BUCKETS))))
    except Exception:        # empty input
        bounds = []
    if bounds:
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        bid = F.size(F.filter(barr, lambda b: b < F.col("__gv")))
    else:
        bid = F.lit(0)
    hist = hist.withColumn("__b", bid)

    # per-(keys, bucket) totals -> running offsets. This frame is bounded
    # by |key groups| x buckets regardless of table size, so the window
    # here (over a constant partition when keys are empty) is NOT a
    # global-window scale hazard.
    bt = hist.groupBy(*keys, "__b").agg(F.sum("__c").alias("__bt"))
    if not keys:
        bt = bt.withColumn("__all", F.lit(0))
    woff = (Window.partitionBy(*(keys or ["__all"])).orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1))
    offs = bt.select(*keys, "__b",
                     F.coalesce(F.sum("__bt").over(woff), F.lit(0)).alias("__off"))

    tot = (hist.groupBy(*keys).agg(F.sum("__c").alias("__n")) if keys
           else hist.agg(F.sum("__c").alias("__n")))

    wloc = (Window.partitionBy(*keys, "__b").orderBy("__gv")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    hist = hist.withColumn("__lt", F.sum("__c").over(wloc) - F.col("__c"))
    hist = hist.join(F.broadcast(offs), keys + ["__b"])
    hist = hist.join(F.broadcast(tot), keys) if keys else \
        hist.crossJoin(F.broadcast(tot))

    pct = (F.col("__lt") + F.col("__off")) * 100.0 / F.col("__n")
    if round_digits is not None:
        pct = round_py(pct, round_digits)
    pct = F.when(F.col("__n") < min_peers, F.lit(50.0)).otherwise(pct)

    lookup = hist.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        F.col("__gv"), pct.alias(out_col))
    cond = [df[k].eqNullSafe(lookup[f"__k_{k}"]) for k in keys]
    cond.append(df[value_col] == lookup["__gv"])
    joined = df.join(lookup, on=_and_all(cond), how="left")
    return joined.drop("__gv", *[f"__k_{k}" for k in keys])


def _and_all(conds: Sequence[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


# ---------------------------------------------------------------------------
# W5/W6 — hierarchical peer-group fallback (calfundamentalscore.py:162-180;
# calcompositescore.py:292-299). Group = finest granularity whose member
# count (including NaN-metric rows) >= min_members, else next, else coarsest.
# ---------------------------------------------------------------------------

def hierarchical_coalesce(
    df: DataFrame,
    granularities: Sequence[Sequence[str]],
    value_at: Sequence[Column],
    out_col: str,
    *,
    min_members: int = 5,
) -> DataFrame:
    """Pick ``value_at[i]`` for the first granularity whose group size
    (count(*), nulls included — reference counts rows not valid values)
    meets ``min_members``; the last granularity is the unconditional floor.

    ``granularities`` are ordered finest → coarsest; an empty key list means
    the global group. The per-granularity values must already be windowed
    columns over the same keys, so everything resolves in one select.
    """
    assert len(granularities) == len(value_at)
    # The last granularity is the unconditional floor, so its count is
    # never consulted — the global ("all") level therefore needs no window
    # at all when it sits last (the common shape). A non-final global
    # level gets its count from a 1-row agg + broadcast cross join instead
    # of an empty-partition window (which would run the whole table in one
    # task).
    counts = []
    for keys in granularities[:-1]:
        if keys:
            counts.append(F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        else:
            df = df.crossJoin(F.broadcast(
                df.agg(F.count(F.lit(1)).alias("__hc_total"))))
            counts.append(F.col("__hc_total"))
    # build from coarsest backward so finest granularity wins
    expr = value_at[-1]
    for cnt, val in zip(counts[::-1], list(value_at[:-1])[::-1]):
        expr = F.when(cnt >= min_members, val).otherwise(expr)
    return df.withColumn(out_col, expr).drop("__hc_total")


# ---------------------------------------------------------------------------
# A6 — horizontal weighted sum across columns (calcompositescore.py:161-198)
# null contributions count as 0 (pandas fillna(0)).
# ---------------------------------------------------------------------------

def weighted_sum(weights: dict[str, float]) -> Column:
    terms = [F.coalesce(F.col(c), F.lit(0.0)) * F.lit(w) for c, w in weights.items()]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


# ---------------------------------------------------------------------------
# A7 — weighted mean with weight renormalization over present metrics
# (calfundamentalscore.py:206-228): sum(s_i*w_i)/sum(w_i) over non-null s_i;
# NULL if no metric present.
# ---------------------------------------------------------------------------

def weighted_mean_renormalized(weights: dict[str, float]) -> Column:
    num = None
    den = None
    for c, w in weights.items():
        s = F.col(c)
        t_num = F.when(s.isNotNull(), s * F.lit(w)).otherwise(F.lit(0.0))
        t_den = F.when(s.isNotNull(), F.lit(w)).otherwise(F.lit(0.0))
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
    return F.when(den > 0, num / den)


# ---------------------------------------------------------------------------
# A8 — fixed-weight blend with neutral default (calfundamentalscore.py:304-316)
# ---------------------------------------------------------------------------

def blend_with_default(weights: dict[str, float], default: float = 50.0) -> Column:
    out = None
    for c, w in weights.items():
        t = F.coalesce(F.col(c), F.lit(float(default))) * F.lit(w)
        out = t if out is None else out + t
    return out


# ---------------------------------------------------------------------------
# W7 — top-k / bottom-k (calcompositescore.py:396-399)
# Spark plans this as TakeOrderedAndProject: per-partition heap + driver
# merge — no global sort, scale-safe.
# ---------------------------------------------------------------------------

def top_k(df: DataFrame, metric: str, k: int = 10, *, ascending: bool = False,
          tie_break: str | None = None) -> DataFrame:
    order = [F.col(metric).asc_nulls_last() if ascending
             else F.col(metric).desc_nulls_last()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    return df.orderBy(*order).limit(k)
