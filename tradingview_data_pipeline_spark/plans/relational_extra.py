"""Extended relational coverage: multi-join analytical queries, rollup,
distinct aggregation, embedding near-dup — operators the reference lacks
but Spark provides for free (SURVEY §2.4 "absent" list), declared here so
the correctness gate covers them too.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.operators import cdc
from tradingview_data_pipeline_spark.operators import fingerprint as fp
from tradingview_data_pipeline_spark.operators import fuzzy as fz
from tradingview_data_pipeline_spark.operators import skew as sk
from tradingview_data_pipeline_spark.functions.cleaning import round_py, round_py_sql
from tradingview_data_pipeline_spark.operators.scoring import (
    attach_peer_percentile_exact,
)
from tradingview_data_pipeline_spark.plans.analytics import (
    register, _t, _dec, _dsum, _dsum_over,
)


# ---------------------------------------------------------------------------
# q32 (retired round 9): the hyperplane-LSH embedding near-dup query
# merged into q29_signature_neardup (training_queries.py) — both
# emitted (id, signature, banded near-dup degree); the operator
# (similarity.embedding_near_dups_lsh) is unchanged and still
# oracle-verified there. The freed slot went to q80_url_dedup.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# q10 — rank + relational shapes, tagged union (round-6 consolidation #1
# extended by the round-8 q10+q33 merge, COVERAGE.md #15; frees a driver
# slot for q78 while keeping all three operator families verified):
#   'bucket'       — global ordinal rank bucketing (W1; market-cap
#                    categories; parity mode: one window at test scale;
#                    formerly standalone q10).
#   'shipping'     — shipping-priority multi-join + agg + top-k (TPC-H Q3
#                    shape): selective dim filter -> two fact joins ->
#                    grouped revenue -> TakeOrdered.
#   'local_volume' — local-supplier volume (TPC-H Q5 shape): 6-table join
#                    with the co-nation condition, grouped revenue/nation.
# Shared schema (kind, key, revenue, detail, n): key is the group key as
# a string, revenue doubles as the bucket leg's o_totalprice, detail
# carries the Q3 date|priority payload or the bucket label, n the Q5
# lineitem count.
# ---------------------------------------------------------------------------

@register("q10_rank_relational", oracle="""
WITH bucketed AS (
  SELECT o_orderkey, o_totalprice,
         CASE WHEN o_totalprice IS NULL THEN NULL
              WHEN rn <= 100 THEN 'Large Cap'
              WHEN rn <= 250 THEN 'Mid Cap'
              WHEN rn <= 500 THEN 'Small Cap'
              ELSE 'Micro Cap' END AS price_category
  FROM (
    SELECT o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC) AS rn
    FROM orders
  )
), shipping AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
         o_orderdate, o_orderpriority
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-03-15'
    AND l_shipdate > TIMESTAMP '1998-03-15'
  GROUP BY l_orderkey, o_orderdate, o_orderpriority
  ORDER BY revenue DESC, l_orderkey ASC
  LIMIT 10
), local_volume AS (
  SELECT n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_lineitems
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = (SELECT min(r_name) FROM region)
  GROUP BY n_name
)
SELECT 'bucket' AS kind, CAST(o_orderkey AS VARCHAR) AS key,
       o_totalprice AS revenue, price_category AS detail,
       CAST(NULL AS BIGINT) AS n
FROM bucketed
UNION ALL
SELECT 'shipping' AS kind, CAST(l_orderkey AS VARCHAR) AS key, revenue,
       strftime(o_orderdate, '%Y-%m-%d') || '|' || o_orderpriority AS detail,
       CAST(NULL AS BIGINT) AS n
FROM shipping
UNION ALL
SELECT 'local_volume' AS kind, n_name AS key, revenue,
       CAST(NULL AS VARCHAR) AS detail, n_lineitems AS n
FROM local_volume
""")
def q10_rank_relational(spark, sf_dir):
    from tradingview_data_pipeline_spark.plans.analytics import _q10_rank_bucket
    bucket = _q10_rank_bucket(spark, sf_dir).select(
        F.lit("bucket").alias("kind"),
        F.col("o_orderkey").cast("string").alias("key"),
        F.col("o_totalprice").alias("revenue"),
        F.col("price_category").alias("detail"),
        F.lit(None).cast("bigint").alias("n"))
    ship = _q33_shipping_priority(spark, sf_dir).select(
        F.lit("shipping").alias("kind"),
        F.col("l_orderkey").cast("string").alias("key"),
        F.col("revenue"),
        F.concat(F.date_format("o_orderdate", "yyyy-MM-dd"), F.lit("|"),
                 F.col("o_orderpriority")).alias("detail"),
        F.lit(None).cast("bigint").alias("n"))
    vol = _q34_local_supplier_volume(spark, sf_dir).select(
        F.lit("local_volume").alias("kind"),
        F.col("n_name").alias("key"),
        F.col("revenue"),
        F.lit(None).cast("string").alias("detail"),
        F.col("n_lineitems").alias("n"))
    return bucket.unionByName(ship).unionByName(vol)


def _q33_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    one = F.lit(1).cast("decimal(3,2)")
    disc = _dec(F.col("l_extendedprice")) * (one - _dec(F.col("l_discount"), "4,2"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def _q34_local_supplier_volume(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    first_region = r.agg(F.min("r_name").alias("r_name"))
    one = F.lit(1).cast("decimal(3,2)")
    disc = _dec(F.col("l_extendedprice")) * (one - _dec(F.col("l_discount"), "4,2"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == o.o_orderkey)
        .join(s, (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("s_nationkey") == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.join(first_region, "r_name", "left_semi")),
              n.n_regionkey == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(disc).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_lineitems"))
    )


# ---------------------------------------------------------------------------
# q35 — grouped-aggregate shapes, tagged union (round-6 consolidation #2
# of the COVERAGE.md headroom map):
#   'rollup'   — ROLLUP grouping-set aggregation over region/nation
#                ("free in Spark", SURVEY §2.4); subtotal rows carry NULL
#                group columns in both engines.
#   'distinct' — COUNT(DISTINCT) + F10 volatility scaling parity in one
#                pass over customer by market segment.
# Shared schema (kind, g1, g2, n_rows, n_distinct, total_acctbal,
# scaled_sum); columns a shape doesn't produce are typed NULLs.
# ---------------------------------------------------------------------------

@register("q35_grouped_aggregates", oracle="""
WITH roll AS (
  SELECT r_name, n_name, COUNT(*) AS n_customers,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS total_acctbal
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY ROLLUP (r_name, n_name)
), dist AS (
  SELECT c_mktsegment,
         COUNT(DISTINCT c_nationkey) AS n_nations,
         COUNT(*) AS n_customers,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS total_acctbal,
         CAST(SUM(CAST(ROUND(c_acctbal * 1000, 0) AS BIGINT)) AS BIGINT) AS scaled_sum
  FROM customer
  GROUP BY c_mktsegment
), mm AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
         CASE WHEN mx = mn THEN 1.0
              ELSE (o_totalprice - mn) / (mx - mn) END AS price_norm
  FROM (
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           MIN(o_totalprice) OVER w AS mn, MAX(o_totalprice) OVER w AS mx
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority)
  )
)
SELECT 'rollup' AS kind, r_name AS g1, n_name AS g2, n_customers AS n_rows,
       CAST(NULL AS BIGINT) AS n_distinct, total_acctbal,
       CAST(NULL AS BIGINT) AS scaled_sum
FROM roll
UNION ALL
SELECT 'distinct' AS kind, c_mktsegment AS g1, CAST(NULL AS VARCHAR) AS g2,
       n_customers AS n_rows, n_nations AS n_distinct, total_acctbal,
       scaled_sum
FROM dist
UNION ALL
SELECT 'minmax' AS kind, o_orderpriority AS g1, CAST(NULL AS VARCHAR) AS g2,
       o_orderkey AS n_rows, CAST(NULL AS BIGINT) AS n_distinct,
       price_norm AS total_acctbal, price_cents AS scaled_sum
FROM mm
""")
def q35_grouped_aggregates(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    roll = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             _dsum(F.col("c_acctbal")).alias("total_acctbal"))
        .select(F.lit("rollup").alias("kind"),
                F.col("r_name").alias("g1"), F.col("n_name").alias("g2"),
                F.col("n_customers").alias("n_rows"),
                F.lit(None).cast("bigint").alias("n_distinct"),
                F.col("total_acctbal"),
                F.lit(None).cast("bigint").alias("scaled_sum"))
    )
    scaled = F.round(F.col("c_acctbal") * 1000, 0).cast("bigint")
    dist = (
        c.groupBy("c_mktsegment")
        .agg(F.countDistinct("c_nationkey").alias("n_nations"),
             F.count(F.lit(1)).alias("n_customers"),
             _dsum(F.col("c_acctbal")).alias("total_acctbal"),
             F.sum(scaled).alias("scaled_sum"))
        .select(F.lit("distinct").alias("kind"),
                F.col("c_mktsegment").alias("g1"),
                F.lit(None).cast("string").alias("g2"),
                F.col("n_customers").alias("n_rows"),
                F.col("n_nations").alias("n_distinct"),
                F.col("total_acctbal"), F.col("scaled_sum"))
    )
    # 'minmax' — the old q14 (round-8 consolidation #12): per-group
    # min-max normalization with the all-equal guard (A2/F9). min/max
    # are exact (no summation); the norm is one IEEE subtract+divide of
    # exact 2-dp doubles, identical in both engines. o_totalprice rides
    # along as exact cents so both raw and normalized values are
    # hash-checked.
    from tradingview_data_pipeline_spark.plans.analytics import q14_minmax_norm
    mm = q14_minmax_norm(spark, sf_dir).select(
        F.lit("minmax").alias("kind"),
        F.col("o_orderpriority").alias("g1"),
        F.lit(None).cast("string").alias("g2"),
        F.col("o_orderkey").cast("bigint").alias("n_rows"),
        F.lit(None).cast("bigint").alias("n_distinct"),
        F.col("price_norm").alias("total_acctbal"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
        .alias("scaled_sum"))
    return roll.unionByName(dist).unionByName(mm)


# ---------------------------------------------------------------------------
# q37 — the composite-score pipeline SHAPE on the driver's tables: per-
# group z-scores at two granularities with the reference's gates (n>=3,
# std!=0, null->0), group-size-2 fallback, level weights 1.0/0.8, then a
# weighted horizontal sum (calcompositescore.py:202-302 analog; the exact
# formulation of q7 extended to the full W3+W6+A6 tree).
# ---------------------------------------------------------------------------

def _z_sql(v: str, part: str, lw: str) -> str:
    return f"""
    CASE WHEN {v} IS NULL OR n_{part} < 3 OR sd_{part} = 0.0 OR sd_{part} IS NULL
         THEN 0.0 ELSE ({v} - mu_{part}) / sd_{part} * {lw} END"""


_Q37_STATS = """
  CAST(SUM(CAST({v} AS DECIMAL(25,6))) OVER {w} AS DOUBLE) AS s1_{tag},
  CAST(SUM(CAST({v} AS DECIMAL(12,2)) * CAST({v} AS DECIMAL(12,2))) OVER {w} AS DOUBLE) AS s2_{tag},
  COUNT({v}) OVER {w} AS n_{tag}"""

@register("q37_composite_shape", oracle=f"""
WITH b AS (
  SELECT p_partkey, p_brand, p_type,
         CAST(p_retailprice AS DOUBLE) AS vp, CAST(p_size AS DOUBLE) AS vs,
         COUNT(*) OVER w2 AS members2,
         {_Q37_STATS.format(v="CAST(p_retailprice AS DOUBLE)", w="w2", tag="p2")},
         {_Q37_STATS.format(v="CAST(p_retailprice AS DOUBLE)", w="w1", tag="p1")},
         {_Q37_STATS.format(v="CAST(p_size AS DOUBLE)", w="w2", tag="s2")},
         {_Q37_STATS.format(v="CAST(p_size AS DOUBLE)", w="w1", tag="s1")}
  FROM part
  WINDOW w2 AS (PARTITION BY p_brand, p_type), w1 AS (PARTITION BY p_brand)
), m AS (
  SELECT *,
         s1_p2 / n_p2 AS mu_p2, SQRT(GREATEST((s2_p2 - (s1_p2*s1_p2)/n_p2)/(n_p2-1), 0.0)) AS sd_p2,
         s1_p1 / n_p1 AS mu_p1, SQRT(GREATEST((s2_p1 - (s1_p1*s1_p1)/n_p1)/(n_p1-1), 0.0)) AS sd_p1,
         s1_s2 / n_s2 AS mu_s2, SQRT(GREATEST((s2_s2 - (s1_s2*s1_s2)/n_s2)/(n_s2-1), 0.0)) AS sd_s2,
         s1_s1 / n_s1 AS mu_s1, SQRT(GREATEST((s2_s1 - (s1_s1*s1_s1)/n_s1)/(n_s1-1), 0.0)) AS sd_s1
  FROM b
)
SELECT p_partkey, p_brand, p_type,
       (CASE WHEN members2 >= 2 THEN {_z_sql("vp", "p2", "1.0")}
             ELSE {_z_sql("vp", "p1", "0.8")} END) * 0.6
     + (CASE WHEN members2 >= 2 THEN {_z_sql("vs", "s2", "1.0")}
             ELSE {_z_sql("vs", "s1", "0.8")} END) * 0.4 AS composite
FROM m
""")
def q37_composite_shape(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    w2 = Window.partitionBy("p_brand", "p_type")
    w1 = Window.partitionBy("p_brand")
    members2 = F.count(F.lit(1)).over(w2)

    def zexact(v, w, lw):
        s1 = _dsum_over(v, w)
        s2 = F.sum(_dec(v) * _dec(v)).over(w).cast("double")
        n = F.count(v).over(w)
        mu = s1 / n
        sd = F.sqrt(F.greatest((s2 - (s1 * s1) / n) / (n - 1), F.lit(0.0)))
        return F.when(v.isNull() | (n < 3) | (sd == 0.0) | sd.isNull(),
                      F.lit(0.0)).otherwise((v - mu) / sd * F.lit(lw))

    vp = F.col("p_retailprice").cast("double")
    vs = F.col("p_size").cast("double")
    zp = F.when(members2 >= 2, zexact(vp, w2, 1.0)).otherwise(zexact(vp, w1, 0.8))
    zs = F.when(members2 >= 2, zexact(vs, w2, 1.0)).otherwise(zexact(vs, w1, 0.8))
    return p.select("p_partkey", "p_brand", "p_type",
                    (zp * 0.6 + zs * 0.4).alias("composite"))


# ---------------------------------------------------------------------------
# q38 — the fundamental-score pipeline SHAPE on the driver's tables
# (calfundamentalscore analog; W5 fallback >= 5 members, W4 rank-based
# percentiles with direction, P6 positivity masking on a signed metric,
# A7 weight renormalization, A8 neutral-50 blend). Exact: integer rank
# arithmetic + identical double association.
# ---------------------------------------------------------------------------

@register("q38_fundamental_shape", oracle=f"""
WITH b AS (
  SELECT p_partkey, p_brand, p_type,
         CAST(p_retailprice AS DOUBLE) AS vq,
         CAST(p_size AS DOUBLE) - 25.0 AS vv,
         COUNT(*) OVER (PARTITION BY p_brand, p_type) AS n2,
         COUNT(*) OVER (PARTITION BY p_brand) AS n1
  FROM part
), lvl AS (
  SELECT *, CASE WHEN n2 >= 5 THEN 'fine' WHEN n1 >= 5 THEN 'mid'
                 ELSE 'all' END AS peer_level,
         CASE WHEN vv <= 0 THEN NULL ELSE vv END AS vv_m
  FROM b
), p AS (
  SELECT *,
    CASE WHEN COUNT(vq) OVER w2g < 2 THEN 50.0
         ELSE {round_py_sql("(RANK() OVER (PARTITION BY p_brand, p_type ORDER BY vq ASC NULLS LAST) - 1) * 100.0 / COUNT(vq) OVER w2g")} END AS q_fine,
    CASE WHEN COUNT(vq) OVER w1g < 2 THEN 50.0
         ELSE {round_py_sql("(RANK() OVER (PARTITION BY p_brand ORDER BY vq ASC NULLS LAST) - 1) * 100.0 / COUNT(vq) OVER w1g")} END AS q_mid,
    CASE WHEN COUNT(vq) OVER () < 2 THEN 50.0
         ELSE {round_py_sql("(RANK() OVER (ORDER BY vq ASC NULLS LAST) - 1) * 100.0 / COUNT(vq) OVER ()")} END AS q_all,
    CASE WHEN COUNT(vv_m) OVER w2g < 2 THEN 50.0
         ELSE {round_py_sql("(RANK() OVER (PARTITION BY p_brand, p_type ORDER BY (-vv_m) ASC NULLS LAST) - 1) * 100.0 / COUNT(vv_m) OVER w2g")} END AS v_fine,
    CASE WHEN COUNT(vv_m) OVER w1g < 2 THEN 50.0
         ELSE {round_py_sql("(RANK() OVER (PARTITION BY p_brand ORDER BY (-vv_m) ASC NULLS LAST) - 1) * 100.0 / COUNT(vv_m) OVER w1g")} END AS v_mid,
    CASE WHEN COUNT(vv_m) OVER () < 2 THEN 50.0
         ELSE {round_py_sql("(RANK() OVER (ORDER BY (-vv_m) ASC NULLS LAST) - 1) * 100.0 / COUNT(vv_m) OVER ()")} END AS v_all
  FROM lvl
  WINDOW w2g AS (PARTITION BY p_brand, p_type), w1g AS (PARTITION BY p_brand)
), s AS (
  SELECT p_partkey, p_brand, p_type, peer_level,
         CASE WHEN vq IS NULL THEN NULL
              WHEN peer_level = 'fine' THEN q_fine
              WHEN peer_level = 'mid' THEN q_mid ELSE q_all END AS quality_pct,
         CASE WHEN vv IS NULL THEN NULL
              WHEN vv <= 0 THEN 0.0
              WHEN peer_level = 'fine' THEN v_fine
              WHEN peer_level = 'mid' THEN v_mid ELSE v_all END AS value_pct
  FROM p
)
SELECT p_partkey, p_brand, p_type, peer_level, quality_pct, value_pct,
       {round_py_sql("COALESCE(quality_pct, 50.0) * 0.6 + COALESCE(value_pct, 50.0) * 0.4")} AS blended_score
FROM s
""")
def q38_fundamental_shape(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    vq = F.col("p_retailprice").cast("double")
    vv = F.col("p_size").cast("double") - 25.0
    vv_m = F.when(vv <= 0, F.lit(None).cast("double")).otherwise(vv)

    # the "all"-level percentiles come from the exact-percentile operator:
    # a rank window per metric while the table is small, its set-based
    # form (histogram + bucket offsets + broadcast joins) once a window
    # per metric would hold too much of the table in one task. Keyed
    # levels keep business-key windows.
    base = p.select("p_partkey", "p_brand", "p_type",
                    vq.alias("__vq"), vv.alias("__vv"), (-vv_m).alias("__negv"))
    # the mode gate reads the part table's parquet FOOTER row count —
    # exact, driver-side, zero Spark actions — and BOTH metrics go through
    # ONE melted attach call (keys=['__m']): one exchange (small) or one
    # histogram scan and join-back (set) instead of two of each. The cap
    # is divided by the melt factor: stack(2, ...) doubles the frame, and
    # it's the MELTED frame whose per-metric groups "small" mode ranks in
    # one task each. Mode changes the plan, never the result.
    from tradingview_data_pipeline_spark.operators.merge import parquet_footer_rows
    _cap = 2_000_000 // 2
    n_rows = parquet_footer_rows([os.path.join(sf_dir, "part.parquet")])
    mode = "small" if n_rows <= _cap else "set"
    long = base.select(
        "p_partkey",
        F.expr("stack(2, 'q', __vq, 'v', __negv) AS (__m, __sv)"))
    long = attach_peer_percentile_exact(long, "__sv", "__pct_all",
                                        group_keys=["__m"],
                                        round_digits=2, mode=mode)
    alls = (long.groupBy("p_partkey").pivot("__m", ["q", "v"])
            .agg(F.first("__pct_all"))
            .select("p_partkey", F.col("q").alias("__q_all"),
                    F.col("v").alias("__v_all")))
    base = base.join(alls, "p_partkey", "left")

    w2g = Window.partitionBy("p_brand", "p_type")
    w1g = Window.partitionBy("p_brand")
    n2, n1 = F.count(F.lit(1)).over(w2g), F.count(F.lit(1)).over(w1g)
    level = F.when(n2 >= 5, F.lit("fine")).when(n1 >= 5, F.lit("mid")) \
             .otherwise(F.lit("all"))

    def pct(colname, keys):
        v = F.col(colname)
        wr = Window.partitionBy(*keys).orderBy(v.asc_nulls_last())
        wgk = Window.partitionBy(*keys)
        n = F.count(v).over(wgk)
        val = round_py((F.rank().over(wr) - F.lit(1)) * 100.0 / n, 2)
        return F.when(n < 2, F.lit(50.0)).otherwise(val)

    vq_c, vv_c = F.col("__vq"), F.col("__vv")
    q_pick = F.when(level == "fine", pct("__vq", ["p_brand", "p_type"])) \
              .when(level == "mid", pct("__vq", ["p_brand"])) \
              .otherwise(F.col("__q_all"))
    v_pick = F.when(level == "fine", pct("__negv", ["p_brand", "p_type"])) \
              .when(level == "mid", pct("__negv", ["p_brand"])) \
              .otherwise(F.col("__v_all"))
    quality_pct = F.when(vq_c.isNull(), F.lit(None).cast("double")).otherwise(q_pick)
    value_pct = F.when(vv_c.isNull(), F.lit(None).cast("double")) \
                 .when(vv_c <= 0, F.lit(0.0)).otherwise(v_pick)
    blended = round_py(F.coalesce(quality_pct, F.lit(50.0)) * 0.6
                      + F.coalesce(value_pct, F.lit(50.0)) * 0.4, 2)
    return base.select("p_partkey", "p_brand", "p_type", level.alias("peer_level"),
                       quality_pct.alias("quality_pct"), value_pct.alias("value_pct"),
                       blended.alias("blended_score"))


# ---------------------------------------------------------------------------
# q40 — exact interpolated quantiles per group (median/p90; Spark
# `percentile` ≡ DuckDB `quantile_cont`, verified bit-identical). The
# scale path swaps in approx_percentile with a documented error bound.
# ---------------------------------------------------------------------------

@register("q40_quantile_cube", oracle="""
WITH q AS (
  SELECT c_mktsegment,
         quantile_cont(c_acctbal, 0.5) AS median_bal,
         quantile_cont(c_acctbal, 0.9) AS p90_bal,
         COUNT(*) AS n
  FROM customer
  GROUP BY c_mktsegment
), cu AS (
  SELECT l_returnflag, l_linestatus,
         GROUPING(l_returnflag, l_linestatus) AS gid,
         COUNT(*) AS n_rows,
         CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
  FROM lineitem
  GROUP BY CUBE (l_returnflag, l_linestatus)
)
SELECT 'quantiles' AS kind, c_mktsegment AS g1, CAST(NULL AS VARCHAR) AS g2,
       CAST(NULL AS BIGINT) AS gid, n AS n_rows,
       median_bal AS v1, p90_bal AS v2
FROM q
UNION ALL
SELECT 'cube' AS kind, l_returnflag AS g1, l_linestatus AS g2, gid, n_rows,
       sum_qty AS v1, CAST(NULL AS DOUBLE) AS v2
FROM cu
""")
def q40_quantile_cube(spark, sf_dir):
    """Tagged union (round-6 consolidation #3 of the COVERAGE.md map):
    'quantiles' — exact interpolated group quantiles (Spark
    `percentile` ≡ DuckDB `quantile_cont`, bit-identical; the scale
    path swaps in approx_percentile / sketch.grouped_quantiles_approx
    with a documented error bound); 'cube' — CUBE with grouping id, one
    Expand + single hash aggregate over every grouping set (one scan,
    map-side combine; grouping_id bit order matches DuckDB
    GROUPING(a, b))."""
    c = _t(spark, sf_dir, "customer")
    q = (
        c.groupBy("c_mktsegment")
        .agg(F.expr("percentile(c_acctbal, 0.5)").alias("median_bal"),
             F.expr("percentile(c_acctbal, 0.9)").alias("p90_bal"),
             F.count(F.lit(1)).alias("n"))
        .select(F.lit("quantiles").alias("kind"),
                F.col("c_mktsegment").alias("g1"),
                F.lit(None).cast("string").alias("g2"),
                F.lit(None).cast("bigint").alias("gid"),
                F.col("n").alias("n_rows"),
                F.col("median_bal").alias("v1"),
                F.col("p90_bal").alias("v2"))
    )
    li = _t(spark, sf_dir, "lineitem")
    # r13 (guide §2.3 "aggregate before you shuffle"): CUBE plans as an
    # Expand that multiplies every lineitem row ×4 (one copy per
    # grouping set) ahead of the hash aggregate. COUNT and the exact
    # decimal SUM are reassociable, so pre-aggregate by (flag, status)
    # once — one pass over the fact rows, ~|flag×status| output cells —
    # and run the CUBE over the tiny cell table: sum-of-counts and
    # sum-of-decimal-partials are exactly the direct answers (decimal
    # addition is exact; the terminal double cast sees the identical
    # numeric value), and grouping_id/NULL-key semantics are unchanged
    # because CUBE over a (flag, status) pre-aggregate groups the same
    # cells the row-level CUBE groups rows.
    base = (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("__n"),
                 F.sum(F.col("l_quantity").cast("decimal(25,6)"))
                 .alias("__sq")))
    cu = (
        base.cube("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().cast("bigint").alias("gid"),
             F.sum("__n").alias("n_rows"),
             F.sum("__sq").cast("double").alias("sum_qty"))
        .select(F.lit("cube").alias("kind"),
                F.col("l_returnflag").alias("g1"),
                F.col("l_linestatus").alias("g2"),
                "gid", "n_rows", F.col("sum_qty").alias("v1"),
                F.lit(None).cast("double").alias("v2"))
    )
    return q.unionByName(cu)


# ---------------------------------------------------------------------------
# q64 — skew-safe two-phase aggregation (operators/skew.salted_aggregate):
# partial aggregate over (key, salt) spreads a hot key across N reducers,
# then a cheap final aggregate over the partials.  The oracle is the
# PLAIN group-by — decimal accumulators make the two-phase sum exactly
# associative, so the salted plan must reproduce the direct answer
# bit-for-bit.  This is the pattern for the keys AQE's skew-join split
# can't fix (skewed groupBy, not join); the driver data is uniform, and
# tests/test_stateful_skew.py pins equality on a synthesized hot key.
# ---------------------------------------------------------------------------

@register("q64_salted_skew_agg", oracle="""
SELECT l_suppkey,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price
FROM lineitem
GROUP BY l_suppkey
""")
def q64_salted_skew_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    pre = li.select(
        "l_suppkey",
        F.col("l_quantity").cast("decimal(25,6)").alias("__qty"),
        (_dec(F.col("l_extendedprice"))
         * (one - _dec(F.col("l_discount"), "4,2"))).alias("__rev"),
        "l_extendedprice")
    out = sk.salted_aggregate(pre, "l_suppkey", {
        "n_items": "count",
        "sum_qty": "sum:__qty",
        "revenue": "sum:__rev",
        "min_price": "min:l_extendedprice",
        "max_price": "max:l_extendedprice",
    }, buckets=16)
    return out.select("l_suppkey", "n_items",
                      F.col("sum_qty").cast("double").alias("sum_qty"),
                      F.col("revenue").cast("double").alias("revenue"),
                      "min_price", "max_price")


# ---------------------------------------------------------------------------
# q65 — fuzzy record linkage (operators/fuzzy.fuzzy_match_rollup):
# vocabulary-first blocked Levenshtein self-join over part names, with a
# row-count join-back.  Blocking key = last token; |len_a - len_b| <= d
# band prunes before the distance; blocks over max_block are dropped
# before the join (quadratic guard mirrored by the oracle's QUALIFY).
# Distances are exact integers — hash-identical across engines.
# ---------------------------------------------------------------------------

@register("q65_fuzzy_match", oracle=r"""
WITH v AS (SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL),
b AS (SELECT name, regexp_extract(name, '(\S+)$', 1) AS blk FROM v),
capped AS (SELECT * FROM b QUALIFY COUNT(*) OVER (PARTITION BY blk) <= 10000),
pairs AS (
  SELECT a.blk, a.name AS name_a, c.name AS name_b,
         levenshtein(a.name, c.name) AS distance
  FROM capped a JOIN capped c ON a.blk = c.blk AND a.name < c.name
  WHERE abs(length(a.name) - length(c.name)) <= 3
    AND levenshtein(a.name, c.name) <= 3),
cnt AS (SELECT p_name AS name, COUNT(*) AS n FROM part GROUP BY 1)
SELECT p.blk, p.name_a, p.name_b, CAST(p.distance AS INT) AS distance,
       ca.n AS n_rows_a, cb.n AS n_rows_b
FROM pairs p
JOIN cnt ca ON ca.name = p.name_a
JOIN cnt cb ON cb.name = p.name_b
""")
def q65_fuzzy_match(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return fz.fuzzy_match_rollup(p, "p_name", max_distance=3,
                                 max_block=10_000)


# ---------------------------------------------------------------------------
# q66 — correlated-subquery shapes, decorrelated the way Catalyst (and
# any scale plan) wants them:
#   'small_qty'  — scalar correlated subquery (TPC-H Q17 shape: lineitems
#                  below 20% of their part's average quantity) rewritten
#                  as an aggregate join; the avg comparison is kept in
#                  exact integer/decimal form (5 * qty * n < sum_qty) so
#                  no cross-engine float drift enters the FILTER.
#   'exists'     — EXISTS correlated subquery as a left-semi join
#                  (orders with a returned lineitem, counted by
#                  priority).
#   'not_exists' — NOT EXISTS as a left-anti join (orders with no
#                  returned lineitem).
# ---------------------------------------------------------------------------

@register("q66_correlated_shapes", oracle="""
WITH agg AS (
  SELECT l_partkey, COUNT(*) AS n_li,
         SUM(CAST(l_quantity AS DECIMAL(25,6))) AS sq
  FROM lineitem GROUP BY l_partkey
), small AS (
  SELECT p_brand, COUNT(*) AS n,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS val
  FROM lineitem li
  JOIN part ON p_partkey = li.l_partkey
  JOIN agg ON agg.l_partkey = li.l_partkey
  WHERE CAST(li.l_quantity AS DECIMAL(25,6)) * 5 * agg.n_li < agg.sq
  GROUP BY p_brand
), ret AS (
  SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
), ex AS (
  SELECT o_orderpriority, COUNT(*) AS n
  FROM orders WHERE EXISTS (SELECT 1 FROM ret WHERE l_orderkey = o_orderkey)
  GROUP BY o_orderpriority
), nex AS (
  SELECT o_orderpriority, COUNT(*) AS n
  FROM orders
  WHERE NOT EXISTS (SELECT 1 FROM ret WHERE l_orderkey = o_orderkey)
  GROUP BY o_orderpriority
)
SELECT 'small_qty' AS kind, p_brand AS g, n, val FROM small
UNION ALL
SELECT 'exists' AS kind, o_orderpriority AS g, n, CAST(NULL AS DOUBLE) AS val
FROM ex
UNION ALL
SELECT 'not_exists' AS kind, o_orderpriority AS g, n,
       CAST(NULL AS DOUBLE) AS val
FROM nex
""")
def q66_correlated_shapes(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    orders = _t(spark, sf_dir, "orders")
    qty = F.col("l_quantity").cast("decimal(25,6)")
    agg = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_li"),
        F.sum(qty).alias("sq"))
    small = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(agg, "l_partkey")
        .where(qty * 5 * F.col("n_li") < F.col("sq"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"),
             _dsum(F.col("l_extendedprice")).alias("val"))
        .select(F.lit("small_qty").alias("kind"),
                F.col("p_brand").alias("g"), "n", "val")
    )
    ret = li.where(F.col("l_returnflag") == "R").select("l_orderkey")

    def _count(join_type, tag):
        return (orders.join(ret, orders.o_orderkey == ret.l_orderkey,
                            join_type)
                .groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.lit(tag).alias("kind"),
                        F.col("o_orderpriority").alias("g"), "n",
                        F.lit(None).cast("double").alias("val")))

    return small.unionByName(_count("left_semi", "exists")) \
                .unionByName(_count("left_anti", "not_exists"))


# ---------------------------------------------------------------------------
# q67 — bucketed table fingerprint (operators/fingerprint): the
# cross-system reconciliation checksum — 60-bit md5 row hash over a
# canonical column image, 64 buckets, per bucket an exact-count +
# modular-sum + XOR triple, all order-independent.  Comparing two table
# copies is then a 64-row join (fingerprint_diff) and only differing
# buckets get re-scanned.  The oracle recomputes the identical hash in
# DuckDB, so this query IS a cross-engine reconciliation run.
# ---------------------------------------------------------------------------

_FP_NULL = "__NULL__"
_FP_COLS_SQL = ", ".join(
    f"COALESCE(CAST({c} AS VARCHAR), '{_FP_NULL}')"
    for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
              "o_orderdate"])

@register("q67_table_fingerprint", oracle=f"""
WITH h AS (
  SELECT ('0x' || substr(md5(concat_ws('|', {_FP_COLS_SQL})), 1, 15))::BIGINT
           AS rh
  FROM orders)
SELECT rh % 64 AS bucket, COUNT(*) AS n_rows,
       CAST(SUM(CAST(rh AS DECIMAL(38,0))) % 1152921504606846976 AS BIGINT)
         AS sum_mod,
       bit_xor(rh) AS xor_hash
FROM h GROUP BY 1
""")
def q67_table_fingerprint(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return fp.table_fingerprint(
        o, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
            "o_orderdate"], n_buckets=64)


# ---------------------------------------------------------------------------
# q68 — snapshot-diff CDC (operators/cdc.snapshot_diff): derive the
# changelog between two snapshots of the orders table — full-outer join
# on the key, null-safe column compare, unchanged rows dropped so the
# changelog is churn-sized.  The two snapshots are deterministic
# derivations of the driver's orders table (old drops keys %7==0, new
# drops %7==3 and rewrites priority where %11==0), so inserts, deletes,
# and updates are all exercised and the oracle reproduces the identical
# changelog.  The round-trip law apply(old, diff(old,new)) == new is
# pinned in tests/test_cdc.py.
# ---------------------------------------------------------------------------

@register("q68_snapshot_cdc", oracle="""
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority
  FROM orders WHERE o_orderkey % 7 != 0
), new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 11 = 0 THEN 'X-REVISED'
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 7 != 3
), j AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
              THEN 'update' END AS op,
         o.o_orderstatus AS o_orderstatus_old,
         n.o_orderstatus AS o_orderstatus_new,
         o.o_orderpriority AS o_orderpriority_old,
         n.o_orderpriority AS o_orderpriority_new
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT * FROM j WHERE op IS NOT NULL
""")
def q68_snapshot_cdc(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    old = (o.where(F.col("o_orderkey") % 7 != 0)
           .select("o_orderkey", "o_orderstatus", "o_orderpriority"))
    new = (o.where(F.col("o_orderkey") % 7 != 3)
           .select("o_orderkey", "o_orderstatus",
                   F.when(F.col("o_orderkey") % 11 == 0, F.lit("X-REVISED"))
                    .otherwise(F.col("o_orderpriority"))
                    .alias("o_orderpriority")))
    return cdc.snapshot_diff(old, new, ["o_orderkey"],
                             ["o_orderstatus", "o_orderpriority"])
