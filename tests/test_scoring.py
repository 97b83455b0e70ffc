"""Scoring operators W1-W7 / A6-A9 — pandas-semantics edge cases from
SURVEY §4 items 3-4 (ddof=1, <2-peer neutral 50, std==0 skip, strict
inequality, tie determinism)."""

import itertools

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.operators import scoring as ops


def test_bucket_by_global_rank_parity(spark):
    rows = [(f"s{i:03d}", float(1000 - i)) for i in range(12)]
    rows.append(("snull", None))
    df = spark.createDataFrame(rows, "symbol string, mcap double")
    out = ops.bucket_by_global_rank(
        df, "mcap", boundaries=((3, "Large"), (6, "Mid"), (9, "Small")),
        default_label="Micro", tie_break="symbol")
    got = {r["symbol"]: r["market_cap_category"] for r in out.collect()}
    assert got["s000"] == got["s002"] == "Large"
    assert got["s003"] == got["s005"] == "Mid"
    assert got["s006"] == got["s008"] == "Small"
    assert got["s009"] == got["s011"] == "Micro"
    assert got["snull"] is None        # NULL mcap -> NULL category


def test_bucket_scale_mode_matches_parity_without_ties(spark):
    rows = [(f"s{i:03d}", float(i * 7 % 97)) for i in range(50)]
    df = spark.createDataFrame(rows, "symbol string, mcap double")
    kw = dict(boundaries=((5, "L"), (15, "M")), default_label="S", tie_break="symbol")
    a = ops.bucket_by_global_rank(df, "mcap", mode="parity", **kw)
    b = ops.bucket_by_global_rank(df, "mcap", mode="scale", **kw)
    ga = {r["symbol"]: r["market_cap_category"] for r in a.collect()}
    gb = {r["symbol"]: r["market_cap_category"] for r in b.collect()}
    assert ga == gb


def test_bucket_scale_mode_matches_parity_on_ties(spark):
    """With tie_break, scale mode's composite (metric, tie_break)
    boundary order statistic splits a tied run exactly like parity's
    row_number — the r8 ADVICE finding (tied quantized scores used to
    land wholesale in the higher bucket)."""
    rows = [(f"s{i:03d}", float(i // 10)) for i in range(40)]  # runs of 10
    df = spark.createDataFrame(rows, "symbol string, mcap double")
    kw = dict(boundaries=((5, "L"), (15, "M")), default_label="S",
              tie_break="symbol")
    a = ops.bucket_by_global_rank(df, "mcap", mode="parity", **kw)
    b = ops.bucket_by_global_rank(df, "mcap", mode="scale", **kw)
    ga = {r["symbol"]: r["market_cap_category"] for r in a.collect()}
    gb = {r["symbol"]: r["market_cap_category"] for r in b.collect()}
    assert ga == gb
    assert sorted(ga.values()).count("L") == 5   # tied run split at 5
    assert sorted(ga.values()).count("M") == 10


def test_rank_within_ties_deterministic(spark):
    df = spark.createDataFrame(
        [("a", "g", 2.0), ("b", "g", 2.0), ("c", "g", 1.0), ("d", "h", 9.0)],
        "symbol string, g string, score double")
    out = ops.rank_within(df, ["g"], "score", tie_break="symbol")
    got = {r["symbol"]: r["rank"] for r in out.collect()}
    assert got == {"a": 1, "b": 2, "c": 3, "d": 1}


def test_group_zscore_gates(spark):
    # group g: 3 valid values; group h: 2 valid (below min_group);
    # group k: std == 0
    df = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", None),
         ("h", 1.0), ("h", 5.0),
         ("k", 4.0), ("k", 4.0), ("k", 4.0)],
        "g string, v double")
    w = Window.partitionBy("g")
    out = df.select("g", "v", ops.group_zscore(F.col("v"), w).alias("z")).collect()
    for r in out:
        if r["g"] == "g" and r["v"] == 1.0:
            assert r["z"] == pytest.approx(-1.0)  # ddof=1: std([1,2,3])=1
        elif r["g"] == "g" and r["v"] == 2.0:
            assert r["z"] == 0.0            # mean exactly
        elif r["g"] == "g" and r["v"] == 3.0:
            assert r["z"] == pytest.approx(1.0)
        elif r["g"] == "g" and r["v"] is None:
            assert r["z"] == 0.0            # null value -> 0
        else:
            assert r["z"] == 0.0            # gated groups (h: n<3, k: std==0)


def test_peer_percentile_reference_semantics(spark):
    df = spark.createDataFrame(
        [("a", "g", 10.0), ("b", "g", 20.0), ("c", "g", 20.0), ("d", "g", 30.0),
         ("e", "g", None),
         ("x", "h", 7.0)],                       # single peer -> 50
        "symbol string, g string, v double")
    out = ops.peer_percentile(df, "v", ["g"], "pct")
    got = {r["symbol"]: r["pct"] for r in out.collect()}
    assert got["a"] == 0.0                       # nothing strictly less
    assert got["b"] == got["c"] == 25.0          # one of four less (strict)
    assert got["d"] == 75.0
    assert got["e"] is None                      # null value -> null
    assert got["x"] == 50.0                      # <2 peers -> neutral


def test_peer_percentile_lower_is_better(spark):
    df = spark.createDataFrame(
        [("a", "g", 10.0), ("b", "g", 20.0), ("c", "g", 30.0)],
        "symbol string, g string, v double")
    out = ops.peer_percentile(df, "v", ["g"], "pct", lower_is_better=True)
    got = {r["symbol"]: r["pct"] for r in out.collect()}
    # inverted: count strictly greater
    assert got == {"a": pytest.approx(200 / 3), "b": pytest.approx(100 / 3), "c": 0.0}


def test_hierarchical_coalesce_gates(spark):
    # industry "i1" has 2 members (<5) within sector s1 (3 members, <5)
    # -> falls through to the global value
    df = spark.createDataFrame(
        [("a", "s1", "i1"), ("b", "s1", "i1"), ("c", "s1", "i2"),
         ("d", "s2", "i3"), ("e", "s2", "i3"), ("f", "s2", "i3"),
         ("g", "s2", "i3"), ("h", "s2", "i3")],
        "symbol string, sector string, industry string")
    out = ops.hierarchical_coalesce(
        df,
        granularities=[["industry"], ["sector"], []],
        value_at=[F.lit("IND"), F.lit("SEC"), F.lit("ALL")],
        out_col="lvl", min_members=5)
    got = {r["symbol"]: r["lvl"] for r in out.collect()}
    assert got["a"] == "ALL"       # i1 has 2, s1 has 3 -> global
    assert got["d"] == "IND"       # i3 has 5 members


def test_attach_peer_percentile_exact_matches_window(spark):
    """Both modes == (rank-1)*100/n window formula, globally and per
    group, with ties and nulls. Small mode is that window itself, so this
    is the equivalence check on the set-based path."""
    import random
    rng = random.Random(7)
    rows = [(i, ["x", "y", "z"][i % 3],
             None if i % 11 == 0 else round(rng.uniform(0, 10), 1))
            for i in range(200)]
    df = spark.createDataFrame(rows, "id long, grp string, v double")

    for mode, keys in itertools.product(("small", "set"), ([], ["grp"])):
        got = ops.attach_peer_percentile_exact(
            df, "v", "pct", mode=mode, group_keys=keys, min_peers=2,
            round_digits=2)
        wr = Window.partitionBy(*keys).orderBy(F.col("v").asc_nulls_last())
        wg = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
        n = F.count("v").over(wg)
        ref_pct = F.when(F.col("v").isNull(), F.lit(None).cast("double")) \
                   .when(n < 2, F.lit(50.0)) \
                   .otherwise(F.round((F.rank().over(wr) - 1) * 100.0 / n, 2))
        exp = df.withColumn("pct", ref_pct)
        g = {r["id"]: r["pct"] for r in got.collect()}
        x = {r["id"]: r["pct"] for r in exp.collect()}
        assert g == x, (mode, keys)


def test_attach_peer_percentile_small_group_gets_neutral(spark):
    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 1.0), (3, "b", 2.0)],
        "id long, grp string, v double")
    for mode in ("small", "set"):
        out = ops.attach_peer_percentile_exact(df, "v", "pct", mode=mode,
                                               group_keys=["grp"])
        got = {r["id"]: r["pct"] for r in out.collect()}
        assert got[1] == 50.0            # singleton group -> neutral
        assert got[2] == 0.0 and got[3] == 50.0
    with pytest.raises(ValueError, match="small/set"):
        ops.attach_peer_percentile_exact(df, "v", "pct", mode="auto")


def test_weighted_sum_null_as_zero(spark):
    df = spark.createDataFrame([(1.0, None), (None, 2.0)], "a double, b double")
    out = [r["s"] for r in df.select(
        ops.weighted_sum({"a": 2.0, "b": 3.0}).alias("s")).collect()]
    assert out == [2.0, 6.0]


def test_weighted_mean_renormalized(spark):
    df = spark.createDataFrame([(80.0, None), (80.0, 40.0), (None, None)],
                               "a double, b double")
    out = [r["s"] for r in df.select(
        ops.weighted_mean_renormalized({"a": 0.3, "b": 0.1}).alias("s")).collect()]
    assert out[0] == pytest.approx(80.0)                 # weights renormalize
    assert out[1] == pytest.approx((80 * 0.3 + 40 * 0.1) / 0.4)
    assert out[2] is None                                # nothing present


def test_blend_with_default(spark):
    df = spark.createDataFrame([(60.0, None)], "a double, b double")
    out = df.select(ops.blend_with_default({"a": 0.6, "b": 0.4}).alias("s")).collect()
    assert out[0]["s"] == pytest.approx(60 * 0.6 + 50 * 0.4)


def test_top_k_tie_break(spark):
    df = spark.createDataFrame(
        [("b", 5.0), ("a", 5.0), ("c", 1.0), ("d", 9.0)], "symbol string, v double")
    out = ops.top_k(df, "v", 2, tie_break="symbol").collect()
    assert [r["symbol"] for r in out] == ["d", "a"]


def test_rank_within_scale_mode_matches_window(spark):
    # W2 scale mode (run-splitting on a low-cardinality metric) must
    # produce the identical integer ranks as the window form — incl.
    # tied scores, null scores (rank last), a NULL category group, and
    # a category with a single row
    import random
    rng = random.Random(7)
    rows = []
    for i in range(400):
        cat = rng.choice(["Large", "Mid", "Small", None])
        score = rng.choice([None] + [round(x * 0.5, 2) for x in range(20)])
        rows.append((f"S{i:04d}", cat, score))
    rows.append(("S9999", "Lonely", 3.0))
    df = spark.createDataFrame(rows, "symbol string, cat string, score double")
    kw = dict(tie_break="symbol", out_col="rk")
    a = ops.rank_within(df, ["cat"], "score", **kw)
    b = ops.rank_within(df, ["cat"], "score", mode="scale",
                        scale_key="symbol", **kw)
    ra = {r["symbol"]: r["rk"] for r in a.collect()}
    rb = {r["symbol"]: r["rk"] for r in b.collect()}
    assert ra == rb and len(ra) == 401


def test_rank_within_scale_mode_validation(spark):
    import pytest
    df = spark.createDataFrame([("A", "c", 1.0)],
                               "symbol string, cat string, score double")
    with pytest.raises(ValueError, match="tie_break"):
        ops.rank_within(df, ["cat"], "score", mode="scale")
    with pytest.raises(ValueError, match="mode"):
        ops.rank_within(df, ["cat"], "score", mode="bogus")


def test_fundamental_modes_and_rank_modes_agree(spark):
    # the set-mode percentile path (incl. the round-10 pre-clustered
    # pivot) and the scale rank mode must produce exactly the
    # small/window-mode values — mode gates change plans, never answers
    import random

    from tradingview_data_pipeline_spark.plans import (
        fundamental_score as fs,
    )
    rng = random.Random(11)
    rows = []
    for i in range(300):
        rows.append((f"S{i:04d}",
                     f"sec{i % 5}", f"ind{i % 23}",
                     rng.choice([None, round(rng.uniform(-50, 50), 3)]),
                     rng.choice([None, round(rng.uniform(-5, 80), 3)]),
                     rng.choice(["Large Cap", "Mid Cap", None])))
    df = spark.createDataFrame(
        rows, "symbol string, sector string, industry string, "
              "pe_ratio double, return_on_equity_ttm double, "
              "market_cap_category string")
    cats = df.select("symbol", "market_cap_category")
    base = df.drop("market_cap_category")
    small = fs.fundamental_ranks(
        fs.fundamental_scores(base, size_hint_rows=300), cats)
    big = fs.fundamental_ranks(
        fs.fundamental_scores(base, size_hint_rows=10_000_000), cats,
        rank_mode="scale")
    cols = ["symbol", "pe_ratio_percentile",
            "return_on_equity_ttm_percentile", "fundamental_score",
            "fundamental_rank"]
    a = {r["symbol"]: tuple(r[c] for c in cols) for r in
         small.select(cols).collect()}
    b = {r["symbol"]: tuple(r[c] for c in cols) for r in
         big.select(cols).collect()}
    assert a == b and len(a) == 300
