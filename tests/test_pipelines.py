"""Golden-oracle tests for the three domain pipelines (SURVEY §5 item 2):
a pandas transcription of the reference formulas (engine semantics — the
documented tie/fallback clean-ups applied) runs on engineered fixtures and
must agree with the Spark plans.

Fixtures hit every branch: industry groups of 1/2/5+ members, <3 valid
values, zero-std groups, null market caps, negative valuation ratios,
capped health ratios, null metric values (FIXTURES.md §4)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.plans import composite_score as cs
from tradingview_data_pipeline_spark.plans import fundamental_score as fs
from tradingview_data_pipeline_spark.plans import segment_score as ss

RNG = np.random.default_rng(7)


def make_stock_fixture(n=60):
    """Engineered peer-group structure:
    - sector S0 / industry I0: 12 members (big industry)
    - sector S0 / industry I1: 1 member  (industry fallback)
    - sector S1 / industries I2,I3: 3+2 (sector has 5 -> fundamental sector
      fallback; composite industry gate 2 passes for I2/I3? I3 has 2)
    - sector S2 / industry I4: 4 members, all-equal metric (std == 0)
    - 3 rows with null mcap, 2 with null industry
    """
    rows = []
    def add(sym, sector, industry, mcap):
        rows.append(dict(symbol=sym, sector=sector, industry=industry,
                         market_capitalization=mcap))
    for i in range(12):
        add(f"A{i:02d}", "S0", "I0", 1e12 - i * 1e9)
    add("B00", "S0", "I1", 5e11)
    for i in range(3):
        add(f"C{i:02d}", "S1", "I2", 3e11 - i * 1e9)
    for i in range(2):
        add(f"D{i:02d}", "S1", "I3", 2e11 - i * 1e9)
    for i in range(4):
        add(f"E{i:02d}", "S2", "I4", 1e11 - i * 1e9)
    add("N00", "S0", "I0", None)
    add("N01", "S1", None, 9e10)
    df = pd.DataFrame(rows)

    for m in cs.NORMALIZED_METRICS:
        if m in ("analyst_rating_score", "macd_histogram", "sma50_relative",
                 "sma200_relative", "bollinger_upper_relative",
                 "bollinger_middle_relative", "bollinger_lower_relative"):
            continue
        vals = RNG.normal(50, 20, len(df))
        mask = RNG.random(len(df)) < 0.1
        vals[mask] = np.nan
        df[m] = np.round(vals, 2)
    # std == 0 group: constant metric within I4
    df.loc[df.industry == "I4", "rsi_14_1_day"] = 55.0
    df["price"] = np.round(RNG.uniform(10, 1000, len(df)), 2)
    df.loc[df.symbol == "C01", "price"] = 0.0           # price==0 guard
    df["sma_50_1_day"] = np.round(df["price"] * RNG.uniform(0.9, 1.1, len(df)), 2)
    df["sma_200_1_day"] = np.round(df["price"] * RNG.uniform(0.8, 1.2, len(df)), 2)
    df["bollinger_upper_20_1_day"] = np.round(df["price"] * 1.1, 2)
    df["bollinger_basis_20_1_day"] = df["price"]
    df["bollinger_lower_20_1_day"] = np.round(df["price"] * 0.9, 2)
    df["macd_12_26_signal_1_day"] = np.round(RNG.normal(0, 2, len(df)), 2)
    df.loc[df.symbol == "A03", "macd_12_26_level_1_day"] = np.nan
    df["analyst_rating"] = RNG.choice(
        ["Strong Buy", "Buy", "Hold", "Sell", None, "Strong sell"], len(df))
    return df


def oracle_composite(pdf):
    """Engine-semantics pandas oracle for the composite pipeline."""
    d = pdf.copy()
    scores = {"Strong Buy": 5, "Strong buy": 5, "Buy": 4, "Hold": 3,
              "Neutral": 3, "Sell": 2, "Strong Sell": 1, "Strong sell": 1}
    d["analyst_rating_score"] = (
        d["analyst_rating"].fillna("Hold").map(scores).fillna(3).astype(float))
    for out, src in [("sma50_relative", "sma_50_1_day"),
                     ("sma200_relative", "sma_200_1_day"),
                     ("bollinger_upper_relative", "bollinger_upper_20_1_day"),
                     ("bollinger_middle_relative", "bollinger_basis_20_1_day"),
                     ("bollinger_lower_relative", "bollinger_lower_20_1_day")]:
        d[out] = np.where(d["price"] != 0, (d[src] - d["price"]) / d["price"], 0.0)
    d["macd_histogram"] = (d["macd_12_26_level_1_day"].fillna(0)
                           - d["macd_12_26_signal_1_day"].fillna(0))

    # W1 bucketing, symbol tie-break, NULL mcap -> NULL
    d = d.sort_values(["market_capitalization", "symbol"],
                      ascending=[False, True], na_position="last").reset_index(drop=True)
    cat = pd.Series("Micro Cap", index=d.index)
    cat[d.index < 100] = "Large Cap"
    # (fixture is small; only the Large bucket applies with default bounds)
    d["market_cap_category"] = cat
    d.loc[d["market_capitalization"].isna(), "market_cap_category"] = None

    for m in cs.NORMALIZED_METRICS:
        d[f"{m}_normalized"] = 0.0
        for (capc, sec), sec_grp in d.groupby(["market_cap_category", "sector"],
                                              dropna=True):
            for ind, ind_grp in sec_grp.groupby("industry", dropna=True):
                grp, lw = (ind_grp, 1.0) if len(ind_grp) >= 2 else (sec_grp, 0.8)
                valid = grp[m].dropna()
                if len(valid) >= 3 and valid.std() != 0:
                    mu, sd = valid.mean(), valid.std()
                    z = (ind_grp[m] - mu) / sd * lw
                    d.loc[ind_grp.index, f"{m}_normalized"] = z.fillna(0.0)
    total = sum(d[f"{m}_normalized"].fillna(0) * w
                for m, w in cs.COMPOSITE_WEIGHTS.items())
    d["composite_score"] = total.round(2)
    return d.set_index("symbol")


def test_composite_pipeline_matches_oracle(spark):
    pdf = make_stock_fixture()
    sdf = spark.createDataFrame(pdf)
    out = cs.composite_scores(sdf).select(
        "symbol", "market_cap_category", "composite_score",
        *[f"{m}_normalized" for m in cs.NORMALIZED_METRICS]).toPandas() \
        .set_index("symbol")
    oracle = oracle_composite(pdf)
    for sym in oracle.index:
        assert out.loc[sym, "market_cap_category"] == oracle.loc[sym, "market_cap_category"] \
            or (pd.isna(out.loc[sym, "market_cap_category"])
                and pd.isna(oracle.loc[sym, "market_cap_category"])), sym
        for m in cs.NORMALIZED_METRICS:
            a, b = out.loc[sym, f"{m}_normalized"], oracle.loc[sym, f"{m}_normalized"]
            assert a == pytest.approx(b, abs=1e-9), (sym, m)
        assert out.loc[sym, "composite_score"] == pytest.approx(
            oracle.loc[sym, "composite_score"], abs=1e-6), sym


# ---------------------------------------------------------------------------

def make_funda_fixture():
    pdf = make_stock_fixture()
    for m, (_, hib, cap) in fs.ALL_METRICS.items():
        vals = RNG.normal(20, 15, len(pdf))
        mask = RNG.random(len(pdf)) < 0.12
        vals[mask] = np.nan
        pdf[m] = np.round(vals, 2)
    # negative valuations (loss makers) and cap-exceeding health ratios
    pdf.loc[pdf.symbol.isin(["A01", "C00"]), "pe_ratio"] = -12.0
    pdf.loc[pdf.symbol == "A02", "current_ratio_quarterly"] = 9.5   # cap 3.0
    pdf.loc[pdf.symbol == "A04", "ebitda_interest_coverage_ttm"] = 99.0  # cap 10
    return pdf


def oracle_fundamental(pdf):
    d = pdf.copy()
    for m, (_, _, cap) in fs.ALL_METRICS.items():
        if cap is not None:
            d[m] = d[m].clip(upper=cap)

    def peer_group(row):
        if pd.notna(row["industry"]):
            g = d[d["industry"] == row["industry"]]
            if len(g) >= fs.MIN_PEERS:
                return g, "industry"
        if pd.notna(row["sector"]):
            g = d[d["sector"] == row["sector"]]
            if len(g) >= fs.MIN_PEERS:
                return g, "sector"
        return d, "all"

    out = {}
    for _, row in d.iterrows():
        peers, level = peer_group(row)
        rec = {"peer_level": level}
        cat_scores = {}
        for m, (w, hib, _) in fs.ALL_METRICS.items():
            v = row[m]
            if m in fs.VALUATION_METRICS:
                if pd.notna(v) and v <= 0:
                    rec[f"{m}_percentile"] = 0.0
                    continue
                vals = peers.loc[peers[m] > 0, m].dropna()
            else:
                vals = peers[m].dropna()
            if pd.isna(v):
                rec[f"{m}_percentile"] = np.nan
                continue
            if len(vals) < 2:
                rec[f"{m}_percentile"] = 50.0
                continue
            rank = (vals < v).sum() if hib else (vals > v).sum()
            rec[f"{m}_percentile"] = round(rank / len(vals) * 100, 2)
        for cat, metrics in [("quality_score", fs.QUALITY_METRICS),
                             ("growth_score", fs.GROWTH_METRICS),
                             ("valuation_score", fs.VALUATION_METRICS),
                             ("health_score", fs.HEALTH_METRICS)]:
            sc, ws = [], []
            for m, (w, _, _) in metrics.items():
                p = rec.get(f"{m}_percentile")
                if p is not None and not pd.isna(p):
                    sc.append(p)
                    ws.append(w)
            rec[cat] = round(sum(s * w for s, w in zip(sc, ws)) / sum(ws), 2) \
                if sc else np.nan
        vals = {c: rec[c] if not pd.isna(rec.get(c, np.nan)) else 50.0
                for c in fs.CATEGORY_BLEND}
        rec["fundamental_score"] = round(
            sum(vals[c] * w for c, w in fs.CATEGORY_BLEND.items()), 2)
        out[row["symbol"]] = rec
    return out


def test_fundamental_pipeline_matches_oracle(spark):
    pdf = make_funda_fixture()
    sdf = spark.createDataFrame(pdf)
    got = fs.fundamental_scores(sdf, size_hint_rows=len(pdf)) \
        .toPandas().set_index("symbol")
    oracle = oracle_fundamental(pdf)
    for sym, rec in oracle.items():
        assert got.loc[sym, "peer_level"] == rec["peer_level"], sym
        for k, v in rec.items():
            if k == "peer_level":
                continue
            g = got.loc[sym, k]
            if pd.isna(v):
                assert pd.isna(g), (sym, k)
            else:
                assert g == pytest.approx(v, abs=0.011), (sym, k, g, v)


def test_fundamental_ranks(spark):
    pdf = make_funda_fixture()
    sdf = spark.createDataFrame(pdf)
    cats = spark.createDataFrame(
        pd.DataFrame({"symbol": pdf["symbol"],
                      "market_cap_category": ["Large Cap"] * len(pdf)}))
    ranked = fs.fundamental_ranks(
        fs.fundamental_scores(sdf, size_hint_rows=len(pdf)), cats)
    rows = ranked.select("symbol", "fundamental_score", "fundamental_rank").collect()
    by_rank = sorted(rows, key=lambda r: r["fundamental_rank"])
    scores = [r["fundamental_score"] for r in by_rank]
    assert scores == sorted(scores, reverse=True)
    assert [r["fundamental_rank"] for r in by_rank] == list(range(1, len(rows) + 1))


# ---------------------------------------------------------------------------

def test_segment_scores_hand_computed(spark):
    df = spark.createDataFrame(
        [("Tech", "10%", "1.0", "2.0", "3.0", "4.0", "5.0", "6.0", "2.5T INR", "1,200"),
         ("Energy", "−10%", "2.0", "4.0", "6.0", "8.0", "10.0", "12.0", "800B INR", "800"),
         ("Util", "0%", "1.5", "3.0", "4.5", "6.0", "7.5", "9.0", "1.5T INR", "1,000")],
        "sector string, change_pct string, perf_1w string, perf_1m string, "
        "perf_3m string, perf_6m string, perf_ytd string, perf_1y string, "
        "market_cap string, stocks string")
    out = {r["sector"]: r for r in ss.segment_scores(df).collect()}
    # Tech: change 10 (max->1.0), perf_1w 1.0 (min->0), Energy inverse
    t, e, u = out["Tech"], out["Energy"], out["Util"]
    assert t["change_pct"] == 10.0 and e["change_pct"] == -10.0   # unicode minus
    assert t["market_cap"] == 2.5 and e["market_cap"] == 800.0    # T/B dropped (F3)
    assert t["stocks"] == 1200.0                                  # comma stripped
    # normalized: Tech change=1.0, perf_1w=0.0; Util change=0.5, perf=0.5
    assert t["normalized_score_3m"] == pytest.approx(
        20 * 1.0 + 10 * 0 + 20 * 0 + 30 * 0 + 10 * 0 + 5 * 0 + 5 * 0
        + 0 + 0, abs=1e-6)
    # weights_1y includes market_cap (10) and stocks (5); Tech mcap is the
    # max AFTER multiplier-dropping? 2.5 < 800 -> normalized mcap of Tech is
    # (2.5-1.5)/(800-1.5)... keep as computed check for Util instead:
    assert u["normalized_score_3m"] == pytest.approx(
        20 * 0.5 + 10 * 0.5 + 20 * 0.5 + 30 * 0.5 + 10 * 0.5 + 5 * 0.5 + 5 * 0.5,
        abs=1e-6)


def test_segment_all_equal_normalizes_to_one(spark):
    df = spark.createDataFrame([("A", "5.0"), ("B", "5.0")],
                               "sector string, change_pct string")
    out = ss.segment_scores(df).collect()
    assert all(r["normalized_change_pct"] == 1.0 for r in out)


def test_zscore_agg_form_equals_window_form_at_boundaries(spark):
    """Round-11 advisor pin: the round-10 window->aggregate+broadcast
    z-score reshape (plans/composite_score.py) is only ulp-equivalent in
    principle — avg/stddev_samp under partial aggregation can reassociate
    differently from the window form. This pins the risk the advisor
    named: both forms must produce IDENTICAL 2-dp-rounded weighted
    z-scores on (a) groups engineered so z*weight lands exactly ON
    representable rounding midpoints and (b) thousands of low-entropy
    2/3-dp values (the production domain).
    """
    from pyspark.sql import Window
    from tradingview_data_pipeline_spark.functions.cleaning import round_py

    rows = []
    # (a) crafted groups: values {0,1,2} give mu=1, sd=1 exactly, so
    # z in {-1,0,1}; weights then steer z*w onto exact midpoints
    for g in range(8):
        for i, v in enumerate([0.0, 1.0, 2.0]):
            rows.append((f"crafted_{g}", g * 3 + i, v))
    # (b) low-entropy 2/3-dp values across many groups
    rng = np.random.default_rng(11)
    for g in range(50):
        for i in range(40):
            rows.append((f"rand_{g}", 10_000 + g * 40 + i,
                         float(np.round(rng.uniform(-100, 100), 3))))
    df = spark.createDataFrame(rows, "grp string, id long, v double")

    for w in (1.625, 2.675, 3.0, 1.0):      # midpoint-steering + plain
        agg = df.groupBy("grp").agg(
            F.count("v").alias("n"), F.avg("v").alias("mu"),
            F.stddev_samp("v").alias("sd"))
        z_agg = F.when((F.col("n") < 3) | (F.col("sd") == 0)
                       | F.col("sd").isNull(), F.lit(0.0)) \
                 .otherwise((F.col("v") - F.col("mu")) / F.col("sd")
                            * F.lit(w))
        got_agg = {r["id"]: r["s"] for r in
                   df.join(F.broadcast(agg), "grp")
                     .select("id", round_py(z_agg, 2).alias("s")).collect()}

        wd = Window.partitionBy("grp")
        n_w = F.count("v").over(wd)
        mu_w = F.avg("v").over(wd)
        sd_w = F.stddev_samp("v").over(wd)
        z_win = F.when((n_w < 3) | (sd_w == 0) | sd_w.isNull(), F.lit(0.0)) \
                 .otherwise((F.col("v") - mu_w) / sd_w * F.lit(w))
        got_win = {r["id"]: r["s"] for r in
                   df.select("id", round_py(z_win, 2).alias("s")).collect()}

        diff = {i: (got_agg[i], got_win[i]) for i in got_agg
                if got_agg[i] != got_win[i]}
        assert not diff, (w, dict(list(diff.items())[:5]))
        # sanity: the crafted midpoints really do land on the boundary
        if w == 1.625:
            assert got_agg[2] == 1.62       # z=1 -> 1.625 -> banker's 1.62
