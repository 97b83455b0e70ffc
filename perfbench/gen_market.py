"""Seeded inputs for the ``market_daily`` workload: yesterday's warehouse
and today's trading day.

Day 0 is the warehouse as the previous day's DAG left it, written here
with pyarrow in the plain parquet layout ``ParquetTable`` reads: 1,615
symbols in ``stock_data`` and ``stock_rankings``, the 20 sector and 119
industry rows, and NEWS_HISTORY_DAYS days of posts in the news table.
Day 1 lands as files, the way the production DAG receives them: a
Technicals CSV and a funda CSV of the same 1,384 symbols (both with the
``.1`` duplicate-header artifacts, ~5 % empty cells, and negative
valuation ratios in the funda export), of which 28 (~2 %) are first
listings and the rest drift from their day-0 prices; the scraped sector
and industry overview and performance frames with junk rows; and a
news batch of which ~30 % re-post a URL, half of them one already in
the news table. So the day MERGEs into existing rows, and the news sink
dedups against history, as every production day does. 259 day-0
symbols are absent from the exports (delisted or not traded) and keep
their rows.

``write_day`` returns what the engine must hold once the day is
committed, so the workload can check its outputs.

Sizes without a source in the reference (news volume and history) are
assumptions, named as such where they are set.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import json
import math
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from tradingview_data_pipeline_spark import schemas

POOL = 1643              # ranked symbols once the day is committed (BASELINE.md)
ACTIVE = 1384            # rows of each screener export (BASELINE.md)
LISTINGS = 28            # ~2 % of ACTIVE: symbols first listed on the timed day
N_SECTORS = 20
N_INDUSTRIES = 119
# assumption: the reference scrapes three scrolls of the news feed per run
# (newsflow_scraper.py:147-240) but logs no batch size; 160 posts a day
NEWS_PER_DAY = 160
NEWS_HISTORY_DAYS = 20   # assumption: days of posts already in the news table
REPOST_FRAC = 0.30
TEASER_FRAC = 0.03
NULL_FRAC = 0.05
PRICE_DRIFT = 0.02       # day-over-day log-price standard deviation
NEWS_BASE = "https://in.tradingview.com"
PROVIDERS = ["Reuters", "PTI", "ANI", "Moneycontrol", "ET"]
RATINGS = ["Strong buy", "Buy", "Neutral", "Sell", "Strong sell"]
ANALYST = ["Strong Buy", "Strong buy", "Buy", "Hold", "Neutral", "Sell"]
CAP_BUCKETS = ((100, "Large Cap"), (250, "Mid Cap"), (500, "Small Cap"))
_UNIT = {"T": 1e12, "B": 1e9, "M": 1e6}
DAY1_S = 1_767_258_000   # 2026-01-01 09:00 UTC: the timed day's first post
DAY0 = dt.datetime(2025, 12, 31, 18, 0, tzinfo=dt.timezone.utc)

SECTORS = [f"Sector {chr(65 + i)}{i:02d}" for i in range(N_SECTORS)]
INDUSTRIES = [f"Industry {i:03d}" for i in range(N_INDUSTRIES)]
# every industry belongs to one sector, so sector/industry stay consistent
INDUSTRY_SECTOR = {ind: SECTORS[i % N_SECTORS] for i, ind in enumerate(INDUSTRIES)}

# headers whose value is drawn from a valuation ratio (may be negative)
_VALUATION = {"pe_ratio", "price_to_book_ratio", "price_to_sales_ratio",
              "price_to_earnings_growth_ttm", "enterprise_value_to_ebitda_ttm",
              "price_to_free_cash_flow_ratio", "enterprise_value_to_revenue_ttm"}
_HEALTH = {"debt_to_equity_ratio_quarterly": 5.0, "current_ratio_quarterly": 4.0,
           "quick_ratio_quarterly": 3.0, "ebitda_interest_coverage_ttm": 15.0}


@dataclass
class Symbol:
    ticker: str
    sector: str
    industry: str
    price: float                   # day-0 close
    market_cap: int | None
    shares: int


@dataclass
class DayTruth:
    """What the warehouse must hold once the day has been committed."""
    dir: str
    news_dir: str
    news_offered: int              # raw news rows in the batch
    news_new: int                  # rows the batch adds to the news table
    news_urls: set[str]            # news table keys after the day


class MarketGen:
    def __init__(self, root: str, seed: int) -> None:
        self.root = root
        self.seed = seed
        rng = random.Random(seed)
        self.symbols: list[Symbol] = []
        for i in range(POOL):
            ind = INDUSTRIES[rng.randrange(N_INDUSTRIES)]
            cap = None if rng.random() < 0.03 else int(
                min(2e13, math.exp(rng.gauss(23.5, 2.0))))
            price = round(math.exp(rng.gauss(5.5, 1.2)), 2)
            self.symbols.append(Symbol(
                f"NSE{i:04d}", INDUSTRY_SECTOR[ind], ind, price, cap,
                int(math.exp(rng.gauss(18, 1.5)))))
        self.listed_before = self.symbols[:POOL - LISTINGS]
        self.traded = sorted(self.symbols[POOL - LISTINGS:]
                             + rng.sample(self.listed_before, ACTIVE - LISTINGS),
                             key=lambda s: s.ticker)
        self.price1 = {s.ticker: round(s.price * math.exp(rng.gauss(0.0, PRICE_DRIFT)), 2)
                       for s in self.traded}
        self.history_urls: set[str] = set()

    # -- day 0: yesterday's warehouse -----------------------------------------

    def write_warehouse(self, wh: str) -> None:
        """The tables as the previous day's DAG committed them."""
        rng = random.Random(self.seed * 7_000_003)
        old = self.listed_before
        ts = DAY0
        sd_schema = schemas.stock_data_schema()
        rows = []
        for s in old:
            row = {"last_modified_date": ts}
            for f in sd_schema.fields[:-1]:
                row[f.name] = _typed(self._value(f.name, s, s.price, rng), f.dataType)
            rows.append(row)
        _write_table(os.path.join(wh, "stock_data"), sd_schema, rows)

        by_cap = sorted((s for s in old if s.market_cap is not None),
                        key=lambda s: (-s.market_cap, s.ticker))
        cat = {s.ticker: next((lab for n, lab in CAP_BUCKETS if k < n), "Micro Cap")
               for k, s in enumerate(by_cap)}
        fscore = {s.ticker: round(rng.uniform(0, 100), 6) for s in old}
        frank = {t: k + 1 for k, t in enumerate(sorted(fscore, key=lambda t: (-fscore[t], t)))}
        _write_table(os.path.join(wh, "stock_rankings"), schemas.STOCK_RANKINGS_SCHEMA, [
            {"symbol": s.ticker, "composite_score": round(rng.gauss(0.0, 1.0), 6),
             "market_cap_category": cat.get(s.ticker), "update_date": ts,
             "fundamental_score": fscore[s.ticker], "fundamental_rank": frank[s.ticker],
             "quality_score": round(rng.uniform(0, 100), 6),
             "growth_score": round(rng.uniform(0, 100), 6),
             "valuation_score": round(rng.uniform(0, 100), 6),
             "health_score": round(rng.uniform(0, 100), 6),
             "fundamental_update_date": ts} for s in old])

        for key, names in (("sector", SECTORS), ("industry", INDUSTRIES)):
            sch = schemas.segment_schema(key)
            _write_table(os.path.join(wh, f"{key}_data"), sch, [
                {f.name: (n if f.name == key else ts if f.name == "updated_at" else
                          _typed(f"{rng.uniform(-30, 30):.3f}", f.dataType)
                          if f.dataType.typeName() in ("double", "long") else None)
                 for f in sch.fields} for n in names])

        news = []
        for d in range(NEWS_HISTORY_DAYS, 0, -1):
            for k in range(NEWS_PER_DAY):
                if rng.random() < REPOST_FRAC + TEASER_FRAC:
                    continue                     # re-posts and teasers were dropped
                url = f"{NEWS_BASE}/news/h{self.seed}-{d}-{k}"
                self.history_urls.add(url)
                news.append({"tweet_id": "tv_" + hashlib.md5(url.encode()).hexdigest()[:20],
                             "article_title": f"headline {d}-{k}",
                             "article_description": f"story body {self.seed}-{d}-{k}",
                             "article_url": url, "username": rng.choice(PROVIDERS),
                             "posted_at": _ts(DAY1_S - d * 86_400 + k * 60),
                             "is_critical": rng.random() < 0.05})
        _write_table(os.path.join(wh, "twitter_posted_tweets"), schemas.NEWS_SCHEMA, news)

    # -- day 1: the timed day's files --------------------------------------------

    def write_day(self) -> DayTruth:
        rng = random.Random(self.seed * 1_000_003)
        out = os.path.join(self.root, "day")
        news_dir = os.path.join(self.root, "news")
        os.makedirs(out)
        os.makedirs(news_dir)
        self._write_export(os.path.join(out, "Technicals_day.csv"),
                           schemas.TECHNICAL_HEADER_MAP, rng)
        self._write_export(os.path.join(out, "funda_day.csv"),
                           schemas.FUNDAMENTAL_HEADER_MAP, rng)
        for key, names in (("sector", SECTORS), ("industry", INDUSTRIES)):
            self._write_segment(out, key, names, rng)
        new = self._write_news(os.path.join(news_dir, "news_day.json"), rng)
        return DayTruth(out, news_dir, NEWS_PER_DAY, len(new), self.history_urls | new)

    # -- screener exports -------------------------------------------------

    @staticmethod
    def _num(rng: random.Random, lo: float, hi: float) -> str:
        return "" if rng.random() < NULL_FRAC else f"{rng.uniform(lo, hi):.3f}"

    def _value(self, c: str, s: Symbol, price: float, rng: random.Random) -> str:
        """One screener-export cell of column ``c`` for symbol ``s``."""
        if c == "symbol":
            return s.ticker
        if c == "description":
            return f"{s.ticker} Ltd"
        if c == "sector":
            return s.sector
        if c == "industry":
            return s.industry
        if c == "price":
            return "0.0" if rng.random() < 0.002 else f"{price:.2f}"
        if c == "market_capitalization":
            return "" if s.market_cap is None else str(s.market_cap)
        if c.endswith("_currency"):
            return "INR"
        if c == "analyst_rating":
            return "" if rng.random() < 0.1 else rng.choice(ANALYST)
        if c.startswith(("technical_rating", "moving_averages", "oscillators")):
            return "" if rng.random() < NULL_FRAC else rng.choice(RATINGS)
        if c == "candlestick_pattern_1_day":
            return "" if rng.random() < 0.8 else "Doji"
        if c == "index_memberships":
            return "" if rng.random() < 0.6 else "NIFTY 500, NIFTY 100"
        if c == "shares_outstanding":
            return f"{s.shares:.1f}"                     # float -> long cast path
        if c in _VALUATION:
            # ~15 % loss-makers: negative valuation ratios
            return self._num(rng, -40, -0.5) if rng.random() < 0.15 \
                else self._num(rng, 0.5, 80)
        if c in _HEALTH:
            return self._num(rng, 0, _HEALTH[c])         # crosses the caps
        if c.startswith(("sma_", "bollinger", "target_price_1")):
            return self._num(rng, 0.8 * price, 1.2 * price)
        if c.startswith(("rsi", "stochastic", "ultimate", "adx")):
            return self._num(rng, 0, 100)
        if c.startswith("chaikin"):
            return self._num(rng, -1, 1)
        if c.startswith("macd") and rng.random() < 0.02:
            return "NaN"
        if c.endswith(("_annual", "_ttm", "_quarterly")) and \
                not c.endswith("growth_annual_yoy"):
            return self._num(rng, -5e9, 5e10)
        return self._num(rng, -60, 80)

    def _write_export(self, path: str, header_map: dict[str, str], rng) -> None:
        headers = list(header_map)
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(headers)
            for s in self.traded:
                w.writerow([self._value(header_map[h], s, self.price1[s.ticker], rng)
                            for h in headers])

    # -- scraped segment frames -------------------------------------------

    def _write_segment(self, out: str, key: str, names: list[str], rng) -> None:
        junk = [key.capitalize(), "2026-01-05 update", "Strengths: strong demand",
                "", "X" * 64]
        ov_rows, pf_rows = [], []
        for n in names:
            unit = rng.choice(list(_UNIT))
            ov_rows.append([n, f"{rng.uniform(0.5, 99):.2f}{unit} INR",
                            f"{rng.uniform(0, 4):.2f}%", f"{rng.randint(5, 400)}"])
            pf_rows.append([n] + [
                f"{'−' if rng.random() < 0.4 else '+'}{rng.uniform(0, 30):.2f}%"
                for _ in range(7)])
        # a near-duplicate scrape of one key (whitespace/nbsp variant)
        dup = names[rng.randrange(len(names))]
        ov_rows.append([dup.replace(" ", "\u00a0"), "", "", ""])
        for j in junk:
            ov_rows.append([j, "1.0T INR", "1.0%", "1"])
            pf_rows.append([j] + ["1.0%"] * 7)
        rng.shuffle(ov_rows)
        rng.shuffle(pf_rows)
        with open(os.path.join(out, f"{key}_overview.csv"), "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow([key, "market_cap", "div_yield_indicated", "stocks"])
            w.writerows(ov_rows)
        with open(os.path.join(out, f"{key}_performance.csv"), "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow([key, "change_pct", "perf_1w", "perf_1m", "perf_3m",
                        "perf_6m", "perf_ytd", "perf_1y"])
            w.writerows(pf_rows)

    # -- news ---------------------------------------------------------------

    def _write_news(self, path: str, rng) -> set[str]:
        """Write the batch; returns the URLs it adds to the news table.
        Half the re-posts repeat a URL already in the table, half one
        posted earlier in the batch."""
        history = sorted(h[len(NEWS_BASE):] for h in self.history_urls)
        posted_urls: list[str] = []             # this batch's non-teaser URLs
        new: set[str] = set()
        with open(path, "w") as fh:
            for k in range(NEWS_PER_DAY):
                r = rng.random()
                desc = f"story body {self.seed}-{k}"
                if r < TEASER_FRAC:
                    href = f"/news/t{self.seed}-{k}"
                    desc = "Sign in to read exclusive story"
                elif r < TEASER_FRAC + REPOST_FRAC and (posted_urls or history):
                    pool = posted_urls if posted_urls and (
                        not history or rng.random() < 0.5) else history
                    href = pool[rng.randrange(len(pool))]
                else:
                    href = f"/news/s{self.seed}-{k}"
                    posted_urls.append(href)
                    new.add(NEWS_BASE + href)
                fh.write(json.dumps({
                    "article_title": f"{rng.choice(PROVIDERS)}: headline {k}",
                    "article_description": desc,
                    "article_url": href,
                    "username": rng.choice(PROVIDERS),
                    "posted_at": _iso(DAY1_S + k * 60),
                    "is_critical": None if rng.random() < 0.5 else rng.random() < 0.1,
                }) + "\n")
        return new


# -- plain-layout parquet tables ----------------------------------------------

def _arrow_type(t) -> pa.DataType:
    return {"string": pa.string(), "double": pa.float64(), "long": pa.int64(),
            "integer": pa.int32(), "boolean": pa.bool_(),
            "timestamp": pa.timestamp("us", tz="UTC")}[t.typeName()]


def _typed(v: str, t):
    """A screener-export cell as the column's stored value."""
    if t.typeName() == "string":
        return v or None
    if v in ("", "NaN"):
        return None
    return int(float(v)) if t.typeName() == "long" else float(v)


def _write_table(path: str, struct, rows: list[dict]) -> None:
    """One parquet file holding ``rows`` in the table's schema."""
    schema = pa.schema([pa.field(f.name, _arrow_type(f.dataType)) for f in struct.fields])
    os.makedirs(path)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(path, "part-00000.parquet"))


def _ts(epoch_s: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc)


def _iso(epoch_s: int) -> str:
    return _ts(epoch_s).strftime("%Y-%m-%dT%H:%M:%S")
