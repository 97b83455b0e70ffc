"""``market_daily``: one trading day of the production DAG on a fresh
JVM, against yesterday's warehouse, then a closed-loop screener session.

The day: technical upload, fundamental upload, composite score,
fundamental score, sector and industry segment jobs, and the news
stream (availableNow) — timed from the CSVs landing to every table
committed. The warehouse already holds day 0 (see ``gen_market``), so
the uploads and both scoring jobs MERGE into existing rows and the news
sink dedups against history. The scheduler launches the DAG as a fresh
application, so the day runs cold. Then one client sends
SCREENER_REQUESTS requests through ``run_named_source``, each only
after the previous one returned: symbol lookups with Zipf-skewed
symbol popularity, top-N by composite score, and per-sector listings.
WARMUP_REQUESTS untimed requests go first: a fresh JVM's first requests
run measurably slower.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import time

from perfbench import stats
from perfbench import trace as tr
from perfbench.gen_market import INDUSTRIES, POOL, SECTORS, MarketGen
from perfbench.harness import CheckFailed

# Screener traffic. The reference API server (SURVEY 2.11) logs no
# requests, so the volume, mix and skew are assumptions, not measurements:
SCREENER_REQUESTS = 40      # assumption; p75 is then the highest percentile
                            # with 10 samples beyond it
WARMUP_REQUESTS = 10        # a fresh JVM's first requests run measurably slower
# assumption: a screener UI is mostly single-symbol pages; exact shares,
# seeded order
MIX = (("lookup", 0.6), ("topn", 0.2), ("sector", 0.2))
ZIPF_S = 1.1                # assumption: heavy-tailed symbol popularity
TOP_N = 10                  # the reference's top-10 report (calcompositescore.py:396-399)
LIMIT = 1000                # run_named_source's default row limit
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
RAW_NEWS = ("article_title string, article_description string, article_url string, "
            "username string, posted_at timestamp, is_critical boolean")


class MarketDaily:
    name = "market_daily"
    unit_name = "day"

    def generate(self, work: str, seed: int) -> None:
        self.seed = seed
        self.gen = MarketGen(work, seed)
        self.wh = os.path.join(work, "wh")
        self.gen.write_warehouse(self.wh)
        self.day = self.gen.write_day()
        rng = random.Random(seed + 7)
        self.popular = rng.sample([s.ticker for s in self.gen.symbols], len(self.gen.symbols))
        self.zipf = [1.0 / (k + 1) ** ZIPF_S for k in range(len(self.popular))]
        self.rng = rng

    def hooks(self):
        from tradingview_data_pipeline_spark.operators.merge import ParquetTable
        from tradingview_data_pipeline_spark.plans import composite_score, fundamental_score, jobs
        from tradingview_data_pipeline_spark.serving import api
        return [
            (jobs, "run_technical_upload", "jobs.technical_upload"),
            (jobs, "run_fundamental_upload", "jobs.fundamental_upload"),
            (jobs, "run_composite_job", "jobs.composite"),
            (jobs, "run_fundamental_job", "jobs.fundamental_score"),
            (jobs, "run_segment_job", "jobs.segment"),
            (jobs, "ingest_newest", "csv_adapter.ingest"),
            (composite_score, "composite_scores", "composite_score.build"),
            (fundamental_score, "fundamental_scores", "fundamental_score.build"),
            (ParquetTable, "merge_upsert", "merge.upsert"),
            (ParquetTable, "append_dedup", "merge.upsert"),
            (ParquetTable, "overwrite", "merge.upsert"),
            (ParquetTable, "read", "merge.read"),
            (ParquetTable, "read_key", "merge.read"),
            (api, "run_named_source", "serving.run_named_source"),
        ]

    # -- set-up ---------------------------------------------------------------

    def warmup(self, spark, work: str) -> None:
        """Handles on yesterday's warehouse and the screener's named
        sources over it."""
        from pyspark.sql import functions as F
        from tradingview_data_pipeline_spark.plans import jobs
        from tradingview_data_pipeline_spark.sources.registry import SourceRegistry, SourceSpec

        self.work = work
        self.tables = jobs.warehouse_tables(spark, self.wh)
        rankings, stock = self.tables["stock_rankings"], self.tables["stock_data"]
        reg = SourceRegistry()
        for s in self.gen.symbols:
            reg.add(SourceSpec(f"symbol/{s.ticker}",
                               builder=lambda sp, t=s.ticker: rankings.read_key(t)))
        reg.add(SourceSpec("top/composite", builder=lambda sp: rankings.read().orderBy(
            F.desc_nulls_last("composite_score"), "symbol")))
        for sec in SECTORS:
            reg.add(SourceSpec(f"sector/{sec}", builder=lambda sp, sec=sec: rankings.read().join(
                stock.read().where(F.col("sector") == sec).select("symbol", "sector"), "symbol")
                .orderBy(F.desc_nulls_last("composite_score"), "symbol")))
        self.registry = reg

    # -- the timed unit ---------------------------------------------------

    def unit(self, spark) -> dict:
        t0 = time.perf_counter()
        failed = 0
        try:
            self._run_day(spark, self.day)
        except Exception as e:               # a failed stage fails the day
            print(f"day failed: {e!r}")
            failed = 1
        day_s = time.perf_counter() - t0
        self._screener(spark, WARMUP_REQUESTS)
        lat, cpu, responses = self._screener(spark, SCREENER_REQUESTS)
        self.responses = responses
        return {"day_s": day_s, "lat": lat, "cpu_ms": statistics.median(cpu),
                "attempted": 1 + len(lat),
                "failed": failed + sum(1 for r in responses if r[2] is None)}

    def _run_day(self, spark, day) -> None:
        from tradingview_data_pipeline_spark.plans import jobs
        from tradingview_data_pipeline_spark.streaming.news_dedup import stream_news_to_table
        jobs.run_technical_upload(spark, day.dir, self.tables)
        jobs.run_fundamental_upload(spark, day.dir, self.tables)
        jobs.run_composite_job(spark, self.tables)
        jobs.run_fundamental_job(spark, self.tables)
        for key in ("sector", "industry"):
            ov = spark.read.option("header", True).csv(os.path.join(day.dir, f"{key}_overview.csv"))
            pf = spark.read.option("header", True).csv(os.path.join(day.dir, f"{key}_performance.csv"))
            jobs.run_segment_job(spark, self.tables, ov, pf, key=key)
        with self.tracer.span("news_dedup.ingest"):
            raw = spark.readStream.schema(RAW_NEWS).json(day.news_dir)
            q = stream_news_to_table(raw, self.tables["twitter_posted_tweets"],
                                     os.path.join(self.work, "news_ckpt"))
            q.awaitTermination()

    def _screener(self, spark, n: int):
        from tradingview_data_pipeline_spark.serving import api
        lat, cpu, responses = [], [], []
        kinds = [k for k, share in MIX for _ in range(round(share * n))]
        self.rng.shuffle(kinds)
        for kind in kinds:
            if kind == "lookup":
                arg = self._popular_symbol()
                name, limit = f"symbol/{arg}", LIMIT
            elif kind == "topn":
                arg, name, limit = None, "top/composite", TOP_N
            else:
                arg = self.rng.choice(SECTORS)
                name, limit = f"sector/{arg}", LIMIT
            c0, t0 = stats.cgroup_cpu_s(), time.perf_counter()
            try:
                with self.tracer.span(f"serving.{kind}"):
                    resp = api.run_named_source(spark, self.registry, name, limit=limit)
            except Exception as e:
                print(f"request {name} failed: {e!r}")
                resp = None
            lat.append((kind, (time.perf_counter() - t0) * 1e3))
            cpu.append((stats.cgroup_cpu_s() - c0) * 1e3)
            responses.append((kind, arg, resp))
        return lat, cpu, responses

    def _popular_symbol(self) -> str:
        """Zipf-ranked draw over a fixed popularity order."""
        return self.rng.choices(self.popular, self.zipf)[0]

    # -- checks (outside the timed region) ----------------------------------

    def check(self, spark) -> None:
        """Row counts, every screener response, the news keys, and the
        rankings digest against the one banked for this seed, if any."""
        t, day = self.tables, self.day
        want = {"stock_data": POOL, "stock_rankings": POOL,
                "sector_data": len(SECTORS), "industry_data": len(INDUSTRIES),
                "twitter_posted_tweets": len(day.news_urls)}
        got = {k: t[k].row_count() for k in want}
        if got != want:
            raise CheckFailed(f"row counts {got} != {want}")
        members: dict[str, int] = {}
        for s in self.gen.symbols:
            members[s.sector] = members.get(s.sector, 0) + 1
        for kind, arg, resp in self.responses:
            if resp is None:
                continue
            rows = resp["data"]
            if kind == "lookup":
                ok = len(rows) == 1 and rows[0]["symbol"] == arg
            elif kind == "topn":
                sc = [x.get("composite_score") for x in rows]
                ok = len(rows) == TOP_N and all(
                    a is not None and b is not None and a >= b for a, b in zip(sc, sc[1:]))
            else:
                ok = len(rows) == min(LIMIT, members.get(arg, 0)) and all(
                    x["sector"] == arg for x in rows)
            if not ok:
                raise CheckFailed(f"bad {kind} response for {arg}: {rows[:3]}")
        urls = {r["article_url"] for r in
                t["twitter_posted_tweets"].read().select("article_url").collect()}
        if urls != day.news_urls:
            raise CheckFailed(f"news keys differ: {len(urls)} rows vs {len(day.news_urls)}")
        st = t["stock_rankings"].status()
        self.status = {"files": st["parquet_files"], "bytes_per_row": st["bytes"] / POOL}
        self.digest = rankings_digest(t["stock_rankings"].read())
        with open(DIGESTS) as fh:
            banked = json.load(fh)["digests"]
        key = f"seed{self.seed}"
        if banked.get(key, self.digest) != self.digest:
            raise CheckFailed(f"stock_rankings digest {self.digest} != {banked[key]} ({key})")

    # -- metrics ----------------------------------------------------------

    def e2e(self, sample) -> dict:
        lat = stats.summarize([ms for _, ms in sample["lat"]])
        tail = stats.pct_label(lat["tail_pct"])
        self.extra = {"rankings_digest": self.digest,
                      "market_day_s": f"{sample['day_s']:.4f} s",
                      "screener_p50_ms": f"{lat['p50']:.4f} ms (n={lat['n']})",
                      "screener_tail_ms": f"{lat['tail']:.4f} ms ({tail}, n={lat['n']})",
                      "screener_cpu_ms": f"{sample['cpu_ms']:.4f} ms (median per request, n={lat['n']})"}
        return {"unit_s": (sample["day_s"], "s")}

    def layers(self, sample, spans, root) -> dict:
        tot = tr.outermost_totals(spans)
        reads = tr.outermost_totals(spans, under="serving.")
        out = {f"{n}_s": (tot.get((root, n), 0.0), "s") for n in (
            "csv_adapter.ingest", "composite_score.build", "fundamental_score.build",
            "jobs.technical_upload", "jobs.fundamental_upload", "jobs.composite",
            "jobs.fundamental_score", "jobs.segment", "news_dedup.ingest", "merge.upsert")}
        out["merge.read_s"] = (reads.get((root, "merge.read"), 0.0), "s")
        timed = sample["lat"]
        for kind, _ in MIX:
            ms = [v for k, v in timed if k == kind]
            out[f"serving.{kind}_ms"] = (statistics.median(ms), "ms")
        out["merge.files"] = (self.status["files"], "count")
        out["merge.bytes_per_row"] = (self.status["bytes_per_row"], "B")
        out["news_dedup.kept_ratio"] = (self.day.news_new / self.day.news_offered, "ratio")
        return out


def rankings_digest(df) -> str:
    """Order-independent digest of stock_rankings, timestamps excluded and
    scores rounded to 6 places, so it is stable for a given seed."""
    cols = [c for c in df.columns if not c.endswith("date")]
    lines = sorted("|".join(_canon(r[c]) for c in cols) for r in df.select(*cols).collect())
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def _canon(v) -> str:
    if isinstance(v, float):
        return f"{v:.6f}"
    return "NULL" if v is None else str(v)
