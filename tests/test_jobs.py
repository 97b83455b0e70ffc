"""Lifecycle job runners: the full §3 DAG driven through plans/jobs.py,
including the technical+fundamental MERGE fan-in on stock_data."""

import csv
import random

from tradingview_data_pipeline_spark import schemas
from tradingview_data_pipeline_spark.plans import jobs


def _write_csv(path, header_map, n=30, prefix="SYM"):
    rng = random.Random(11)
    headers = [h for h in header_map if not h.endswith(".1")]
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(headers)
        for i in range(n):
            row = []
            for h in headers:
                c = header_map[h]
                if c == "symbol":
                    row.append(f"{prefix}{i:03d}")
                elif c == "sector":
                    row.append(f"S{i % 3}")
                elif c == "industry":
                    row.append(f"I{i % 5}")
                elif c in ("market_capitalization", "shares_outstanding"):
                    row.append(str(rng.randint(10**8, 10**12)))
                elif c == "analyst_rating":
                    row.append("Buy")
                elif c in schemas._STRING_COLS:
                    row.append("x")
                else:
                    row.append(f"{rng.uniform(1, 99):.2f}")
            w.writerow(row)


def test_full_dag(spark, tmp_path):
    downloads = tmp_path / "downloads"
    downloads.mkdir()
    _write_csv(downloads / "Technicals_1.csv", schemas.TECHNICAL_HEADER_MAP)
    _write_csv(downloads / "funda_1.csv", schemas.FUNDAMENTAL_HEADER_MAP)

    tables = jobs.warehouse_tables(spark, str(tmp_path / "wh"))

    assert jobs.run_technical_upload(spark, str(downloads), tables) == 30
    assert jobs.run_fundamental_upload(spark, str(downloads), tables) == 30

    # fan-in: same rows carry both technical and fundamental columns
    row = tables["stock_data"].read().where("symbol = 'SYM001'").collect()[0]
    assert row["rsi_14_1_day"] is not None          # technical side
    assert row["pe_ratio"] is not None              # fundamental side

    top = jobs.run_composite_job(spark, tables)
    assert top.count() == 10
    r = tables["stock_rankings"].read()
    assert r.where("composite_score is not null").count() == 30

    jobs.run_fundamental_job(spark, tables)
    r = tables["stock_rankings"].read()
    both = r.where("composite_score is not null and fundamental_score is not null")
    assert both.count() == 30
    ranks = sorted(x["fundamental_rank"] for x in
                   r.where("market_cap_category = 'Large Cap'").collect())
    assert ranks == list(range(1, 31))

    # segment job (sector)
    ov = spark.createDataFrame(
        [("Alpha", "2.5T INR", "100"), ("Beta", "1.0T INR", "50")],
        "sector string, market_cap string, stocks string")
    pf = spark.createDataFrame(
        [("Alpha", "+5%", "1", "2", "3", "4", "5", "6"),
         ("Beta", "−5%", "2", "3", "4", "5", "6", "7")],
        "sector string, change_pct string, perf_1w string, perf_1m string, "
        "perf_3m string, perf_6m string, perf_ytd string, perf_1y string")
    assert jobs.run_segment_job(spark, tables, ov, pf, key="sector") == 2
    seg = {r["sector"]: r for r in tables["sector_data"].read().collect()}
    assert seg["Alpha"]["normalized_score_3m"] is not None


def test_job_row_counts_equal_table_scans(spark, tmp_path):
    """The runners return footer row counts (no Spark job); each must
    equal a full scan of the table just committed."""
    downloads = tmp_path / "downloads"
    downloads.mkdir()
    _write_csv(downloads / "Technicals_1.csv", schemas.TECHNICAL_HEADER_MAP,
               n=12)
    _write_csv(downloads / "funda_1.csv", schemas.FUNDAMENTAL_HEADER_MAP,
               n=8, prefix="FUN")
    tables = jobs.warehouse_tables(spark, str(tmp_path / "wh"))
    stock = tables["stock_data"]

    n = jobs.run_technical_upload(spark, str(downloads), tables)
    assert n == stock.read().count() == 12
    n = jobs.run_fundamental_upload(spark, str(downloads), tables)
    assert n == stock.read().count() == 20
    out = jobs.run_backfill(spark, str(downloads), tables)
    assert out["stock_data_rows"] == stock.read().count() == 20

    ov = spark.createDataFrame(
        [("Alpha", "2.5T INR", "100"), ("Beta", "1.0T INR", "50"),
         ("Gamma", "0.5T INR", "10")],
        "sector string, market_cap string, stocks string")
    pf = spark.createDataFrame(
        [(s, "+1%", "1", "2", "3", "4", "5", "6")
         for s in ("Alpha", "Beta", "Gamma")],
        "sector string, change_pct string, perf_1w string, perf_1m string, "
        "perf_3m string, perf_6m string, perf_ytd string, perf_1y string")
    n = jobs.run_segment_job(spark, tables, ov, pf, key="sector")
    assert n == tables["sector_data"].read().count() == 3


def test_missing_download_is_noop(spark, tmp_path):
    tables = jobs.warehouse_tables(spark, str(tmp_path / "wh2"))
    assert jobs.run_technical_upload(spark, str(tmp_path / "empty"), tables) == 0


def test_backfill_replays_history_in_mtime_order(spark, tmp_path):
    import os
    import time

    downloads = tmp_path / "hist"
    downloads.mkdir()
    # two generations of the technical file: day1 then day2 (mtime order
    # must drive the replay so day2's values win the final MERGE)
    _write_csv(downloads / "Technicals_day2.csv",
               schemas.TECHNICAL_HEADER_MAP, n=10, prefix="NEW")
    _write_csv(downloads / "Technicals_day1.csv",
               schemas.TECHNICAL_HEADER_MAP, n=10, prefix="OLD")
    now = time.time()
    os.utime(downloads / "Technicals_day1.csv", (now - 200, now - 200))
    os.utime(downloads / "Technicals_day2.csv", (now - 100, now - 100))
    _write_csv(downloads / "funda_day1.csv",
               schemas.FUNDAMENTAL_HEADER_MAP, n=10, prefix="NEW")

    tables = jobs.warehouse_tables(spark, str(tmp_path / "wh"))
    out = jobs.run_backfill(spark, str(downloads), tables)
    assert out["technical_files"] == 2
    assert out["fundamental_files"] == 1
    assert out["stock_data_rows"] == 20            # OLD000-9 + NEW000-9
    # fundamental columns merged onto the NEW generation's rows
    row = tables["stock_data"].read().where("symbol = 'NEW001'").collect()[0]
    assert row["rsi_14_1_day"] is not None and row["pe_ratio"] is not None

    # idempotent: re-running the backfill converges to the same table
    again = jobs.run_backfill(spark, str(downloads), tables)
    assert again["stock_data_rows"] == 20

    st = tables["stock_data"].status()          # warehouse table is plain
    assert st["layout"] == "plain" and st["parquet_files"] > 0
    assert st["bytes"] > 0


_FACTORY_MODE = "spark.sql.codegen.factoryMode"


def _spy_factory_mode(monkeypatch, module, name, seen):
    """Append to ``seen`` the codegen factory mode each call of
    ``module.name(df, ...)`` runs under."""
    orig = getattr(module, name)

    def spy(df, *a, **kw):
        seen.append(df.sparkSession.conf.get(_FACTORY_MODE, None))
        return orig(df, *a, **kw)
    monkeypatch.setattr(module, name, spy)


def _rankings(table):
    df = table.read()
    cols = [c for c in df.columns if not c.endswith("date")]
    return sorted(tuple(round(v, 6) if isinstance(v, float) else v
                        for v in r) for r in df.select(*cols).collect())


def _score_day(spark, downloads, wh):
    tables = jobs.warehouse_tables(spark, wh)
    jobs.run_technical_upload(spark, downloads, tables)
    jobs.run_fundamental_upload(spark, downloads, tables)
    jobs.run_composite_job(spark, tables)
    jobs.run_fundamental_job(spark, tables)
    return tables


def test_interpreted_rankings_equal_compiled(spark, tmp_path, monkeypatch):
    """The runners score a small table interpreted (the session's
    small-plan posture); the same runners with the posture off compile.
    stock_rankings must agree on every column to 6 dp."""
    from tradingview_data_pipeline_spark import session
    from tradingview_data_pipeline_spark.plans import composite_score as cs
    from tradingview_data_pipeline_spark.plans import fundamental_score as fs

    downloads = tmp_path / "downloads"
    downloads.mkdir()
    _write_csv(downloads / "Technicals_1.csv", schemas.TECHNICAL_HEADER_MAP, n=40)
    _write_csv(downloads / "funda_1.csv", schemas.FUNDAMENTAL_HEADER_MAP, n=40)
    seen = []
    _spy_factory_mode(monkeypatch, cs, "composite_scores", seen)
    _spy_factory_mode(monkeypatch, fs, "fundamental_scores", seen)

    interpreted = _score_day(spark, str(downloads), str(tmp_path / "wh_i"))
    assert seen == ["NO_CODEGEN", "NO_CODEGEN"]
    monkeypatch.setattr(session, "SMALL_PLAN_MAX_ROWS", -1)
    compiled = _score_day(spark, str(downloads), str(tmp_path / "wh_c"))
    assert seen[2:] == [None, None]
    want = _rankings(compiled["stock_rankings"])
    assert len(want) == 40
    assert _rankings(interpreted["stock_rankings"]) == want

    # bound 0: a 40-row table is above it, so codegen stays on
    monkeypatch.setattr(session, "SMALL_PLAN_MAX_ROWS", 0)
    jobs.run_composite_job(spark, interpreted)
    assert seen[4:] == [None]
    assert _rankings(interpreted["stock_rankings"]) == want
    assert spark.conf.get(_FACTORY_MODE, None) is None


def test_runner_restores_codegen_setting(spark, tmp_path, monkeypatch):
    downloads = tmp_path / "downloads"
    downloads.mkdir()
    _write_csv(downloads / "Technicals_1.csv", schemas.TECHNICAL_HEADER_MAP, n=5)
    tables = jobs.warehouse_tables(spark, str(tmp_path / "wh"))
    modes = []
    orig = jobs.ingest_newest

    def ingest(sp, *a):
        modes.append(sp.conf.get(_FACTORY_MODE, None))
        return orig(sp, *a)
    monkeypatch.setattr(jobs, "ingest_newest", ingest)
    assert jobs.run_technical_upload(spark, str(downloads), tables) == 5
    assert modes == ["NO_CODEGEN"]
    assert spark.conf.get(_FACTORY_MODE, None) is None

    def broken(sp, *a):
        modes.append(sp.conf.get(_FACTORY_MODE, None))
        raise RuntimeError("bad download")
    monkeypatch.setattr(jobs, "ingest_newest", broken)
    try:
        jobs.run_fundamental_upload(spark, str(downloads), tables)
    except RuntimeError:
        pass
    else:
        raise AssertionError("the runner swallowed the error")
    assert modes == ["NO_CODEGEN", "NO_CODEGEN"]
    assert spark.conf.get(_FACTORY_MODE, None) is None


def test_cli_reports_job_status_to_webhook(spark, tmp_path, monkeypatch):
    """CLI e2e: `jobs technical --webhook-url ...` runs the pipeline and
    delivers the ✅ report (reference run_technical.sh wrapper parity)."""
    import http.server
    import json
    import threading

    received = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            received.append(json.loads(self.rfile.read(n)))
            self.send_response(204)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        downloads = tmp_path / "dl"
        downloads.mkdir()
        _write_csv(downloads / "Technicals_1.csv", schemas.TECHNICAL_HEADER_MAP)
        # the CLI owns a session in production; under the shared test
        # fixture its stop() must not tear the fixture down
        monkeypatch.setattr(type(spark), "stop", lambda self: None)
        jobs.main(["technical", "--downloads-dir", str(downloads),
                   "--warehouse", str(tmp_path / "wh"),
                   "--webhook-url",
                   f"http://127.0.0.1:{srv.server_port}/hook"])
    finally:
        srv.shutdown()
    assert len(received) == 1
    msg = received[0]["content"]
    assert "✅ **Technical Pipeline Success**" in msg
    assert "stock_data_rows: 30" in msg
    assert "codegen_classes: " in msg
    assert "jit_ms: " in msg


def test_cli_reconcile_detects_divergence(spark, tmp_path, capsys,
                                          monkeypatch):
    """Drives the actual `jobs reconcile --against` CLI branch: clean
    copies exit 0 with OK lines, a tampered copy exits 1 and prints
    DIVERGENT."""
    import pytest

    downloads = tmp_path / "downloads"
    downloads.mkdir()
    _write_csv(downloads / "Technicals_1.csv", schemas.TECHNICAL_HEADER_MAP)

    wh_a = jobs.warehouse_tables(spark, str(tmp_path / "wa"))
    wh_b = jobs.warehouse_tables(spark, str(tmp_path / "wb"))
    jobs.run_technical_upload(spark, str(downloads), wh_a)
    jobs.run_technical_upload(spark, str(downloads), wh_b)

    # the CLI owns a session in production; under the shared fixture its
    # stop() must not tear the fixture down
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    argv = ["reconcile", "--warehouse", str(tmp_path / "wa"),
            "--against", str(tmp_path / "wb")]

    jobs.main(argv)                               # clean: exit 0 (no raise)
    out = capsys.readouterr().out
    assert "stock_data OK" in out and "DIVERGENT" not in out

    # tamper with copy B -> the CLI flags it and exits 1
    wh_b["stock_data"].update_where(spark.createDataFrame(
        [("SYM003", 99.0)], "symbol string, rsi_14_1_day double"))
    with pytest.raises(SystemExit) as exc:
        jobs.main(argv)
    assert exc.value.code == 1
    assert "stock_data DIVERGENT" in capsys.readouterr().out

    # missing --against is a loud usage error
    with pytest.raises(SystemExit):
        jobs.main(["reconcile", "--warehouse", str(tmp_path / "wa")])


def test_cli_reconcile_flags_missing_column(spark, tmp_path, capsys,
                                            monkeypatch):
    """Regression (ADVICE r6): a replica that is entirely missing a
    column — a real migration divergence, e.g. a schema-evolved handle
    on one side — must print DIVERGENT and exit 1 even when every
    SHARED column matches (previously the intersection fingerprint
    printed OK)."""
    import pytest

    downloads = tmp_path / "downloads"
    downloads.mkdir()
    _write_csv(downloads / "Technicals_1.csv", schemas.TECHNICAL_HEADER_MAP)
    wh_a = jobs.warehouse_tables(spark, str(tmp_path / "wa"))
    wh_b = jobs.warehouse_tables(spark, str(tmp_path / "wb"))
    jobs.run_technical_upload(spark, str(downloads), wh_a)
    jobs.run_technical_upload(spark, str(downloads), wh_b)

    real = jobs.warehouse_tables

    def dropping(spark_, warehouse):
        tables = real(spark_, warehouse)
        if warehouse.endswith("wb"):
            t = tables["stock_data"]
            orig = t.read
            t.read = lambda version=None: orig(version).drop("rsi_14_1_day")
        return tables

    monkeypatch.setattr(jobs, "warehouse_tables", dropping)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    with pytest.raises(SystemExit) as exc:
        jobs.main(["reconcile", "--warehouse", str(tmp_path / "wa"),
                   "--against", str(tmp_path / "wb")])
    assert exc.value.code == 1
    out = capsys.readouterr().out
    assert "stock_data DIVERGENT columns" in out
    assert "rsi_14_1_day" in out


def test_cli_corpus_prep_end_to_end(spark, tmp_path, capsys, monkeypatch):
    """Full corpus-prep pipeline over the sf0.001 documents table via
    the CLI: shards land on disk per split, the output has no exact
    duplicates, no near-dup cluster straddles two splits, and the
    reported metric arithmetic is consistent."""
    import os

    from pyspark.sql import functions as F

    out = tmp_path / "corpus"
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    jobs.main(["corpus-prep",
               "--docs-parquet", "/root/testdata/sf0.001/documents.parquet",
               "--out-dir", str(out)])
    report = capsys.readouterr().out
    assert "Corpus Prep Success" in report

    splits = sorted(p for p in os.listdir(out) if p.startswith("split="))
    assert "split=train" in splits
    frames = {s.split("=")[1]: spark.read.parquet(str(out / s))
              for s in splits}
    full = None
    for name, df in frames.items():
        df = df.withColumn("split", F.lit(name))
        full = df if full is None else full.unionByName(df)

    # no exact duplicate texts in the output
    assert full.groupBy("text").count().where("count > 1").count() == 0
    # leakage safety: every cluster lives in exactly one split
    assert (full.groupBy("cluster_id")
            .agg(F.countDistinct("split").alias("ns"))
            .where("ns > 1").count()) == 0
    # metrics arithmetic: input >= exact-dedup >= final = sum of splits
    import re
    m = {k: int(v) for k, v in re.findall(r"(\w+): (\d+)", report)}
    assert m["input_rows"] >= m["after_exact_dedup"] \
        >= m["after_near_dedup_and_quality"] > 0
    assert m["after_near_dedup_and_quality"] == full.count() \
        == m["train_rows"] + m["val_rows"] + m["test_rows"]
    assert m["total_tokens"] > 0


def test_corpus_prep_all_filtered_reports_zero_metrics(spark, tmp_path):
    """Regression (review r7): a corpus where every document fails the
    quality gate must return zero-row metrics, not crash reading back
    an empty partitioned directory."""
    from tradingview_data_pipeline_spark.plans import corpus_pipeline

    junk = spark.createDataFrame([(1, ""), (2, "   ")],
                                 "doc_id long, text string")
    m = corpus_pipeline.run_corpus_prep(spark, junk, str(tmp_path / "out"))
    assert m["after_near_dedup_and_quality"] == 0
    assert m["train_rows"] == m["val_rows"] == m["test_rows"] == 0
    assert m["total_tokens"] == 0


def test_corpus_prep_frees_its_checkpoints(spark, tmp_path):
    """Once the shards land and the metrics are read back,
    run_corpus_prep frees its pins and checkpoints (the clusters frame,
    the shingle and band substrates, the CC rounds): no tracked
    checkpoint stays live and no RDD it cached is still stored."""
    from tradingview_data_pipeline_spark.operators import pins
    from tradingview_data_pipeline_spark.plans import corpus_pipeline

    def stored():
        return {i.id() for i in
                spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = stored()
    docs = _corpus_batch(spark, [(i, _variant(i % 4)) for i in range(8)]
                         + [(9, CLEAN_DOC)])
    m = corpus_pipeline.run_corpus_prep(spark, docs, str(tmp_path / "out"),
                                        quality_min=0.0)
    assert m["after_exact_dedup"] == 5
    assert m["after_near_dedup_and_quality"] >= 2
    assert pins._LIVE_CKPT == []
    assert stored() <= before


def _corpus_batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india "
              "juliet kilo lima mike november oscar papa quebec romeo "
              "sierra tango uniform victor whiskey xray yankee zulu one "
              "two three four five six seven eight nine ten eleven "
              "twelve thirteen fourteen")


def _variant(swap_at, token="dup"):
    ws = BASE_WORDS.split()
    ws[swap_at] = token
    return " ".join(ws)


def test_incremental_builder_url_stage(spark, tmp_path):
    """url_col wires address-level dedup as the FIRST stage: re-crawled
    URLs drop before any text work, within and across batches; docs
    without a parseable URL always pass; replay converges."""
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    b = IncrementalCorpusBuilder(spark, str(tmp_path / "state"),
                                 quality_min=0.0, url_col="url")
    sch = "doc_id long, text string, url string"
    m1 = b.add_batch(spark.createDataFrame([
        (1, BASE_WORDS, "https://www.a.com/x?utm_source=s"),
        (2, "completely different words entirely here about other topics "
            "with many extra tokens to make shingles " * 2,
         "http://a.com/x"),          # same canonical URL as doc 1
        (3, _variant_text(), "no url at all"),   # passthrough
    ], sch))
    assert m1["url_dropped_docs"] == 1
    assert m1["appended"] == 2 and m1["corpus_rows"] == 2

    # second batch: re-crawl of doc 1's URL drops BEFORE text stages —
    # its text is brand-new (would survive content dedup) yet never lands
    m2 = b.add_batch(spark.createDataFrame([
        (10, "entirely novel text that no content stage would drop "
             "with plenty of distinct vocabulary " * 2,
         "https://A.com/x/"),
    ], sch))
    assert m2 == {"batch_rows": 1, "url_dropped_docs": 1,
                  "after_quality_and_exact": 0, "neardup_dropped": 0,
                  "appended": 0, "corpus_rows": 2}
    # replay converges (the echo rule)
    m2r = b.add_batch(spark.createDataFrame([
        (10, "entirely novel text that no content stage would drop "
             "with plenty of distinct vocabulary " * 2,
         "https://A.com/x/"),
    ], sch))
    assert m2r["appended"] == 0 and m2r["corpus_rows"] == 2


def _variant_text():
    return ("a fresh unrelated document with plenty of novel words "
            "covering totally new material and nothing shared " * 2)


def test_incremental_corpus_builder_dedups_across_batches(spark, tmp_path):
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    b = IncrementalCorpusBuilder(spark, str(tmp_path / "state"),
                                 quality_min=0.0)
    m1 = b.add_batch(_corpus_batch(spark, [
        (1, BASE_WORDS),
        (2, "completely different words entirely here about other topics "
            "with many extra tokens to make shingles " * 2),
    ]))
    assert m1 == {"batch_rows": 2, "after_quality_and_exact": 2,
                  "neardup_dropped": 0, "appended": 2, "corpus_rows": 2}

    m2 = b.add_batch(_corpus_batch(spark, [
        (3, BASE_WORDS),            # exact dup of doc 1 -> dropped
        (4, _variant(10)),          # near-dup of doc 1 -> dropped
        (5, "a fresh unrelated document with plenty of novel words "
            "covering totally new material and nothing shared " * 2),
        (6, _variant(20, "aaa")),   # near-dup of doc 1 -> dropped
    ]))
    assert m2["batch_rows"] == 4
    assert m2["after_quality_and_exact"] == 3      # exact dup gone
    assert m2["neardup_dropped"] == 2              # docs 4 and 6
    assert m2["appended"] == 1 and m2["corpus_rows"] == 3
    ids = sorted(r["doc_id"] for r in b.corpus.read().collect())
    assert ids == [1, 2, 5]
    # every corpus row carries a split and token count
    rows = b.corpus.read().collect()
    assert all(r["split"] in ("train", "val", "test") and r["n_tokens"] > 0
               for r in rows)


def test_incremental_corpus_builder_transitive_and_replay(spark, tmp_path):
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    state = str(tmp_path / "state")
    b = IncrementalCorpusBuilder(spark, state, quality_min=0.0)
    b.add_batch(_corpus_batch(spark, [(1, BASE_WORDS)]))
    batch2 = _corpus_batch(spark, [(2, _variant(10))])   # dropped near-dup
    m2 = b.add_batch(batch2)
    assert m2["appended"] == 0 and m2["neardup_dropped"] == 1

    # transitive: doc 3 matches the DROPPED doc 2's text exactly except
    # one more swap — still a near-dup of SEEN content, must be dropped
    ws = _variant(10).split()
    ws[25] = "bbb"
    m3 = b.add_batch(_corpus_batch(spark, [(3, " ".join(ws))]))
    assert m3["appended"] == 0 and m3["neardup_dropped"] == 1

    # replay idempotence: re-adding batch2 appends nothing (exact hash
    # already in the seen store)
    m2r = b.add_batch(batch2)
    assert m2r["after_quality_and_exact"] == 0 and m2r["appended"] == 0

    # state persists across builder instances
    b2 = IncrementalCorpusBuilder(spark, state, quality_min=0.0)
    m4 = b2.add_batch(_corpus_batch(spark, [(4, _variant(30, "ccc"))]))
    assert m4["appended"] == 0 and m4["neardup_dropped"] == 1
    assert b2.corpus.row_count() == 1


def test_incremental_corpus_builder_within_batch_component(spark, tmp_path):
    """A within-batch near-dup component keeps exactly its min doc_id."""
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    b = IncrementalCorpusBuilder(spark, str(tmp_path / "state"),
                                 quality_min=0.0)
    m = b.add_batch(_corpus_batch(spark, [
        (10, BASE_WORDS),
        (11, _variant(5)),
        (12, _variant(15, "zzz")),
    ]))
    assert m["appended"] == 1
    assert [r["doc_id"] for r in b.corpus.read().collect()] == [10]


def test_incremental_builder_crash_between_commits_converges(
        spark, tmp_path, monkeypatch):
    """add_batch writes FOUR manifest commits (index sigs -> corpus ->
    seen -> hash gate). A crash in ANY window between them must leave a
    state that a plain replay of the same batch converges to the
    no-crash result: every pre-gate write is an idempotent upsert, and
    the gate (hashes) commits last, so an un-gated batch is always
    fully re-processed."""
    import pytest

    from tradingview_data_pipeline_spark.operators.merge import ParquetTable
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    batch1 = [(1, BASE_WORDS),
              (2, "completely different words entirely here about other "
                  "topics with many extra tokens to make shingles " * 2)]
    batch2 = [(3, BASE_WORDS),          # exact dup -> dropped
              (4, _variant(10)),        # near-dup  -> dropped
              (5, "a fresh unrelated document with plenty of novel words "
                  "covering totally new material and nothing shared " * 2)]

    def state_of(b):
        return (sorted(tuple(r) for r in b.corpus.read().collect()),
                sorted(tuple(r) for r in b.seen.read().collect()),
                sorted(tuple(r) for r in b.hashes.read().collect()),
                sorted(tuple(r) for r in b.index.table.read().collect()))

    ref = IncrementalCorpusBuilder(spark, str(tmp_path / "ref"),
                                   quality_min=0.0)
    ref.add_batch(_corpus_batch(spark, batch1))
    ref.add_batch(_corpus_batch(spark, batch2))
    want = state_of(ref)

    real = ParquetTable.merge_upsert
    # windows: after index commit / after corpus / after seen (the
    # crash kills commit crash_after+1 of batch 2's four)
    for crash_after in (1, 2, 3):
        state = str(tmp_path / f"s{crash_after}")
        b = IncrementalCorpusBuilder(spark, state, quality_min=0.0)
        b.add_batch(_corpus_batch(spark, batch1))

        calls = {"n": 0}

        def crashing(self, df, **kw):
            calls["n"] += 1
            if calls["n"] > crash_after:
                raise OSError("simulated crash between batch commits")
            return real(self, df, **kw)

        monkeypatch.setattr(ParquetTable, "merge_upsert", crashing)
        with pytest.raises(OSError, match="simulated crash"):
            b.add_batch(_corpus_batch(spark, batch2))
        monkeypatch.undo()

        b2 = IncrementalCorpusBuilder(spark, state, quality_min=0.0)
        m = b2.add_batch(_corpus_batch(spark, batch2))    # plain replay
        assert state_of(b2) == want, f"window after commit {crash_after}"
        assert m["appended"] <= 1                         # no double-adds


def test_corpus_prep_remove_spans_stage(spark, tmp_path):
    """remove_spans=True adds the substring-level pass after document
    dedup: a shared 8-gram run between otherwise-different docs (below
    the Jaccard threshold, so both survive clustering) is kept only in
    its min-doc owner; the other copy is excised from the shipped
    shards."""
    from tradingview_data_pipeline_spark.plans import corpus_pipeline

    shared = "one two three four five six seven eight"
    tail_a = ("completely separate material about alpha beta gamma delta "
              "epsilon zeta eta theta iota kappa " * 2)
    tail_b = ("unrelated second story covering música física química "
              "baloncesto fútbol tenis golf rugby cricket " * 2)
    docs = spark.createDataFrame(
        [(1, shared + " " + tail_a),
         (2, shared + " " + tail_b)],
        "doc_id long, text string")
    m = corpus_pipeline.run_corpus_prep(
        spark, docs, str(tmp_path / "out"), quality_min=0.0,
        remove_spans=True)
    assert m["after_near_dedup_and_quality"] == 2     # both docs survive
    texts = {r["doc_id"]: r["text"] for r in
             spark.read.parquet(str(tmp_path / "out")).collect()}
    assert texts[1].startswith(shared)                # owner keeps span
    assert shared not in texts[2]                     # copy excised
    assert "unrelated second story" in texts[2]       # tail intact


SPAN = "one two three four five six seven eight"
TAIL_A = ("completely separate material about alpha beta gamma delta "
          "epsilon zeta eta theta iota kappa " * 2)
TAIL_B = ("unrelated second story covering painting sculpture cinema "
          "architecture poetry dance opera theatre " * 2)
TAIL_C = ("third body of text mentioning rivers mountains valleys "
          "deserts forests glaciers canyons islands " * 2)


def test_incremental_builder_remove_spans_across_batches(spark, tmp_path):
    """remove_spans=True cuts spans shared with the ALREADY-SHIPPED
    corpus (keep-one-copy across batches: the first shipper retains),
    and within a batch the min-doc owner retains; replayed batches cut
    identically even with their own grams committed (owner-in-batch
    hits are ignored)."""
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    b = IncrementalCorpusBuilder(spark, str(tmp_path / "state"),
                                 quality_min=0.0, remove_spans=True)
    m1 = b.add_batch(_corpus_batch(spark, [(1, SPAN + " " + TAIL_A)]))
    assert m1["appended"] == 1 and m1["span_cut_tokens"] == 0

    # doc 2 shares only the 8-word span (Jaccard far below 0.5, so it
    # survives document-level dedup) -> the span is excised, tail kept
    batch2 = _corpus_batch(spark, [(2, SPAN + " " + TAIL_B)])
    m2 = b.add_batch(batch2)
    assert m2["appended"] == 1 and m2["span_cut_tokens"] == 8
    texts = {r["doc_id"]: r["text"] for r in b.corpus.read().collect()}
    assert texts[1].startswith("one two three")          # shipper keeps
    assert SPAN not in texts[2]
    assert "unrelated second story" in texts[2]

    # within-batch sharing: the min doc_id retains its copy
    span2 = "nine ten eleven twelve thirteen fourteen fifteen sixteen"
    m3 = b.add_batch(_corpus_batch(spark, [
        (10, span2 + " " + TAIL_C),
        (11, span2 + " different closing words about astronomy physics "
             "chemistry biology geology meteorology oceanography " * 2)]))
    assert m3["appended"] == 2 and m3["span_cut_tokens"] == 8
    texts = {r["doc_id"]: r["text"] for r in b.corpus.read().collect()}
    assert texts[10].startswith(span2)
    assert span2 not in texts[11]

    # replay: the hash gate blocks re-processing entirely
    m2r = b.add_batch(batch2)
    assert m2r["appended"] == 0 and m2r["span_cut_tokens"] == 0


def test_incremental_builder_remove_spans_crash_converges(
        spark, tmp_path, monkeypatch):
    """With remove_spans the per-batch chain is FIVE commits (index ->
    corpus -> seen -> grams -> hash gate). A crash in any window must
    replay to the no-crash state — the gram window (4) is the
    interesting one: the replayed batch sees its OWN committed grams
    and must ignore them (owner-in-batch exclusion) instead of cutting
    its first-copy spans."""
    import pytest

    from tradingview_data_pipeline_spark.operators.merge import ParquetTable
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    batch1 = [(1, SPAN + " " + TAIL_A)]
    batch2 = [(2, SPAN + " " + TAIL_B),
              (3, "wholly new content with no shared spans at all "
                  "covering gardening cooking carpentry plumbing " * 2)]

    def state_of(b):
        return (sorted(tuple(r) for r in b.corpus.read().collect()),
                sorted(tuple(r) for r in b.seen.read().collect()),
                sorted(tuple(r) for r in b.hashes.read().collect()),
                sorted(tuple(r) for r in b.grams.read().collect()))

    ref = IncrementalCorpusBuilder(spark, str(tmp_path / "ref"),
                                   quality_min=0.0, remove_spans=True)
    ref.add_batch(_corpus_batch(spark, batch1))
    ref.add_batch(_corpus_batch(spark, batch2))
    want = state_of(ref)

    real = ParquetTable.merge_upsert
    for crash_after in (1, 2, 3, 4):
        state = str(tmp_path / f"s{crash_after}")
        b = IncrementalCorpusBuilder(spark, state, quality_min=0.0,
                                     remove_spans=True)
        b.add_batch(_corpus_batch(spark, batch1))

        calls = {"n": 0}

        def crashing(self, df, **kw):
            calls["n"] += 1
            if calls["n"] > crash_after:
                raise OSError("simulated crash between batch commits")
            return real(self, df, **kw)

        monkeypatch.setattr(ParquetTable, "merge_upsert", crashing)
        with pytest.raises(OSError, match="simulated crash"):
            b.add_batch(_corpus_batch(spark, batch2))
        monkeypatch.undo()

        b2 = IncrementalCorpusBuilder(spark, state, quality_min=0.0,
                                      remove_spans=True)
        b2.add_batch(_corpus_batch(spark, batch2))
        assert state_of(b2) == want, f"window after commit {crash_after}"


def test_incremental_builder_first_batch_crash_no_false_backfill(
        spark, tmp_path, monkeypatch):
    """Regression (r8 review): a crash inside the FIRST batch of a
    fresh remove_spans state dir (seen committed, gram store and hash
    gate not) must NOT be mistaken for a legacy dir on restart — the
    legacy backfill would derive the gate from seen and permanently
    skip the batch's gram commits. The gate table is now created empty
    at first init, so replay re-processes the batch fully."""
    import pytest

    from tradingview_data_pipeline_spark.operators.merge import ParquetTable
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    batch1 = [(1, SPAN + " " + TAIL_A)]
    batch2 = [(2, SPAN + " " + TAIL_B)]

    ref = IncrementalCorpusBuilder(spark, str(tmp_path / "ref"),
                                   quality_min=0.0, remove_spans=True)
    ref.add_batch(_corpus_batch(spark, batch1))
    m_ref = ref.add_batch(_corpus_batch(spark, batch2))
    assert m_ref["span_cut_tokens"] == 8

    state = str(tmp_path / "state")
    b = IncrementalCorpusBuilder(spark, state, quality_min=0.0,
                                 remove_spans=True)
    real = ParquetTable.merge_upsert
    calls = {"n": 0}

    def crashing(self, df, **kw):
        calls["n"] += 1
        if calls["n"] > 3:          # index, corpus, seen ok; grams dies
            raise OSError("simulated crash in first batch")
        return real(self, df, **kw)

    monkeypatch.setattr(ParquetTable, "merge_upsert", crashing)
    with pytest.raises(OSError, match="simulated crash"):
        b.add_batch(_corpus_batch(spark, batch1))
    monkeypatch.undo()

    # restart: must NOT backfill the gate from seen (batch 1 is not
    # gated yet); full replay re-runs it, then batch 2 cuts the span
    b2 = IncrementalCorpusBuilder(spark, state, quality_min=0.0,
                                  remove_spans=True)
    m1 = b2.add_batch(_corpus_batch(spark, batch1))
    assert m1["appended"] == 1          # replay actually re-processed
    m2 = b2.add_batch(_corpus_batch(spark, batch2))
    assert m2["span_cut_tokens"] == 8   # gram store converged
    assert m2["span_dropped_docs"] == 0
    texts = {r["doc_id"]: r["text"] for r in b2.corpus.read().collect()}
    assert SPAN not in texts[2] and texts[1].startswith("one two")


# --- repetition gate (Gopher/C4 within-document filters) -------------------

REPETITIVE = "spam spam spam spam spam spam spam spam spam spam spam spam"
CLEAN_DOC = ("a genuinely varied document discussing many distinct topics "
             "with no repeated lines or phrases whatsoever in its body "
             "covering history science art music travel and cooking")


def test_corpus_prep_repetition_gate_drops_spammy_docs(spark, tmp_path):
    """repetition_limits cuts the all-one-word doc (top_2gram_frac = 1)
    while the varied doc sails through; metrics count the cut at the
    quality stage (same map-side gate)."""
    from tradingview_data_pipeline_spark.plans import corpus_pipeline

    docs = _corpus_batch(spark, [(1, CLEAN_DOC), (2, REPETITIVE)])
    m = corpus_pipeline.run_corpus_prep(
        spark, docs, str(tmp_path / "out"), quality_min=0.0,
        repetition_limits={"top_2gram_frac": 0.5})
    assert m["after_near_dedup_and_quality"] == 1
    out = spark.read.parquet(str(tmp_path / "out")).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_corpus_prep_learned_quality_gate(spark, tmp_path):
    """quality_model=(weights, min_log_odds) drops docs the trained
    classifier scores below threshold, AFTER the heuristic gates; the
    reference set trains outside the pipeline (classify.py)."""
    from tradingview_data_pipeline_spark.operators import classify as cl
    from tradingview_data_pipeline_spark.plans import corpus_pipeline

    train = spark.createDataFrame(
        [(100, CLEAN_DOC, True),
         (101, "another informative varied piece about science and art "
               "history music travel cooking with careful writing", True),
         (102, "buy cheap pills click here winner prize spam offer", False),
         (103, "click buy spam winner cheap prize pills offer now", False)],
        "doc_id long, text string, y boolean")
    weights = cl.token_class_weights(train, "text", "y")
    docs = _corpus_batch(spark, [
        (1, CLEAN_DOC),
        (2, "cheap pills spam winner prize click buy offer here today "
            "winner cheap prize spam pills click buy offer now indeed")])
    m = corpus_pipeline.run_corpus_prep(
        spark, docs, str(tmp_path / "out"), quality_min=0.0,
        quality_model=(weights, 0.0))
    assert m["after_near_dedup_and_quality"] == 1
    out = spark.read.parquet(str(tmp_path / "out")).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_corpus_prep_logreg_quality_gate(spark, tmp_path):
    """quality_model=(LogRegModel, min_margin) — the fastText-style
    linear filter plugs into the same learned-gate slot, dispatched on
    model type (_apply_quality_model)."""
    from tradingview_data_pipeline_spark.operators import classify as cl
    from tradingview_data_pipeline_spark.plans import corpus_pipeline

    train = spark.createDataFrame(
        [(100, CLEAN_DOC, True),
         (101, "another informative varied piece about science and art "
               "history music travel cooking with careful writing", True),
         (102, "buy cheap pills click here winner prize spam offer", False),
         (103, "click buy spam winner cheap prize pills offer now", False)],
        "doc_id long, text string, y boolean")
    model = cl.logreg_train(train, "text", "y", n_buckets=4096,
                            iters=30, lr=1.0)
    docs = _corpus_batch(spark, [
        (1, CLEAN_DOC),
        (2, "cheap pills spam winner prize click buy offer here today "
            "winner cheap prize spam pills click buy offer now indeed")])
    m = corpus_pipeline.run_corpus_prep(
        spark, docs, str(tmp_path / "out"), quality_min=0.0,
        quality_model=(model, 0.0))
    assert m["after_near_dedup_and_quality"] == 1
    out = spark.read.parquet(str(tmp_path / "out")).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_corpus_prep_repetition_gate_unknown_signal_raises(spark, tmp_path):
    import pytest

    from tradingview_data_pipeline_spark.plans import corpus_pipeline

    docs = _corpus_batch(spark, [(1, CLEAN_DOC)])
    with pytest.raises(ValueError, match="unknown repetition signals"):
        corpus_pipeline.run_corpus_prep(
            spark, docs, str(tmp_path / "out"),
            repetition_limits={"dup_7gram_frac": 0.1})


def test_incremental_builder_repetition_gate(spark, tmp_path):
    """The builder applies the same map-side gate per batch: repetitive
    docs never enter the corpus OR the hash-gate table (a later clean
    near-dup of a gated doc is judged on its own merits)."""
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    b = IncrementalCorpusBuilder(spark, str(tmp_path / "state"),
                                 quality_min=0.0,
                                 repetition_limits={"top_2gram_frac": 0.5})
    m1 = b.add_batch(_corpus_batch(spark, [(1, CLEAN_DOC), (2, REPETITIVE)]))
    assert m1["after_quality_and_exact"] == 1 and m1["appended"] == 1
    # replay idempotence with the gate active: nothing double-enters
    m2 = b.add_batch(_corpus_batch(spark, [(1, CLEAN_DOC), (2, REPETITIVE)]))
    assert m2["appended"] == 0
    assert sorted(r["doc_id"] for r in b.corpus.read().collect()) == [1]


def test_incremental_builder_learned_quality_gate(spark, tmp_path):
    """quality_model gates per batch with the same semantics as the
    batch pipeline; replaying a gated doc stays gated (same model, same
    text, same score), so replay idempotence holds with the gate on."""
    from tradingview_data_pipeline_spark.operators import classify as cl
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    train = spark.createDataFrame(
        [(100, CLEAN_DOC, True),
         (101, "buy cheap pills click here winner prize spam offer", False)],
        "doc_id long, text string, y boolean")
    weights = cl.token_class_weights(train, "text", "y")
    spammy = ("cheap pills spam winner prize click buy offer here today "
              "winner cheap prize spam pills click buy offer now indeed")
    b = IncrementalCorpusBuilder(spark, str(tmp_path / "state"),
                                 quality_min=0.0,
                                 quality_model=(weights, 0.0))
    m1 = b.add_batch(_corpus_batch(spark, [(1, CLEAN_DOC), (2, spammy)]))
    assert m1["after_quality_and_exact"] == 1 and m1["appended"] == 1
    m2 = b.add_batch(_corpus_batch(spark, [(1, CLEAN_DOC), (2, spammy)]))
    assert m2["appended"] == 0
    assert sorted(r["doc_id"] for r in b.corpus.read().collect()) == [1]


def test_incremental_builder_logreg_gate(spark, tmp_path):
    """The LogRegModel flavor of the per-batch learned gate — loaded
    from the save_logreg artifact, as a restart would — with the same
    replay-idempotence contract as the NB flavor."""
    from tradingview_data_pipeline_spark.operators import classify as cl
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    train = spark.createDataFrame(
        [(100, CLEAN_DOC, True),
         (101, "buy cheap pills click here winner prize spam offer", False)],
        "doc_id long, text string, y boolean")
    model = cl.logreg_train(train, "text", "y", n_buckets=2048,
                            iters=25, lr=1.0)
    cl.save_logreg(model, str(tmp_path / "lr"))
    loaded = cl.load_logreg(spark, str(tmp_path / "lr"))
    spammy = ("cheap pills spam winner prize click buy offer here today "
              "winner cheap prize spam pills click buy offer now indeed")
    b = IncrementalCorpusBuilder(spark, str(tmp_path / "state"),
                                 quality_min=0.0,
                                 quality_model=(loaded, 0.0))
    m1 = b.add_batch(_corpus_batch(spark, [(1, CLEAN_DOC), (2, spammy)]))
    assert m1["after_quality_and_exact"] == 1 and m1["appended"] == 1
    m2 = b.add_batch(_corpus_batch(spark, [(1, CLEAN_DOC), (2, spammy)]))
    assert m2["appended"] == 0
    assert sorted(r["doc_id"] for r in b.corpus.read().collect()) == [1]


def test_incremental_builder_repetition_gate_validates_at_init(tmp_path):
    """Unknown signal names fail at construction, before any state
    directory is created."""
    import pytest

    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    with pytest.raises(ValueError, match="unknown repetition signals"):
        IncrementalCorpusBuilder(None, str(tmp_path / "state"),
                                 repetition_limits={"nope": 0.1})
    assert not (tmp_path / "state").exists()


def test_parse_repetition_limits():
    import pytest

    assert jobs.parse_repetition_limits(None) is None
    assert jobs.parse_repetition_limits("") is None
    assert jobs.parse_repetition_limits(
        "dup_line_frac=0.3,top_2gram_frac=0.2") == {
        "dup_line_frac": 0.3, "top_2gram_frac": 0.2}
    with pytest.raises(ValueError, match="malformed"):
        jobs.parse_repetition_limits("dup_line_frac")
    with pytest.raises(ValueError, match="non-numeric"):
        jobs.parse_repetition_limits("dup_line_frac=x")


def test_corpus_prep_train_mixture(spark, tmp_path):
    """train_mixture resamples ONLY the train split: upweighted source
    docs appear once per epoch (copy_idx enumerates), unweighted train
    sources drop, val/test pass through single-copy, and the on-disk
    metrics count copies (the actual training budget)."""
    import random

    from tradingview_data_pipeline_spark.plans import corpus_pipeline

    rng = random.Random(7)
    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    rows = [(i, " ".join(rng.sample(words, 15)) + f" uniq{i}",
             "s1" if i % 3 else "s2") for i in range(1, 25)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    m = corpus_pipeline.run_corpus_prep(
        spark, docs, str(tmp_path / "out"), quality_min=0.0,
        train_mixture=({"s1": 1}, 40))
    out = spark.read.parquet(str(tmp_path / "out"))
    train = out.where("split = 'train'").collect()
    others = out.where("split != 'train'").collect()
    assert train, "fixture produced no train rows"
    assert all(r["source"] == "s1" for r in train)          # s2 dropped
    assert all(r["copy_idx"] == 1 and r["n_copies"] == 1 for r in others)
    # epochs: every doc repeated n_copies times, contiguous copy_idx
    by_doc = {}
    for r in train:
        by_doc.setdefault(r["doc_id"], []).append(r["copy_idx"])
    for doc, idxs in by_doc.items():
        assert sorted(idxs) == list(range(1, len(idxs) + 1))
    assert 25 <= len(train) <= 55                # budget 40 +- grid noise
    assert max(len(i) for i in by_doc.values()) >= 2        # upsampled
    assert m["train_rows"] == len(train)         # metrics count copies
    # per-copy ids are unique -> shard hashing spreads epochs
    assert len({(r["doc_id"], r["copy_idx"]) for r in train}) == len(train)


def test_corpus_prep_train_mixture_needs_source_col(spark, tmp_path):
    import pytest

    from tradingview_data_pipeline_spark.plans import corpus_pipeline

    docs = _corpus_batch(spark, [(1, CLEAN_DOC)])
    with pytest.raises(ValueError, match="train_mixture needs column"):
        corpus_pipeline.run_corpus_prep(
            spark, docs, str(tmp_path / "out"),
            train_mixture=({"a": 1}, 10))


def test_corpus_prep_all_stages_compose(spark, tmp_path):
    """Every optional stage on at once (span cut + repetition gate +
    train mixture): stages must compose without column collisions and
    the metrics arithmetic must match the shipped shards."""
    import random

    from tradingview_data_pipeline_spark.plans import corpus_pipeline

    rng = random.Random(13)
    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    rows = [(i, " ".join(rng.sample(words, 15)) + f" uniq{i}",
             "s1" if i % 2 else "s2") for i in range(1, 31)]
    rows.append((99, REPETITIVE, "s1"))          # repetition-gated out
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    m = corpus_pipeline.run_corpus_prep(
        spark, docs, str(tmp_path / "out"), quality_min=0.0,
        remove_spans=True,
        repetition_limits={"top_2gram_frac": 0.5},
        train_mixture=({"s1": 2, "s2": 1}, 30))
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.where("doc_id = 99").count() == 0
    got = out.groupBy("split").count().collect()
    assert m["after_near_dedup_and_quality"] == sum(r["count"] for r in got)
    train = out.where("split = 'train'").collect()
    assert {r["source"] for r in train} <= {"s1", "s2"}
    assert all(r["copy_idx"] >= 1 for r in train)


def test_corpus_prep_dedupe_repeated_lines(spark, tmp_path):
    """dedupe_repeated_lines cleans shipped text (repeated non-blank
    lines keep-first) and the gates score the CLEANED text — a doc
    whose repetition comes only from dup lines passes a repetition
    limit that would have rejected the raw text."""
    from tradingview_data_pipeline_spark.plans import corpus_pipeline

    body = "unique line one\nunique line two\nunique line three"
    spammy = body + ("\nunique line one" * 6)    # dup_line_frac 6/9
    docs = _corpus_batch(spark, [(1, spammy), (2, CLEAN_DOC)])
    m = corpus_pipeline.run_corpus_prep(
        spark, docs, str(tmp_path / "out"), quality_min=0.0,
        dedupe_repeated_lines=True,
        repetition_limits={"dup_line_frac": 0.1})
    assert m["after_near_dedup_and_quality"] == 2    # doc 1 survives
    texts = {r["doc_id"]: r["text"] for r in
             spark.read.parquet(str(tmp_path / "out")).collect()}
    assert texts[1] == body                          # cleaned on disk


def test_corpus_prep_dedupe_global_lines(spark, tmp_path):
    """dedupe_global_lines drops cross-document boilerplate lines from
    every shipped doc (no keeper), leaves unique lines alone, and
    composes with within-doc line dedup (both knobs on: the global pass
    sees the within-doc-cleaned text)."""
    from tradingview_data_pipeline_spark.plans import corpus_pipeline

    footer = "COPYRIGHT FOOTER ALL RIGHTS RESERVED"
    a_body = "alpha document body about parquet shuffles and windows"
    b_body = "beta document entirely different words for the cluster"
    docs = _corpus_batch(spark, [
        (1, a_body + "\n" + footer),
        (2, footer + "\n" + b_body + "\n" + footer),   # within-doc repeat too
        (3, CLEAN_DOC)])
    m = corpus_pipeline.run_corpus_prep(
        spark, docs, str(tmp_path / "out"), quality_min=0.0,
        dedupe_repeated_lines=True, dedupe_global_lines=2)
    assert m["after_near_dedup_and_quality"] == 3
    texts = {r["doc_id"]: r["text"] for r in
             spark.read.parquet(str(tmp_path / "out")).collect()}
    assert texts[1] == a_body
    assert texts[2] == b_body                       # every copy gone
    assert texts[3] == CLEAN_DOC


def test_incremental_builder_dedupe_lines_replay(spark, tmp_path):
    """Builder line dedup: cleaned text is what lands in the corpus AND
    what the hash gate keys, so a replay of the same raw batch appends
    nothing."""
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    b = IncrementalCorpusBuilder(spark, str(tmp_path / "state"),
                                 quality_min=0.0,
                                 dedupe_repeated_lines=True)
    raw = CLEAN_DOC + "\n" + CLEAN_DOC.split("\n")[0]  # whole doc is 1 line; dup it
    m1 = b.add_batch(_corpus_batch(spark, [(1, raw)]))
    assert m1["appended"] == 1
    stored = b.corpus.read().collect()[0]["text"]
    assert stored == CLEAN_DOC                       # dup line removed
    m2 = b.add_batch(_corpus_batch(spark, [(1, raw)]))
    assert m2["appended"] == 0                       # replay no-op


def test_corpus_prep_tokenize_pack_stage(spark, tmp_path):
    """tokenize_pack ships the last mile: a tokenizer artifact, and
    fixed-length id sequences assembled from the SHIPPED train shards —
    decoding the sequences must reproduce the on-disk train text's
    BPE tokens exactly, in shard-and-id order."""
    import random

    from tradingview_data_pipeline_spark.operators import bpe
    from tradingview_data_pipeline_spark.plans import corpus_pipeline

    rng = random.Random(5)
    words = ("alpha beta gamma delta epsilon zeta eta theta "
             "iota kappa lambda mu").split()
    rows = [(i, " ".join(rng.choices(words, k=30)) + f" uniq{i}")
            for i in range(1, 41)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "out")

    m = corpus_pipeline.run_corpus_prep(
        spark, docs, out, quality_min=0.0, n_shards=2,
        tokenize_pack=(25, 32))
    assert m["tokenizer_merges"] == 25
    assert m["seq_len"] == 32 and m["vocab_size"] > 25

    merges = bpe.load_merges(spark, out + "_tokenizer")
    assert len(merges) == 25
    train = spark.read.parquet(out).where("split = 'train'").collect()
    vocab = bpe.build_vocab(
        merges,
        bpe.corpus_base_tokens(
            spark.read.parquet(out).where("split = 'train'"), "text"))
    inv = {i: t for t, i in vocab.items()}

    seqs = spark.read.parquet(out + "_sequences").collect()
    assert m["train_sequences"] == len(seqs) > 0
    assert all(len(r["input_ids"]) == 32 for r in seqs)

    # reference: per shard, concat BPE tokens in doc_id order, chunk 32
    by_shard = {}
    for r in sorted(train, key=lambda r: (r["shard"], r["doc_id"])):
        toks = [s for w in r["text"].split()
                for s in bpe._encode_word(w, merges)]
        by_shard.setdefault(r["shard"], []).extend(toks)
    for shard, toks in by_shard.items():
        exp = [toks[i:i + 32] for i in range(0, len(toks) - 31, 32)]
        got = sorted((r for r in seqs if r["shard"] == shard),
                     key=lambda r: r["seq_id"])
        assert [[inv[x] for x in r["input_ids"]] for r in got] == exp

    # pre-learned merges path: same sequences without retraining
    m2 = corpus_pipeline.run_corpus_prep(
        spark, docs, str(tmp_path / "out2"), quality_min=0.0,
        n_shards=2, tokenize_pack=(merges, 32))
    assert m2["train_sequences"] == m["train_sequences"]


def test_cli_train_classifier_then_gate(spark, tmp_path, capsys, monkeypatch):
    """train-classifier writes the weights artifact; corpus-prep
    --quality-model consumes it — the train-once / gate-anywhere CLI
    round trip."""
    import os

    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    w_dir = tmp_path / "weights"
    jobs.main(["train-classifier",
               "--docs-parquet", "/root/testdata/sf0.001/documents.parquet",
               "--label-expr", "lang = 'en'",
               "--out-dir", str(w_dir)])
    report = capsys.readouterr().out
    assert "Train Classifier Success" in report and "vocab_size" in report
    assert any(f.endswith(".parquet") for f in os.listdir(w_dir))

    out = tmp_path / "corpus"
    jobs.main(["corpus-prep",
               "--docs-parquet", "/root/testdata/sf0.001/documents.parquet",
               "--out-dir", str(out),
               "--quality-model", f"{w_dir},-1000000"])   # permissive gate
    report = capsys.readouterr().out
    assert "Corpus Prep Success" in report

    # a prohibitive threshold filters everything (the gate is live)
    out2 = tmp_path / "corpus2"
    jobs.main(["corpus-prep",
               "--docs-parquet", "/root/testdata/sf0.001/documents.parquet",
               "--out-dir", str(out2),
               "--quality-model", f"{w_dir},1000000"])
    report = capsys.readouterr().out
    assert "after_near_dedup_and_quality: 0" in report


def test_cli_train_logreg_then_gate(spark, tmp_path, capsys, monkeypatch):
    """--model logreg writes the save_logreg artifact; corpus-prep
    --quality-model auto-detects it by schema (bucket, weight) and
    gates on the margin."""
    import os

    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    w_dir = tmp_path / "logreg"
    jobs.main(["train-classifier", "--model", "logreg",
               "--logreg-iters", "3",
               "--docs-parquet", "/root/testdata/sf0.001/documents.parquet",
               "--label-expr", "lang = 'en'",
               "--out-dir", str(w_dir)])
    report = capsys.readouterr().out
    assert "Train Classifier Success" in report
    assert "nonzero_weights" in report and "loss_last" in report
    assert any(f.endswith(".parquet") for f in os.listdir(w_dir))

    out = tmp_path / "corpus"
    jobs.main(["corpus-prep",
               "--docs-parquet", "/root/testdata/sf0.001/documents.parquet",
               "--out-dir", str(out),
               "--quality-model", f"{w_dir},-1000000"])   # permissive gate
    assert "Corpus Prep Success" in capsys.readouterr().out

    out2 = tmp_path / "corpus2"
    jobs.main(["corpus-prep",
               "--docs-parquet", "/root/testdata/sf0.001/documents.parquet",
               "--out-dir", str(out2),
               "--quality-model", f"{w_dir},1000000"])    # prohibitive
    assert "after_near_dedup_and_quality: 0" in capsys.readouterr().out


def test_corpus_prep_sequence_targets_causal(spark, tmp_path):
    """sequence_targets='causal' ships trainer-ready labels: next-token
    shift of input_ids with pad/final positions loss-masked."""
    import random

    from tradingview_data_pipeline_spark.plans import corpus_pipeline

    rng = random.Random(11)
    words = "alpha beta gamma delta epsilon zeta".split()
    rows = [(i, " ".join(rng.choices(words, k=30)) + f" uniq{i}")
            for i in range(1, 21)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "out")
    corpus_pipeline.run_corpus_prep(
        spark, docs, out, quality_min=0.0, n_shards=2,
        tokenize_pack=(10, 16), sequence_targets="causal")
    seqs = spark.read.parquet(out + "_sequences").collect()
    assert seqs
    for r in seqs:
        ids, labels, nr = r["input_ids"], r["labels"], r["n_real"]
        exp = [ids[i + 1] if i + 1 < nr else -100 for i in range(len(ids))]
        assert labels == exp

    import pytest

    with pytest.raises(ValueError, match="sequence_targets"):
        corpus_pipeline.run_corpus_prep(
            spark, docs, str(tmp_path / "out2"), quality_min=0.0,
            tokenize_pack=(5, 16), sequence_targets="mlm")


def test_corpus_prep_tokenize_pack_empty_train(spark, tmp_path):
    """An all-filtered corpus yields zero sequences, not a crash."""
    from tradingview_data_pipeline_spark.plans import corpus_pipeline

    docs = _corpus_batch(spark, [(1, "x")])      # fails quality gate
    m = corpus_pipeline.run_corpus_prep(
        spark, docs, str(tmp_path / "out"), quality_min=99.0,
        tokenize_pack=(5, 16))
    assert m["train_sequences"] == 0 and m["vocab_size"] == 0


def _mini_tokenizer(spark, texts):
    from tradingview_data_pipeline_spark.operators import bpe

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    merges = bpe.bpe_train(df, "text", n_merges=10, min_pair_count=2)
    vocab = bpe.build_vocab(merges, bpe.corpus_base_tokens(df, "text"))
    return merges, vocab


def test_incremental_builder_sequences_feed(spark, tmp_path):
    """tokenizer+seq_len makes the builder a streaming training feed:
    each batch's kept train docs become padded fixed-length sequences;
    replaying a batch appends nothing new; a fresh batch extends the
    table under distinct content-derived keys."""
    from tradingview_data_pipeline_spark.operators import bpe
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    texts = [BASE_WORDS,
             "completely different words entirely here about other "
             "topics with many extra tokens to make shingles " * 2,
             "a fresh unrelated document with plenty of novel words "
             "covering totally new material and nothing shared " * 2]
    merges, vocab = _mini_tokenizer(spark, texts)
    mk = lambda state: IncrementalCorpusBuilder(
        spark, str(tmp_path / state), quality_min=0.0,
        tokenizer=(merges, vocab), seq_len=16, seq_pad_id=0)

    b = mk("s")
    m1 = b.add_batch(_corpus_batch(spark, [(1, texts[0]), (2, texts[1])]))
    rows1 = b.sequences.read().collect()
    assert m1["train_sequences"] == len(rows1)
    assert all(len(r["input_ids"]) == 16 for r in rows1)
    # sequences decode to exactly the batch's kept train docs' ids,
    # concatenated in doc order (tail padded with 0)
    kept_train = sorted(
        (r["doc_id"], r["text"]) for r in b.corpus.read()
        .where("split = 'train'").collect() if r["doc_id"] in (1, 2))
    flat = [i for _, t in kept_train
            for i in _encode_ids(t, merges, vocab)]
    got = [i for r in sorted(rows1, key=lambda r: r["seq_id"])
           for i in r["input_ids"]]
    assert got[:len(flat)] == flat
    assert set(got[len(flat):]) <= {0}                 # only padding

    # replay: nothing new
    m2 = b.add_batch(_corpus_batch(spark, [(1, texts[0]), (2, texts[1])]))
    assert m2["train_sequences"] == 0
    assert sorted(map(tuple, b.sequences.read().collect())) == \
        sorted(map(tuple, rows1))

    # a new batch extends under new keys
    b.add_batch(_corpus_batch(spark, [(7, texts[2])]))
    keys = {r["seq_key"] for r in b.sequences.read().collect()}
    assert {r["seq_key"] for r in rows1} < keys


def _encode_ids(text, merges, vocab):
    from tradingview_data_pipeline_spark.operators import bpe

    return [vocab.get(s, 0) for w in text.split()
            for s in bpe._encode_word(w, merges)]


def test_incremental_builder_sequences_crash_converges(
        spark, tmp_path, monkeypatch):
    """The sequences commit sits before the hash gate: a crash right
    after it (gate un-advanced) must replay to the same state."""
    import pytest

    from tradingview_data_pipeline_spark.operators.merge import ParquetTable
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    texts = [BASE_WORDS,
             "a fresh unrelated document with plenty of novel words "
             "covering totally new material and nothing shared " * 2]
    merges, vocab = _mini_tokenizer(spark, texts)
    mk = lambda state: IncrementalCorpusBuilder(
        spark, str(tmp_path / state), quality_min=0.0,
        tokenizer=(merges, vocab), seq_len=16, seq_pad_id=0)

    ref = mk("ref")
    ref.add_batch(_corpus_batch(spark, [(1, texts[0])]))
    ref.add_batch(_corpus_batch(spark, [(5, texts[1])]))
    want = sorted(map(tuple, ref.sequences.read().collect()))

    real = ParquetTable.merge_upsert
    # batch 2 commits: index sigs(1), corpus(2), seen(3), sequences(4),
    # hash gate(5) — crash both right BEFORE the sequences commit and
    # right AFTER it (gate still un-advanced in both windows)
    for crash_after in (3, 4):
        state = f"s{crash_after}"
        b = mk(state)
        b.add_batch(_corpus_batch(spark, [(1, texts[0])]))
        calls = {"n": 0}

        def crashing(self, df, **kw):
            calls["n"] += 1
            if calls["n"] > crash_after:
                raise OSError("simulated crash before gate commit")
            return real(self, df, **kw)

        monkeypatch.setattr(ParquetTable, "merge_upsert", crashing)
        with pytest.raises(OSError, match="simulated crash"):
            b.add_batch(_corpus_batch(spark, [(5, texts[1])]))
        monkeypatch.undo()

        b2 = mk(state)
        b2.add_batch(_corpus_batch(spark, [(5, texts[1])]))  # plain replay
        assert sorted(map(tuple, b2.sequences.read().collect())) == want, \
            f"window after commit {crash_after}"


def test_incremental_builder_tokenizer_validation(spark, tmp_path):
    import pytest

    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    with pytest.raises(ValueError, match="together"):
        IncrementalCorpusBuilder(spark, str(tmp_path / "a"),
                                 tokenizer=([], {"<unk>": 0}))
    with pytest.raises(ValueError, match="positive"):
        IncrementalCorpusBuilder(spark, str(tmp_path / "b"),
                                 tokenizer=([], {"<unk>": 0}), seq_len=0)


FOOTER = "copyright footer all rights reserved worldwide"


def test_incremental_builder_global_lines_across_batches(spark, tmp_path):
    """dedupe_global_lines: a line is stripped once >= min_docs distinct
    shipped docs have carried it — forward-only (the first shipper keeps
    its copy), within-batch prevalence counts too, and a doc emptied by
    the strip drops with its own attribution metric."""
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    b = IncrementalCorpusBuilder(spark, str(tmp_path / "state"),
                                 quality_min=0.0, dedupe_global_lines=2)
    m1 = b.add_batch(_corpus_batch(spark, [(1, FOOTER + "\n" + TAIL_A)]))
    assert m1["appended"] == 1 and m1["global_hot_lines"] == 0

    # prior prevalence 1 (doc 1) + this batch = 2 -> hot; doc 2 ships
    # stripped, doc 1's shipped copy is NOT rewritten (forward-only)
    batch2 = _corpus_batch(spark, [(2, FOOTER + "\n" + TAIL_B)])
    m2 = b.add_batch(batch2)
    assert m2["appended"] == 1 and m2["global_hot_lines"] == 1
    texts = {r["doc_id"]: r["text"] for r in b.corpus.read().collect()}
    assert texts[1] == FOOTER + "\n" + TAIL_A
    assert texts[2] == TAIL_B

    # within-batch: a NEW line shared by two batch docs is hot already
    banner = "subscribe to our newsletter today please"
    m3 = b.add_batch(_corpus_batch(spark, [
        (10, banner + "\n" + TAIL_C),
        (11, banner + "\nentirely different closing material "
             "about astronomy physics chemistry biology geology")]))
    assert m3["appended"] == 2 and m3["global_hot_lines"] == 1
    texts = {r["doc_id"]: r["text"] for r in b.corpus.read().collect()}
    assert banner not in texts[10] and banner not in texts[11]

    # a doc that is ONLY boilerplate empties and drops at the line
    # stage (not counted as a near-dup drop)
    m4 = b.add_batch(_corpus_batch(spark, [(20, FOOTER)]))
    assert m4["appended"] == 0
    assert m4["line_dropped_docs"] == 1 and m4["neardup_dropped"] == 0

    # replay: the hash gate blocks re-processing entirely
    m2r = b.add_batch(batch2)
    assert m2r["appended"] == 0 and m2r["global_hot_lines"] == 0


def test_incremental_builder_global_lines_crash_converges(
        spark, tmp_path, monkeypatch):
    """With dedupe_global_lines the per-batch chain is index -> corpus
    -> seen -> LINES (merge_with) -> hash gate. A crash in any window
    must replay to the no-crash state — the lines window is the
    interesting one: the replayed batch sees its OWN committed pairs
    and must ignore them (doc-in-batch exclusion) instead of counting
    itself toward prevalence twice."""
    import pytest

    from tradingview_data_pipeline_spark.operators.merge import ParquetTable
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)

    batch1 = [(1, FOOTER + "\n" + TAIL_A)]
    batch2 = [(2, FOOTER + "\n" + TAIL_B),
              (3, "wholly new content with no shared lines at all "
                  "covering gardening cooking carpentry plumbing")]

    def state_of(b):
        return (sorted(tuple(r) for r in b.corpus.read().collect()),
                sorted(tuple(r) for r in b.seen.read().collect()),
                sorted(tuple(r) for r in b.hashes.read().collect()),
                sorted(tuple(r) for r in b.lines.read().collect()))

    ref = IncrementalCorpusBuilder(spark, str(tmp_path / "ref"),
                                   quality_min=0.0, dedupe_global_lines=2)
    ref.add_batch(_corpus_batch(spark, batch1))
    ref.add_batch(_corpus_batch(spark, batch2))
    want = state_of(ref)
    # sanity: the reference run stripped the footer from doc 2 only
    t = {r["doc_id"]: r["text"] for r in ref.corpus.read().collect()}
    assert t[2] == TAIL_B and t[1].startswith(FOOTER)

    real_upsert = ParquetTable.merge_upsert
    real_with = ParquetTable.merge_with
    for crash_after in (1, 2, 3, 4):
        state = str(tmp_path / f"s{crash_after}")
        b = IncrementalCorpusBuilder(spark, state, quality_min=0.0,
                                     dedupe_global_lines=2)
        b.add_batch(_corpus_batch(spark, batch1))

        calls = {"n": 0}

        def bump():
            calls["n"] += 1
            if calls["n"] > crash_after:
                raise OSError("simulated crash between batch commits")

        def crashing_upsert(self, df, **kw):
            bump()
            return real_upsert(self, df, **kw)

        def crashing_with(self, df, combine, **kw):
            bump()
            return real_with(self, df, combine, **kw)

        monkeypatch.setattr(ParquetTable, "merge_upsert", crashing_upsert)
        monkeypatch.setattr(ParquetTable, "merge_with", crashing_with)
        with pytest.raises(OSError, match="simulated crash"):
            b.add_batch(_corpus_batch(spark, batch2))
        monkeypatch.undo()

        b2 = IncrementalCorpusBuilder(spark, state, quality_min=0.0,
                                      dedupe_global_lines=2)
        b2.add_batch(_corpus_batch(spark, batch2))
        assert state_of(b2) == want, f"window after commit {crash_after}"
