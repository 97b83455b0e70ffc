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

    st = tables["stock_data"].status()
    assert st["exists"] and st["parquet_files"] > 0
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
    wh_b["stock_data"].merge_upsert(spark.createDataFrame(
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
            t.read = lambda: orig().drop("rsi_14_1_day")
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
