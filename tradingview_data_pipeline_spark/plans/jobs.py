"""End-to-end job runners — the engine's equivalents of the reference's
cron entry points (SURVEY §3 lifecycle):

| reference cron job | runner here |
|---|---|
| uploadtodb.py (via run_technical.sh) | ``run_technical_upload`` |
| funda_uploadtodb.py | ``run_fundamental_upload`` |
| calcompositescore.py | ``run_composite_job`` |
| calfundamentalscore.py | ``run_fundamental_job`` |
| sectormerged_improved.py + sectorscore.py | ``run_segment_job`` |
| industrymerged.py + indscores.py | ``run_segment_job`` (key="industry") |

Each runner is also callable from the CLI:

    python -m tradingview_data_pipeline_spark.plans.jobs technical \
        --downloads-dir /data/downloads --warehouse /data/warehouse

The warehouse layout is one ParquetTable per domain table (production:
Delta/Iceberg paths, same call sites).

Every runner executes inside ``session.small_plan_posture``, gated on the
footer row count of the table it reads or maintains: at the reference's
~1.6k symbols the plans run interpreted instead of compiling ~300
classes a day. The lazily returned frames (the composite top-10, the
fundamental projection) execute later, outside it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark import schemas
from tradingview_data_pipeline_spark.operators.merge import ParquetTable
from tradingview_data_pipeline_spark.plans import composite_score as cs
from tradingview_data_pipeline_spark.plans import fundamental_score as fs
from tradingview_data_pipeline_spark.plans import segment_merge as sm
from tradingview_data_pipeline_spark.plans import segment_score as ss
from tradingview_data_pipeline_spark.session import small_plan_posture
from tradingview_data_pipeline_spark.sources.csv_adapter import ingest_newest


def warehouse_tables(spark: SparkSession, warehouse: str) -> dict[str, ParquetTable]:
    sch = schemas.stock_data_schema()
    return {
        "stock_data": ParquetTable(spark, os.path.join(warehouse, "stock_data"),
                                   sch, "symbol"),
        "stock_rankings": ParquetTable(spark, os.path.join(warehouse, "stock_rankings"),
                                       schemas.STOCK_RANKINGS_SCHEMA, "symbol"),
        "sector_data": ParquetTable(spark, os.path.join(warehouse, "sector_data"),
                                    schemas.segment_schema("sector"), "sector"),
        "industry_data": ParquetTable(spark, os.path.join(warehouse, "industry_data"),
                                      schemas.segment_schema("industry"), "industry"),
        "twitter_posted_tweets": ParquetTable(
            spark, os.path.join(warehouse, "twitter_posted_tweets"),
            schemas.NEWS_SCHEMA, "tweet_id"),
    }


def run_technical_upload(spark: SparkSession, downloads_dir: str,
                         tables: dict[str, ParquetTable]) -> int:
    """Newest Technicals*.csv -> clean -> MERGE stock_data (§3.1 stage 2)."""
    stock = tables["stock_data"]
    with small_plan_posture(spark, stock.row_count()):
        df = ingest_newest(spark, downloads_dir, "Technicals",
                           schemas.TECHNICAL_HEADER_MAP, stock.schema)
        if df is None:
            return 0
        stock.merge_upsert(df)
    return stock.row_count()


def run_fundamental_upload(spark: SparkSession, downloads_dir: str,
                           tables: dict[str, ParquetTable]) -> int:
    """Newest funda*.csv -> clean -> MERGE stock_data (§3.2 stage 2)."""
    stock = tables["stock_data"]
    with small_plan_posture(spark, stock.row_count()):
        df = ingest_newest(spark, downloads_dir, "funda",
                           schemas.FUNDAMENTAL_HEADER_MAP, stock.schema)
        if df is None:
            return 0
        stock.merge_upsert(df)
    return stock.row_count()


def run_backfill(spark: SparkSession, downloads_dir: str,
                 tables: dict[str, ParquetTable]) -> dict[str, int]:
    """Replay EVERY historical Technicals*/funda*.csv oldest-to-newest
    through the MERGE path — disaster recovery / cold-start for a
    warehouse. Idempotent: per-file MERGE makes a re-run converge, and
    the end state is last-writer-wins per (key, column subset), exactly
    what daily newest-only runs would have produced."""
    from tradingview_data_pipeline_spark.sources.csv_adapter import backfill_all

    stock = tables["stock_data"]
    with small_plan_posture(spark, stock.row_count()):
        files = {
            "technical_files": backfill_all(
                spark, downloads_dir, "Technicals",
                schemas.TECHNICAL_HEADER_MAP, stock.schema, stock.merge_upsert),
            "fundamental_files": backfill_all(
                spark, downloads_dir, "funda",
                schemas.FUNDAMENTAL_HEADER_MAP, stock.schema, stock.merge_upsert),
        }
    return {**files, "stock_data_rows": stock.row_count()}


def run_composite_job(spark: SparkSession, tables: dict[str, ParquetTable],
                      *, bucket_mode: str = "parity") -> DataFrame:
    """stock_data -> composite scores -> MERGE stock_rankings; returns the
    top-10 report (§3.1 stage 3)."""
    stock = tables["stock_data"]
    with small_plan_posture(spark, stock.row_count()):
        scored = cs.composite_scores(stock.read(), bucket_mode=bucket_mode)
        tables["stock_rankings"].merge_upsert(cs.rankings_output(scored))
        top, _ = cs.top_bottom_report(scored)
    return top


def run_fundamental_job(spark: SparkSession, tables: dict[str, ParquetTable]) -> DataFrame:
    """stock_data -> fundamental scores + ranks -> MERGE stock_rankings
    (§3.2 stage 3); returns the scored frame projection."""
    stock = tables["stock_data"]
    rows = stock.row_count()
    with small_plan_posture(spark, rows):
        scored = fs.fundamental_scores(stock.read(), size_hint_rows=rows)
        ranked = fs.fundamental_ranks(
            scored, tables["stock_rankings"].read().select("symbol", "market_cap_category"))
        out = fs.rankings_output(ranked)
        tables["stock_rankings"].merge_upsert(out)
    return out


def run_segment_job(spark: SparkSession, tables: dict[str, ParquetTable],
                    overview: DataFrame, performance: DataFrame,
                    *, key: str = "sector") -> int:
    """scraped overview+performance -> J1 merge -> scores -> overwrite
    segment table (secondary DAG, §3 end)."""
    table = tables[f"{key}_data"]
    with small_plan_posture(spark, table.row_count()):
        merged = sm.merge_overview_performance(overview, performance, key)
        table.overwrite(ss.segment_scores(merged))
    return table.row_count()


def parse_repetition_limits(spec: str | None) -> dict[str, float] | None:
    """'name=max,name=max' CLI spec -> repetition_limits dict; malformed
    entries fail loudly here, unknown signal names fail in corpus.py."""
    if not spec:
        return None
    limits: dict[str, float] = {}
    for part in spec.split(","):
        name, sep, val = part.partition("=")
        if not sep or not name.strip():
            raise ValueError(f"malformed repetition limit {part!r}; "
                             f"expected name=max")
        try:
            limits[name.strip()] = float(val)
        except ValueError:
            raise ValueError(f"non-numeric repetition limit {part!r}")
    return limits


def main(argv: list[str] | None = None) -> None:
    import argparse

    from tradingview_data_pipeline_spark.notify import notify, timed_job
    from tradingview_data_pipeline_spark.session import (
        codegen_counters, get_spark, jit_ms)

    ap = argparse.ArgumentParser(prog="tradingview-data-pipeline-spark jobs")
    ap.add_argument("job", choices=["technical", "fundamental", "composite",
                                    "fundamental-score", "all", "backfill",
                                    "status", "reconcile", "corpus-prep",
                                    "train-classifier"])
    ap.add_argument("--docs-parquet", default=None,
                    help="corpus-prep: documents parquet path")
    ap.add_argument("--out-dir", default="./corpus_out",
                    help="corpus-prep: output directory for the shards")
    ap.add_argument("--remove-spans", action="store_true",
                    help="corpus-prep: also excise cross-document "
                         "duplicate 8-gram spans (keep one copy in the "
                         "min-doc owner)")
    ap.add_argument("--dedupe-lines", action="store_true",
                    help="corpus-prep: drop repeated non-blank lines "
                         "within each document (C4-style), keep-first")
    ap.add_argument("--dedupe-global-lines", type=int, default=None,
                    metavar="MIN_DOCS",
                    help="corpus-prep: drop every occurrence of any "
                         "non-blank line present in >= MIN_DOCS distinct "
                         "documents (cross-document boilerplate removal, "
                         "RefinedWeb/MassiveText-style)")
    ap.add_argument("--repetition-limits", default=None,
                    help="corpus-prep: within-document repetition gate, "
                         "e.g. 'dup_line_frac=0.3,top_2gram_frac=0.2' "
                         "(signals: corpus.REPETITION_SIGNALS)")
    ap.add_argument("--label-expr", default=None,
                    help="train-classifier: SQL boolean over the docs "
                         "marking the positive class, e.g. "
                         "\"lang = 'en'\" or \"source = 'curated'\"")
    ap.add_argument("--min-df", type=int, default=2,
                    help="train-classifier: drop tokens with fewer "
                         "total occurrences (model stays broadcastable)")
    ap.add_argument("--model", choices=["nb", "logreg"], default="nb",
                    help="train-classifier: 'nb' = token naive-Bayes "
                         "weights table; 'logreg' = hashed-feature "
                         "logistic regression artifact (save_logreg)")
    ap.add_argument("--logreg-iters", type=int, default=20,
                    help="train-classifier --model logreg: GD iterations"
                         " (one corpus scan each)")
    ap.add_argument("--quality-model", default=None,
                    help="corpus-prep: 'WEIGHTS_PARQUET,MIN_LOG_ODDS' — "
                         "gate docs below the learned classifier score "
                         "(classify.token_class_weights table trained "
                         "offline; see classify.nb_score)")
    ap.add_argument("--tokenize-pack", default=None,
                    help="corpus-prep: 'N_MERGES,SEQ_LEN' — train an "
                         "N-merge BPE tokenizer on the shipped train "
                         "split and assemble SEQ_LEN-token training "
                         "sequences at <out-dir>_sequences (tokenizer "
                         "artifact at <out-dir>_tokenizer)")
    ap.add_argument("--downloads-dir", default="./downloads")
    ap.add_argument("--warehouse", default="./warehouse")
    ap.add_argument("--against", default=None,
                    help="reconcile: second warehouse (replica/migration "
                         "target) to fingerprint-compare against")
    ap.add_argument("--ignore-cols", default="last_modified_date",
                    help="reconcile: comma-separated volatile columns to "
                         "exclude from the content checksum (default: the "
                         "per-load audit timestamp)")
    ap.add_argument("--webhook-url", default=None,
                    help="job status webhook (falls back to "
                         "$PIPELINE_WEBHOOK_URL; unset = print only)")
    args = ap.parse_args(argv)

    spark = get_spark("jobs")
    tables = warehouse_tables(spark, args.warehouse)

    def reported(name, body):
        # per-job ✅/❌ report, the reference's run_*.sh wrapper behavior:
        # a failing job still notifies (❌ + error), then propagates.
        # codegen_classes: classes the job compiled; jit_ms: HotSpot JIT
        # time it cost (neither read runs a Spark job)
        try:
            with timed_job(name) as t:
                classes0, _ = codegen_counters(spark)
                jit0 = jit_ms(spark)
                try:
                    body(t)
                finally:
                    t.metrics["codegen_classes"] = \
                        codegen_counters(spark)[0] - classes0
                    t.metrics["jit_ms"] = jit_ms(spark) - jit0
        finally:
            notify(t.report, args.webhook_url)

    if args.job in ("technical", "all"):
        reported("Technical Pipeline", lambda t: t.metrics.update(
            stock_data_rows=run_technical_upload(
                spark, args.downloads_dir, tables)))
    if args.job in ("fundamental", "all"):
        reported("Fundamental Pipeline", lambda t: t.metrics.update(
            stock_data_rows=run_fundamental_upload(
                spark, args.downloads_dir, tables)))
    if args.job in ("composite", "all"):
        def composite_body(t):
            rows = run_composite_job(spark, tables).collect()
            t.metrics["top"] = ", ".join(
                f"{r['symbol']}={r['composite_score']}" for r in rows[:3])
            print("composite top-10:")
            for r in rows:
                print("  ", r["symbol"], r["composite_score"])
        reported("Composite Score", composite_body)
    if args.job in ("fundamental-score", "all"):
        reported("Fundamental Score",
                 lambda t: run_fundamental_job(spark, tables))
    if args.job == "backfill":
        reported("Backfill", lambda t: t.metrics.update(
            run_backfill(spark, args.downloads_dir, tables)))
    if args.job == "status":
        import json as _json
        for name, tbl in tables.items():
            print(name, _json.dumps(tbl.status()))
    if args.job == "corpus-prep":
        # end-to-end training-corpus build: dedup -> quality -> redact ->
        # leakage-safe split -> sharded export (plans/corpus_pipeline)
        from tradingview_data_pipeline_spark.plans import corpus_pipeline

        if not args.docs_parquet:
            ap.error("corpus-prep requires --docs-parquet <documents.parquet>")

        tok_pack = None
        if args.tokenize_pack:
            try:
                n_m, s_l = args.tokenize_pack.split(",")
                tok_pack = (int(n_m), int(s_l))
            except ValueError:
                ap.error("--tokenize-pack expects 'N_MERGES,SEQ_LEN' "
                         f"(got {args.tokenize_pack!r})")

        qual_model = None
        if args.quality_model:
            try:
                w_path, thr_s = args.quality_model.rsplit(",", 1)
                thr = float(thr_s)
            except ValueError:
                ap.error("--quality-model expects "
                         "'WEIGHTS_PARQUET,THRESHOLD' "
                         f"(got {args.quality_model!r})")
            wdf = spark.read.parquet(w_path)
            # artifact kind by schema: (bucket, weight) = logreg
            # (save_logreg sentinels carry bias/n_buckets);
            # (token, n_pos, n_neg) = the NB weights table
            if set(wdf.columns) == {"bucket", "weight"}:
                from tradingview_data_pipeline_spark.operators import (
                    classify as _clq,
                )
                qual_model = (_clq.load_logreg(spark, w_path), thr)
            else:
                qual_model = (wdf, thr)

        def corpus_body(t):
            docs = spark.read.parquet(args.docs_parquet)
            t.metrics.update(corpus_pipeline.run_corpus_prep(
                spark, docs, args.out_dir,
                remove_spans=args.remove_spans,
                dedupe_repeated_lines=args.dedupe_lines,
                dedupe_global_lines=args.dedupe_global_lines,
                repetition_limits=parse_repetition_limits(
                    args.repetition_limits),
                quality_model=qual_model,
                tokenize_pack=tok_pack))
        reported("Corpus Prep", corpus_body)
    if args.job == "train-classifier":
        # train the learned quality filter once, offline; the weights
        # parquet is the artifact --quality-model consumes — train-once /
        # gate-anywhere, mirroring the tokenizer artifact contract
        from tradingview_data_pipeline_spark.operators import (
            classify as _cl,
        )
        if not args.docs_parquet or not args.label_expr:
            ap.error("train-classifier requires --docs-parquet and "
                     "--label-expr")

        def classifier_body(t):
            docs = spark.read.parquet(args.docs_parquet)
            labeled = docs.withColumn(
                "__y", F.expr(args.label_expr).cast("boolean"))
            if args.model == "logreg":
                m = _cl.logreg_train(labeled, "text", "__y",
                                     iters=args.logreg_iters)
                _cl.save_logreg(m, args.out_dir)
                t.metrics["nonzero_weights"] = int(m.weights.count())
                t.metrics["bias"] = round(m.bias, 6)
                t.metrics["loss_first"] = round(m.history[0], 6)
                t.metrics["loss_last"] = round(m.history[-1], 6)
                return
            w = _cl.token_class_weights(labeled, "text", "__y",
                                        min_df=args.min_df)
            w.write.mode("overwrite").parquet(args.out_dir)
            back = spark.read.parquet(args.out_dir)
            t.metrics["vocab_size"] = back.count()
            t.metrics["pos_tokens"] = int(
                back.agg(F.sum("n_pos")).collect()[0][0] or 0)
            t.metrics["neg_tokens"] = int(
                back.agg(F.sum("n_neg")).collect()[0][0] or 0)
        reported("Train Classifier", classifier_body)
    if args.job == "reconcile":
        # cross-copy verification: bucketed content checksums per table,
        # diff is a 64-row join per table; exit 1 on any divergence so
        # cron/migration scripts can gate on it (operators/fingerprint).
        import sys as _sys

        from tradingview_data_pipeline_spark.operators import (
            fingerprint as _fp,
        )
        if not args.against:
            ap.error("reconcile requires --against <other-warehouse>")
        other = warehouse_tables(spark, args.against)
        ignore = {c for c in args.ignore_cols.split(",") if c}
        divergent = 0
        for name, tbl in tables.items():
            a, b = tbl.read(), other[name].read()
            only_a = (set(a.columns) - set(b.columns)) - ignore
            only_b = (set(b.columns) - set(a.columns)) - ignore
            if only_a or only_b:
                # a replica missing a whole column is a divergence even
                # when the shared columns match — report it, don't let
                # the intersection fingerprint print OK.
                print(name, "DIVERGENT columns:",
                      f"only-left={sorted(only_a)}",
                      f"only-right={sorted(only_b)}")
                divergent += 1
                continue
            cols = sorted((set(a.columns) & set(b.columns)) - ignore)
            diff = _fp.fingerprint_diff(_fp.table_fingerprint(a, cols),
                                        _fp.table_fingerprint(b, cols))
            n = diff.count()
            print(name, "OK" if n == 0 else f"DIVERGENT buckets={n}")
            divergent += n
        if divergent:
            spark.stop()
            _sys.exit(1)
    spark.stop()


if __name__ == "__main__":
    main()
