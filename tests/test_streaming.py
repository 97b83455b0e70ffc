"""Structured Streaming paths: file-arrival CSV ingest (M6) and news
dedup with watermark — driven end-to-end with Trigger.AvailableNow."""

import datetime as dt

from pyspark.sql import types as T

from tradingview_data_pipeline_spark.operators.merge import ParquetTable
from tradingview_data_pipeline_spark.schemas import NEWS_SCHEMA
from tradingview_data_pipeline_spark.streaming.file_ingest import stream_csv_to_table
from tradingview_data_pipeline_spark.streaming.news_dedup import (
    normalize_news, stream_news_to_table,
)

SCHEMA = T.StructType([
    T.StructField("symbol", T.StringType(), False),
    T.StructField("price", T.DoubleType()),
    T.StructField("last_modified_date", T.TimestampType()),
])
HEADER_MAP = {"Symbol": "symbol", "Price": "price"}


def test_stream_csv_ingest_merges_each_file(spark, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    table = ParquetTable(spark, str(tmp_path / "stock"), SCHEMA, key="symbol")

    (inbox / "Technicals_1.csv").write_text("Symbol,Price\nA,1.0\nB,2.0\n")
    q = stream_csv_to_table(spark, str(inbox), HEADER_MAP, table,
                            str(tmp_path / "ckpt"),
                            csv_header_columns=["Symbol", "Price"])
    q.awaitTermination(120)
    got = {r["symbol"]: r["price"] for r in table.read().collect()}
    assert got == {"A": 1.0, "B": 2.0}

    # second file arrives: updated A, new C; restart (availableNow) picks up
    # ONLY the new file (checkpoint), merge updates in place
    (inbox / "Technicals_2.csv").write_text("Symbol,Price\nA,9.0\nC,3.0\n")
    q = stream_csv_to_table(spark, str(inbox), HEADER_MAP, table,
                            str(tmp_path / "ckpt"),
                            csv_header_columns=["Symbol", "Price"])
    q.awaitTermination(120)
    got = {r["symbol"]: r["price"] for r in table.read().collect()}
    assert got == {"A": 9.0, "B": 2.0, "C": 3.0}


def test_stream_csv_ingest_with_quality_gate(spark, tmp_path):
    """Gated ingest: violating rows land in the quarantine dir with a
    batch stamp; only clean rows reach the MERGE table."""
    from tradingview_data_pipeline_spark.operators import quality as q

    inbox = tmp_path / "inbox_q"
    inbox.mkdir()
    table = ParquetTable(spark, str(tmp_path / "stock_q"), SCHEMA,
                         key="symbol")
    qdir = str(tmp_path / "quarantine")
    # B has a negative price (range violation); blank symbol row is a
    # null-key violation
    (inbox / "Technicals_1.csv").write_text(
        "Symbol,Price\nA,1.0\nB,-2.0\n,3.0\n")
    rules = [q.not_null("symbol"), q.in_range("price", 0.0, 1e6)]
    sq = stream_csv_to_table(spark, str(inbox), HEADER_MAP, table,
                             str(tmp_path / "ckpt_q"),
                             csv_header_columns=["Symbol", "Price"],
                             expectations=rules, quarantine_dir=qdir)
    sq.awaitTermination(120)
    got = {r["symbol"]: r["price"] for r in table.read().collect()}
    assert got == {"A": 1.0}
    quar = spark.read.parquet(qdir)
    assert quar.count() == 2
    assert set(quar.columns) >= {"symbol", "price", "__batch_id"}

    # replay the same micro-batch (fresh checkpoint -> the file re-runs
    # as batch 0 again, the at-least-once foreachBatch case): dynamic
    # partition overwrite on __batch_id keeps the quarantine idempotent
    # instead of appending a duplicate copy of every violating row
    import shutil
    shutil.rmtree(str(tmp_path / "ckpt_q"))
    sq = stream_csv_to_table(spark, str(inbox), HEADER_MAP, table,
                             str(tmp_path / "ckpt_q"),
                             csv_header_columns=["Symbol", "Price"],
                             expectations=rules, quarantine_dir=qdir)
    sq.awaitTermination(120)
    assert spark.read.parquet(qdir).count() == 2


RAW_NEWS = "article_title string, article_description string, article_url string, " \
           "username string, posted_at timestamp, is_critical boolean"


def _news_rows():
    t0 = dt.datetime(2026, 8, 13, 10, 0, 0)
    return [
        ("Reuters: Markets rally", "desc1", "/news/a", "Reuters", t0, None),
        ("Economy grows", "desc2", "/news/b", "PTI", t0, False),
        ("Markets rally again", "desc3", "/news/a", "Reuters", t0, None),  # dup URL
        ("Paywalled", "Sign in to read exclusive story", "/news/c", "ET", t0, None),
    ]


def test_normalize_news_shape(spark):
    df = normalize_news(spark.createDataFrame(_news_rows(), RAW_NEWS))
    rows = {r["article_url"]: r for r in df.collect()}
    assert set(rows) == {"https://in.tradingview.com/news/a",
                         "https://in.tradingview.com/news/b"} or len(rows) == 2
    a = rows["https://in.tradingview.com/news/a"]
    assert a["tweet_id"].startswith("tv_") and len(a["tweet_id"]) == 23
    assert a["article_title"] in ("Markets rally", "Markets rally again")
    assert a["is_critical"] is False
    # premium row filtered (P7)
    assert not any("news/c" in u for u in rows)


def test_stream_news_dedup(spark, tmp_path):
    src_dir = tmp_path / "news_in"
    src_dir.mkdir()
    table = ParquetTable(spark, str(tmp_path / "tweets"), NEWS_SCHEMA, key="tweet_id")

    batch1 = spark.createDataFrame(_news_rows(), RAW_NEWS)
    batch1.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "b1"))
    raw = spark.readStream.schema(batch1.schema).parquet(str(src_dir) + "/*")
    q = stream_news_to_table(raw, table, str(tmp_path / "ckpt_news"))
    q.awaitTermination(120)
    got = table.read().collect()
    assert len(got) == 2                       # dup URL + premium dropped

    # replayed + one fresh row in a later batch
    rows2 = _news_rows()[:1] + [("Fresh story", "d", "/news/z", "ANI",
                                 dt.datetime(2026, 8, 13, 11, 0, 0), None)]
    spark.createDataFrame(rows2, RAW_NEWS).coalesce(1) \
        .write.mode("overwrite").parquet(str(src_dir / "b2"))
    q = stream_news_to_table(raw, table, str(tmp_path / "ckpt_news"))
    q.awaitTermination(120)
    urls = sorted(r["article_url"] for r in table.read().collect())
    assert len(urls) == 3 and urls[0].endswith("/news/a")


def test_news_stream_empty_watermark_batch_commits_nothing(spark, tmp_path,
                                                          monkeypatch):
    """availableNow closes with a no-data batch that only advances the
    watermark; its sink must not rewrite the news table."""
    src_dir = tmp_path / "news_in"
    src_dir.mkdir()
    table = ParquetTable(spark, str(tmp_path / "tweets"), NEWS_SCHEMA, key="tweet_id")
    spark.createDataFrame(_news_rows(), RAW_NEWS).coalesce(1) \
        .write.parquet(str(src_dir / "b1"))
    writes = []
    append = table.append_dedup
    monkeypatch.setattr(table, "append_dedup",
                        lambda df: (writes.append(1), append(df))[1])
    raw = spark.readStream.schema(RAW_NEWS).parquet(str(src_dir) + "/*")
    q = stream_news_to_table(raw, table, str(tmp_path / "ckpt_news"))
    q.awaitTermination(120)
    assert [p["numInputRows"] for p in q.recentProgress] == [4, 0]
    assert writes == [1]
    assert len(table.read().collect()) == 2
