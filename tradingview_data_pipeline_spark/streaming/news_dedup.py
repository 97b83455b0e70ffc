"""Streaming news ingestion with exactly-once-per-key dedup (SURVEY K5/J4,
M6; reference: newsflow_scraper.py:243-327).

The reference fetches ALL existing article URLs into a Python set per run
(newsflow_scraper.py:243-272) — unbounded state that grows with history.
The stream replaces it with:

- ``dropDuplicatesWithinWatermark`` on the synthetic key within the
  stream: unlike plain ``dropDuplicates`` (which only evicts state when
  the event-time column is part of the key subset), this operator evicts
  per-key state once the watermark on ``posted_at`` passes, so state is
  genuinely bounded by the watermark horizon;
- an idempotent ``append_dedup`` MERGE sink, which also de-dups against
  rows already in the table (covers keys older than the watermark
  horizon at a cost proportional to the table, not the history scan the
  reference does per run).

Derived columns reproduce the reference's record shape
(newsflow_scraper.py:296-309): md5-prefix tweet_id (F11), 500-char
truncation (F12), provider prefix strip (F13), URL composition (F16).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.functions.cleaning import (
    compose_url, hash_id, strip_prefix, truncate_str,
)
from tradingview_data_pipeline_spark.operators.merge import ParquetTable
from tradingview_data_pipeline_spark.session import small_plan_posture


def normalize_news(df: DataFrame) -> DataFrame:
    """Raw scraped rows -> news table shape (works on batch or stream)."""
    url = compose_url(F.col("article_url"))
    return df.select(
        hash_id(url).alias("tweet_id"),
        truncate_str(strip_prefix(F.col("article_title")), 500).alias("article_title"),
        truncate_str(F.col("article_description"), 500).alias("article_description"),
        url.alias("article_url"),
        F.col("username"),
        F.col("posted_at").cast("timestamp").alias("posted_at"),
        F.coalesce(F.col("is_critical"), F.lit(False)).alias("is_critical"),
    ).where(
        # P7: skip premium teasers (newsflow_scraper.py:184-189)
        ~F.coalesce(F.col("article_description"), F.lit(""))
        .contains("Sign in to read exclusive")
    )


def stream_news_to_table(
    raw_stream: DataFrame,
    table: ParquetTable,
    checkpoint_dir: str,
    *,
    watermark: str = "1 hour",
    available_now: bool = True,
):
    """normalize -> watermark -> in-stream dedup -> MERGE append_dedup."""
    normalized = normalize_news(raw_stream).withWatermark("posted_at", watermark)
    # Spark 3.5+: state for a key is dropped once the watermark passes its
    # event time. Plain dropDuplicates(["tweet_id"]) would keep state forever
    # because the event-time column is not part of the dedup key.
    deduped = normalized.dropDuplicatesWithinWatermark(["tweet_id"])

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # Run the stateful batch exactly once: Spark requires every state
        # partition to commit, and the pinned rows then feed the write.
        # The row count rides on that same job. An empty batch (e.g.
        # availableNow's closing batch, run only to advance the
        # watermark) commits nothing instead of rewriting the table.
        seen = Observation()
        batch = batch_df.observe(seen, F.count(F.lit(1)).alias("rows")) \
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        if seen.get["rows"] == 0:
            return
        # the write executes on table.spark, not the stream's session
        with small_plan_posture(table.spark, table.row_count()):
            table.append_dedup(batch)

    writer = deduped.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
