"""Tolerant CSV ingestion with header mapping (SURVEY S1/S2, P1-P4, F1).

The reference picks "the newest CSV with prefix X" from a downloads
directory (uploadtodb.py:46-57), reads it with pandas, renames headers via
an explicit map, drops unmapped columns, cleans every value, stamps an
audit timestamp. Here the same contract is a declarative pipeline:

    read csv (all-string, header row)
      -> rename via header map (withColumnsRenamed)
      -> project to mapped columns, aligned to the declared schema
      -> cast + clean (F1/F2 semantics: NaN/Inf/empty -> NULL, round 2dp)
      -> audit timestamp

Duplicate CSV headers: the adapter parses the header line itself and
names the second occurrence of a header with pandas' ``.1`` convention
before mapping (uploadtodb.py:113-114 parity); Spark's own inference
would suffix it differently, and costs a job.

Scale note: for directory-ingest at scale use ``streaming/file_ingest``
(Structured Streaming file source with Trigger.AvailableNow) — this batch
adapter is the single-file path; both share the mapping/cleaning step.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tradingview_data_pipeline_spark.functions.cleaning import (
    clean_value_spark_sql, clean_string_spark_sql)


def sniff_delimiter(path: str, default: str = ",") -> str:
    """S3: detect the delimiter from the first KB (reference pyc:csv_to_json
    uses csv.Sniffer with a comma fallback: 'Could not detect delimiter,
    using comma')."""
    import csv as _csv
    try:
        with open(path, newline="") as fh:
            sample = fh.read(1024)
        return _csv.Sniffer().sniff(sample, delimiters=",;\t|").delimiter
    except (OSError, _csv.Error):
        return default


def jdbc_partitioned_scan(spark: SparkSession, url: str, table: str,
                          partition_column: str, lower: int, upper: int,
                          num_partitions: int = 32, **options: str) -> DataFrame:
    """S4: the reference pages through PostgREST 1,000 rows at a time
    sequentially (calcompositescore.py:50-74); the engine expresses the
    same scan as a partitioned-parallel JDBC read — Catalyst pushes
    projections and predicates into the source, and the range split runs
    one partition per executor slot instead of a driver-side loop."""
    reader = (spark.read.format("jdbc")
              .option("url", url)
              .option("dbtable", table)
              .option("partitionColumn", partition_column)
              .option("lowerBound", str(lower))
              .option("upperBound", str(upper))
              .option("numPartitions", str(num_partitions)))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def newest_file_by_prefix(directory: str, prefix: str, suffix: str = ".csv") -> str | None:
    """Newest (mtime desc) file matching prefix/suffix — the reference's
    micro-batch unit of work (uploadtodb.py:46-57)."""
    try:
        names = [n for n in os.listdir(directory)
                 if n.startswith(prefix) and n.endswith(suffix)]
    except FileNotFoundError:
        return None
    if not names:
        return None
    names.sort(key=lambda n: os.path.getmtime(os.path.join(directory, n)), reverse=True)
    return os.path.join(directory, names[0])


def read_csv_with_mapping(
    spark: SparkSession,
    path: str,
    header_map: dict[str, str],
    schema: T.StructType,
    *,
    audit_col: str = "last_modified_date",
) -> DataFrame:
    """Read a headered CSV and align it to ``schema`` via ``header_map``.

    - columns not in the map are dropped (P2);
    - mapped columns missing from the file come back as typed NULLs
      (sink-schema alignment, sectormerged_improved.py:655-680 semantics);
    - numeric columns get F1 cleaning (NaN/±Inf/empty -> NULL, round 2dp),
      longs are tolerant-cast (F2), strings are trimmed with empty -> NULL.
    """
    # The header line is parsed once, driver-side, and named the pandas
    # way: a repeated header becomes "Col", "Col.1", the convention the
    # reference's map expects (uploadtodb.py:113-114). An explicit
    # all-string schema spares the Spark job header inference would run.
    import csv as _csv
    with open(path, newline="") as fh:
        header = next(_csv.reader(fh))
    seen: dict[str, int] = {}
    fields = []
    for c in header:
        if c in seen:
            seen[c] += 1
            c = f"{c}.{seen[c]}"
        else:
            seen[c] = 0
        fields.append(T.StructField(c, T.StringType()))
    raw = spark.read.schema(T.StructType(fields)).option("header", True).csv(path)

    target_fields = {f.name: f for f in schema.fields}
    # SQL-text projection (r12, guide §7.3): the cleaning expressions are
    # built as strings and parsed in ONE selectExpr — the per-column
    # Column forms cost ~50 py4j round trips each (the 32 clean_value
    # lambdas alone measured ~6 s of the ingest pipeline). Same
    # expression trees (tests/test_cleaning.py pins form equivalence).
    exprs = []
    mapped = {src: dst for src, dst in header_map.items() if dst in target_fields}
    for src, dst in mapped.items():
        f = target_fields[dst]
        dq = dst.replace("`", "``")
        if src in raw.columns:
            sq = f"`{src.replace('`', '``')}`"
            if isinstance(f.dataType, T.DoubleType):
                e = clean_value_spark_sql(sq)
            elif isinstance(f.dataType, T.LongType):
                e = f"CAST(try_cast({sq} AS DOUBLE) AS BIGINT)"
            elif isinstance(f.dataType, T.TimestampType):
                e = f"try_cast({sq} AS TIMESTAMP)"
            else:
                e = clean_string_spark_sql(sq)
        else:
            e = f"CAST(NULL AS {f.dataType.simpleString()})"
        exprs.append(f"{e} AS `{dq}`")
    out = raw.selectExpr(*exprs)
    if audit_col and audit_col in target_fields:
        out = out.withColumn(audit_col, F.current_timestamp())
    return out


def ingest_newest(spark: SparkSession, directory: str, prefix: str,
                  header_map: dict[str, str], schema: T.StructType) -> DataFrame | None:
    """S2 + S1 + adapter in one call; None when no file is waiting."""
    path = newest_file_by_prefix(directory, prefix)
    if path is None:
        return None
    return read_csv_with_mapping(spark, path, header_map, schema)


def files_by_prefix(directory: str, prefix: str,
                    suffix: str = ".csv") -> list[str]:
    """ALL matching files, OLDEST first — the backfill/replay order (the
    newest file must win the final MERGE, so history replays forward)."""
    try:
        names = [n for n in os.listdir(directory)
                 if n.startswith(prefix) and n.endswith(suffix)]
    except FileNotFoundError:
        return []
    names.sort(key=lambda n: os.path.getmtime(os.path.join(directory, n)))
    return [os.path.join(directory, n) for n in names]


def backfill_all(spark: SparkSession, directory: str, prefix: str,
                 header_map: dict[str, str], schema: T.StructType,
                 sink) -> int:
    """Replay every matching file oldest-to-newest through ``sink(df)``
    (e.g. ``table.merge_upsert``). Idempotent end state: MERGE per file
    means re-running the backfill converges to the same table, and the
    final state equals processing only with last-writer-wins per key.
    Returns the number of files replayed. The reference has no recovery
    path beyond manually re-running each day's cron; this is the
    set-based equivalent."""
    paths = files_by_prefix(directory, prefix)
    for p in paths:
        sink(read_csv_with_mapping(spark, p, header_map, schema))
    return len(paths)
