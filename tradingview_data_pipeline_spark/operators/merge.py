"""Keyed-table maintenance: MERGE upsert, overwrite, append-with-dedup
(SURVEY K1-K5).

The reference upserts via PostgREST ``upsert(batch, on_conflict=key)`` in
hand-chunked batches with per-row retry (uploadtodb.py:159-198). In this
engine a table is a plain parquet directory and maintenance ops are
set-based:

- ``merge_upsert``  = MERGE (K1/K2): matched rows take the source's
  non-null column values (column-wise coalesce — the technical and
  fundamental pipelines update disjoint column subsets of the same row,
  K1/J5), unmatched source rows are inserted.
- ``overwrite``     = truncate-and-load (K3). The reference's per-row
  sector/industry UPDATE (K4) is a full recompute here, so the segment
  job overwrites too.
- ``append_dedup``  = insert only keys not already present (K5/J4).

Every op rewrites the whole table into a sibling ``path__tmp_*``
directory and swaps it in with two renames (``path -> path__old_*``,
``tmp -> path``). A crash between the renames leaves no ``path``: reads
then resolve the lone ``path__old_*`` (still the last committed table)
without touching disk, and the next write reads it, commits its own
directory at ``path`` and deletes every stale sibling.

Scale path: the table format. On Delta/Iceberg ``merge_upsert`` maps
1:1 onto ``MERGE INTO`` and ``append_dedup`` onto ``MERGE ... WHEN NOT
MATCHED INSERT``; their commit logs replace the whole-table rewrite with
file-level commits, time travel and concurrent writers. The five tables
the reference keeps are small, so the rewrite is the cheap form here.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _fsync_dir(path: str) -> None:
    """Make a rename/replace durable across power loss: POSIX persists a
    rename only once the CONTAINING directory's entry is fsynced — an
    ``os.replace`` alone survives a process crash but not necessarily a
    power cut. Best-effort (some filesystems refuse O_RDONLY dir fsync)."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def parquet_footer_rows(paths: list[str]) -> int:
    """EXACT row count from parquet footers — driver-side metadata reads
    only, no Spark job (each footer is a few KB; cost O(files), the same
    listing a scan plan does anyway). The statistics source for mode
    gates that must not spend a cluster action (e.g. the fundamental
    job's percentile-mode pick)."""
    import pyarrow.parquet as pq
    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                for n in names:
                    if n.endswith(".parquet"):
                        total += pq.ParquetFile(
                            os.path.join(root, n)).metadata.num_rows
        elif os.path.isfile(p):
            total += pq.ParquetFile(p).metadata.num_rows
    return total


def align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project onto the declared schema: missing columns -> typed NULLs,
    extra columns dropped, types cast (tolerant sink alignment,
    sectormerged_improved.py:655-680).

    Built as ONE selectExpr (r12, guide §7.3): the per-column
    ``Column.try_cast(DataType)`` form pays a getActiveSession +
    parseDataType py4j round trip per column (~19 ms each on this
    container — 2.6 s per merge on the 137-column stock schema); the
    TryCast expressions the parser builds here are identical."""
    cols = set(df.columns)
    exprs = []
    for f in schema.fields:
        nq = f.name.replace("`", "``")
        if f.name in cols:
            exprs.append(f"try_cast(`{nq}` AS {f.dataType.simpleString()})"
                         f" AS `{nq}`")
        else:
            exprs.append(f"CAST(NULL AS {f.dataType.simpleString()})"
                         f" AS `{nq}`")
    return df.selectExpr(*exprs)


class ParquetTable:
    """A keyed table stored as one parquet directory, replaced whole and
    atomically on every write (see module docstring)."""

    def __init__(self, spark: SparkSession, path: str, schema: T.StructType,
                 key: str):
        self.spark = spark
        self.path = path
        self.schema = schema
        self.key = key

    # -- read ---------------------------------------------------------------

    def _siblings(self, tag: str) -> list[str]:
        return sorted(glob.glob(f"{glob.escape(self.path)}__{tag}_*"))

    def _live_dir(self) -> str | None:
        """The directory holding the committed table: ``path``, or the
        lone ``path__old_*`` a crash between the swap's two renames left.
        Resolution only; nothing is written."""
        if os.path.isdir(self.path):
            return self.path
        olds = self._siblings("old")
        if len(olds) > 1:
            raise RuntimeError(f"{self.path} is missing and {len(olds)} "
                               f"__old_ copies exist — resolve manually")
        return olds[0] if olds else None

    def exists(self) -> bool:
        live = self._live_dir()
        return live is not None and any(
            n == "_SUCCESS" or n.endswith(".parquet") for n in os.listdir(live))

    def read(self) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(self._live_dir())

    def read_key(self, value) -> DataFrame:
        """Point lookup: rows whose key equals ``value`` (cast to the key
        type, so an int literal matches a string key)."""
        key_type = self.schema[self.key].dataType
        return self.read().where(F.col(self.key) == F.lit(value).cast(key_type))

    def row_count(self) -> int:
        """Exact table row count from parquet footers — no Spark job."""
        return parquet_footer_rows([self._live_dir()]) if self.exists() else 0

    def status(self) -> dict:
        """Table metadata from the filesystem only — no Spark job. Feeds
        ops reports (``notify``) and the jobs CLI."""
        live = self._live_dir()
        if live is None:
            return {"exists": False, "path": self.path}
        files = total = 0
        for root, _, names in os.walk(live):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    total += os.path.getsize(os.path.join(root, n))
        return {"exists": self.exists(), "path": self.path,
                "parquet_files": files, "bytes": total}

    # -- write primitives ---------------------------------------------------

    def _replace_with(self, df: DataFrame) -> None:
        """Write ``df`` to a sibling ``__tmp_`` dir, then swap it in with
        two renames. Siblings a crashed write left are deleted first,
        except the ``__old_`` copy reads resolve to; with ``path``
        missing the first rename is skipped, and the swap retires that
        copy like any other."""
        live = self._live_dir()
        for d in self._siblings("tmp") + self._siblings("old"):
            if d != live:
                shutil.rmtree(d, ignore_errors=True)
        tmp = f"{self.path}__tmp_{uuid.uuid4().hex[:8]}"
        align_to_schema(df, self.schema).write.mode("overwrite").parquet(tmp)
        if os.path.isdir(self.path):
            os.rename(self.path, f"{self.path}__old_{uuid.uuid4().hex[:8]}")
        os.rename(tmp, self.path)
        _fsync_dir(os.path.dirname(os.path.abspath(self.path)))
        for d in self._siblings("old"):
            shutil.rmtree(d, ignore_errors=True)

    def _keyed_source(self, source: DataFrame) -> DataFrame:
        return align_to_schema(source, self.schema) \
            .where(F.col(self.key).isNotNull()) \
            .dropDuplicates([self.key])

    # -- maintenance ops -----------------------------------------------------

    def overwrite(self, df: DataFrame) -> None:
        """K3 truncate-and-load."""
        self._replace_with(df)

    def merge_upsert(self, source: DataFrame) -> None:
        """K1/K2 MERGE on the key.

        Matched rows: for every non-key column, take the source value when
        the source actually carries that column and it is non-null,
        else keep the target's (so a technical-only upsert never nulls out
        fundamental columns — the reference achieves the same by sending
        only its own column subset per request).
        Unmatched: insert (with NULLs for columns the source lacks).
        Source rows with NULL key are dropped (P4, uploadtodb.py:171-174).
        """
        source_cols = set(source.columns)
        src = self._keyed_source(source)
        if not self.exists():
            self._replace_with(src)
            return
        # join on the key name (USING semantics): Spark emits one coalesced
        # key column for full-outer, exactly the J1 key-coalesce behavior
        joined = self.read().alias("t").join(src.alias("s"), on=self.key,
                                             how="full_outer")
        out_cols = [F.col(self.key)]
        for f in self.schema.fields:
            if f.name == self.key:
                continue
            t_c, s_c = F.col(f"t.{f.name}"), F.col(f"s.{f.name}")
            out_cols.append(t_c.alias(f.name) if f.name not in source_cols
                            else F.coalesce(s_c, t_c).alias(f.name))
        self._replace_with(joined.select(*out_cols))

    def append_dedup(self, source: DataFrame) -> None:
        """K5: insert only rows whose key is not already present
        (left-anti join — the set-based form of the reference's
        fetch-all-URLs-then-skip loop, newsflow_scraper.py:243-293)."""
        src = self._keyed_source(source)
        if not self.exists():
            self._replace_with(src)
            return
        tgt = self.read()
        fresh = src.join(tgt.select(self.key), on=self.key, how="left_anti")
        self._replace_with(tgt.unionByName(fresh))
