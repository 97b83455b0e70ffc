"""Crash consistency of ParquetTable's whole-table swap (merge.py
``_replace_with``).

A write lands in a sibling ``path__tmp_*`` directory and is swapped in
with two renames: ``path -> path__old_*``, then ``tmp -> path``. A crash
between them leaves no ``path``. Reads must still see the last committed
table (the lone ``__old_`` copy) without writing anything, and the next
write must commit on top of it and leave no sibling directory behind.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from tradingview_data_pipeline_spark.operators import merge
from tradingview_data_pipeline_spark.operators.merge import ParquetTable

SCHEMA = T.StructType([
    T.StructField("symbol", T.StringType()),
    T.StructField("v", T.DoubleType()),
])


def _rows(t):
    return {r["symbol"]: r["v"] for r in t.read().collect()}


def test_crash_between_swap_renames_keeps_the_table(spark, tmp_path,
                                                    monkeypatch):
    path = str(tmp_path / "tbl")
    ParquetTable(spark, path, SCHEMA, "symbol").overwrite(
        spark.createDataFrame([("A", 1.0), ("B", 2.0)], SCHEMA))

    real = os.rename
    calls = []

    def crashing(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("simulated crash between the swap's renames")
        return real(src, dst)

    monkeypatch.setattr(merge.os, "rename", crashing)
    with pytest.raises(OSError, match="simulated crash"):
        ParquetTable(spark, path, SCHEMA, "symbol").merge_upsert(
            spark.createDataFrame([("D", 4.0)], SCHEMA))
    monkeypatch.undo()
    assert not os.path.exists(path)

    t = ParquetTable(spark, path, SCHEMA, "symbol")
    listing = sorted(os.listdir(tmp_path))
    assert t.exists() and t.row_count() == 2
    assert _rows(t) == {"A": 1.0, "B": 2.0}
    assert t.status()["parquet_files"] > 0
    assert sorted(os.listdir(tmp_path)) == listing     # reads write nothing

    t.merge_upsert(spark.createDataFrame([("C", 3.0)], SCHEMA))
    assert _rows(t) == {"A": 1.0, "B": 2.0, "C": 3.0}
    assert os.listdir(tmp_path) == ["tbl"]
