"""ParquetTable maintenance ops (K1-K5) and the CSV header-mapping adapter
(S1/S2, P1-P4)."""

import os
import random
import time

from pyspark.sql import types as T

from tradingview_data_pipeline_spark.operators.merge import ParquetTable, align_to_schema
from tradingview_data_pipeline_spark.sources.csv_adapter import (
    ingest_newest, newest_file_by_prefix, read_csv_with_mapping,
)

SCHEMA = T.StructType([
    T.StructField("symbol", T.StringType(), False),
    T.StructField("price", T.DoubleType()),
    T.StructField("pe", T.DoubleType()),
])


def table(spark, tmp_path, name="t"):
    return ParquetTable(spark, str(tmp_path / name), SCHEMA, key="symbol")


def rows(t):
    return {r["symbol"]: (r["price"], r["pe"]) for r in t.read().collect()}


def test_merge_upsert_column_subset_preserves_other_columns(spark, tmp_path):
    t = table(spark, tmp_path)
    t.overwrite(spark.createDataFrame([("A", 10.0, 5.0), ("B", 20.0, 6.0)], SCHEMA))
    # technical-style upsert carries only price; pe must survive (K1/J5)
    src = spark.createDataFrame([("A", 11.0), ("C", 30.0)], "symbol string, price double")
    t.merge_upsert(src)
    got = rows(t)
    assert got == {"A": (11.0, 5.0), "B": (20.0, 6.0), "C": (30.0, None)}


def test_merge_upsert_null_key_dropped_and_null_source_value_keeps_target(spark, tmp_path):
    t = table(spark, tmp_path)
    t.overwrite(spark.createDataFrame([("A", 10.0, 5.0)], SCHEMA))
    src = spark.createDataFrame([("A", None, 7.0), (None, 99.0, 9.0)],
                                "symbol string, price double, pe double")
    t.merge_upsert(src)
    got = rows(t)
    assert got == {"A": (10.0, 7.0)}   # null source price keeps 10.0; null key dropped


def test_append_dedup(spark, tmp_path):
    t = table(spark, tmp_path)
    t.append_dedup(spark.createDataFrame([("A", 1.0, None)], SCHEMA))
    t.append_dedup(spark.createDataFrame([("A", 2.0, None), ("B", 3.0, None)], SCHEMA))
    got = rows(t)
    assert got == {"A": (1.0, None), "B": (3.0, None)}  # A kept its first version


def test_append_dedup_file_count_stays_bounded(spark, tmp_path):
    """Daily append_dedup rewrites the table whole; the rewrite's file
    count follows the shuffle width, not the number of days, so ten days
    of news do not pile up files."""
    t = table(spark, tmp_path)

    def day(lo, hi):
        return (spark.range(lo, hi)
                .selectExpr("format_string('S%05d', id) AS symbol",
                            "CAST(id AS DOUBLE) AS price",
                            "CAST(NULL AS DOUBLE) AS pe"))

    t.overwrite(day(0, 2_000).coalesce(1))
    assert t.status()["parquet_files"] == 1
    bound = 2 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    files = []
    for d in range(10):
        lo = 2_000 + 150 * d
        # 150 fresh keys plus 50 keys the table already holds
        t.append_dedup(day(lo, lo + 150).unionByName(day(lo - 50, lo)))
        files.append(t.status()["parquet_files"])
    assert max(files) <= bound, files
    assert t.read().count() == 3_500


def test_random_op_sequence_matches_dict_model(spark, tmp_path):
    """Property: a seeded sequence of upserts (with column subsets and
    NULL values), append_dedup and overwrite leaves the table equal to a
    Python dict model of the same ops."""
    rng = random.Random(42)
    t = table(spark, tmp_path, "rnd")
    model: dict = {}
    subsets = [("price", "pe"), ("price",), ("pe",)]

    def val(base):
        return None if rng.random() < 0.2 else base

    for step in range(12):
        op = rng.choice(["upsert", "upsert", "append", "overwrite"])
        # unique keys per batch: the source is de-duplicated on the key
        # in no fixed order, which the model cannot predict
        ks = rng.sample(range(20), rng.randint(1, 6))
        cols = rng.choice(subsets) if op == "upsert" else ("price", "pe")
        data = [(f"K{k:02d}", *[val(step * 100.0 + k + (c == "pe"))
                                for c in cols]) for k in ks]
        df = spark.createDataFrame(
            data, ", ".join(["symbol string"] + [f"{c} double" for c in cols]))
        if op == "upsert":
            t.merge_upsert(df)
            for k, *vs in data:
                row = dict(model.get(k, {"price": None, "pe": None}))
                for c, v in zip(cols, vs):
                    if v is not None or k not in model:
                        row[c] = v
                model[k] = row
        elif op == "append":
            t.append_dedup(df)
            for k, p, e in data:
                model.setdefault(k, {"price": p, "pe": e})
        else:
            t.overwrite(df)
            model = {k: {"price": p, "pe": e} for k, p, e in data}
        want = {k: (r["price"], r["pe"]) for k, r in model.items()}
        assert rows(t) == want, f"diverged after step {step} ({op})"


def test_schema_evolution_widened_handle(spark, tmp_path):
    """Reopening a table with a WIDENED declared schema reads old files
    with typed NULLs for the new column, and a merge through the widened
    handle persists it."""
    path = str(tmp_path / "evo")
    ParquetTable(spark, path, SCHEMA, "symbol").merge_upsert(
        spark.createDataFrame([("A", 1.0, 2.0), ("B", 3.0, 4.0)], SCHEMA))
    wide = T.StructType(list(SCHEMA.fields)
                        + [T.StructField("extra", T.DoubleType())])
    t = ParquetTable(spark, path, wide, "symbol")

    def got():
        return {r["symbol"]: (r["price"], r["extra"]) for r in t.read().collect()}

    assert got() == {"A": (1.0, None), "B": (3.0, None)}
    t.merge_upsert(spark.createDataFrame([("B", 5.0, 6.0, 9.5), ("C", 7.0, 8.0, 1.0)],
                                         wide))
    assert got() == {"A": (1.0, None), "B": (5.0, 9.5), "C": (7.0, 1.0)}


def test_read_key_hit_miss_and_cast(spark, tmp_path):
    t = table(spark, tmp_path, "pk")
    t.overwrite(spark.createDataFrame(
        [("SYM7", 7.0, 3.5), ("7", 1.0, 2.0), ("SYM8", 8.0, 4.0)], SCHEMA))
    assert [(r["symbol"], r["price"]) for r in t.read_key("SYM7").collect()] \
        == [("SYM7", 7.0)]
    assert t.read_key("ABSENT").count() == 0
    # an int literal is cast to the string key type
    assert [r["symbol"] for r in t.read_key(7).collect()] == ["7"]


def test_align_to_schema(spark):
    df = spark.createDataFrame([("A", "1.5", "x")], "symbol string, price string, junk string")
    out = align_to_schema(df, SCHEMA)
    r = out.collect()[0]
    assert (r["symbol"], r["price"], r["pe"]) == ("A", 1.5, None)
    assert out.columns == ["symbol", "price", "pe"]


# --- CSV adapter -----------------------------------------------------------

CSV_SCHEMA = T.StructType([
    T.StructField("symbol", T.StringType(), False),
    T.StructField("rsi", T.DoubleType()),
    T.StructField("macd_level", T.DoubleType()),
    T.StructField("macd_level_dup", T.DoubleType()),
    T.StructField("mcap", T.LongType()),
    T.StructField("missing_col", T.DoubleType()),
    T.StructField("last_modified_date", T.TimestampType()),
])

HEADER_MAP = {
    "Symbol": "symbol",
    "RSI (14)": "rsi",
    "MACD, Level": "macd_level",
    "MACD, Level.1": "macd_level_dup",
    "Market cap": "mcap",
    "Not In File": "missing_col",
}


def test_csv_adapter_mapping_dupes_cleaning(spark, tmp_path):
    p = tmp_path / "Technicals_2026.csv"
    p.write_text(
        '"Symbol","RSI (14)","MACD, Level","MACD, Level","Market cap","Junk"\n'
        '"AAA","55.239","1.5","2.5","123456789012","zzz"\n'
        '"BBB","","x","","",""\n')
    df = read_csv_with_mapping(spark, str(p), HEADER_MAP, CSV_SCHEMA)
    got = {r["symbol"]: r for r in df.collect()}
    assert df.columns == [f.name for f in CSV_SCHEMA.fields]
    a = got["AAA"]
    assert a["rsi"] == 55.24                       # F1 round 2dp
    assert (a["macd_level"], a["macd_level_dup"]) == (1.5, 2.5)  # pandas .1 dedup
    assert a["mcap"] == 123456789012
    assert a["missing_col"] is None                # absent column -> typed NULL
    assert a["last_modified_date"] is not None     # P3 audit stamp
    b = got["BBB"]
    assert b["rsi"] is None and b["macd_level"] is None and b["mcap"] is None


def test_newest_file_by_prefix(tmp_path):
    old = tmp_path / "Technicals_old.csv"
    new = tmp_path / "Technicals_new.csv"
    other = tmp_path / "funda_newer.csv"
    for f in (old, new, other):
        f.write_text("Symbol\nA\n")
    past = time.time() - 1000
    os.utime(old, (past, past))
    assert newest_file_by_prefix(str(tmp_path), "Technicals") == str(new)
    assert newest_file_by_prefix(str(tmp_path), "nope") is None
    assert newest_file_by_prefix("/does/not/exist", "x") is None


def test_ingest_newest_roundtrip(spark, tmp_path):
    (tmp_path / "Technicals_a.csv").write_text('"Symbol","RSI (14)"\n"S1","42.0"\n')
    df = ingest_newest(spark, str(tmp_path), "Technicals", HEADER_MAP, CSV_SCHEMA)
    assert df.collect()[0]["rsi"] == 42.0
