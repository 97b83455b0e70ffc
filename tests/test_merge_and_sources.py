"""ParquetTable maintenance ops (K1-K5) and the CSV header-mapping adapter
(S1/S2, P1-P4)."""

import os
import time

from pyspark.sql import functions as F
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
    """Daily append_dedup on an unbucketed table rewrites it whole; the
    rewrite's file count follows the shuffle width, not the number of
    days, so ten days of news do not pile up files."""
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


def test_update_where_merge(spark, tmp_path):
    t = table(spark, tmp_path)
    t.overwrite(spark.createDataFrame([("A", 1.0, 2.0), ("B", 3.0, 4.0)], SCHEMA))
    t.update_where(spark.createDataFrame([("A", 9.0)], "symbol string, price double"))
    assert rows(t) == {"A": (9.0, 2.0), "B": (3.0, 4.0)}


def _bucket_file_state(path):
    """{bucket_id: {file: (size, sha)}} for every manifest-live bucket."""
    import hashlib
    import json
    with open(os.path.join(path, "_manifest.json")) as fh:
        mapping = json.load(fh)["buckets"]
    state = {}
    for b, d in sorted(mapping.items()):
        files = {}
        for f in sorted(os.listdir(os.path.join(path, d))):
            fp = os.path.join(path, d, f)
            with open(fp, "rb") as fh:
                files[f] = (os.path.getsize(fp),
                            hashlib.sha256(fh.read()).hexdigest())
        state[b] = files
    return state


def test_bucketed_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    path = str(tmp_path / "bt")
    t = ParquetTable(spark, path, SCHEMA, key="symbol", buckets=8)
    base = [(f"SYM{i}", float(i), float(i) / 2) for i in range(40)]
    t.overwrite(spark.createDataFrame(base, SCHEMA))
    before = _bucket_file_state(path)
    assert len(before) > 1                     # spread across buckets

    # upsert exactly one key -> exactly one bucket may change
    t.merge_upsert(spark.createDataFrame([("SYM3", 99.0)],
                                         "symbol string, price double"))
    after = _bucket_file_state(path)
    changed = [d for d in before
               if before[d] != after.get(d)]
    assert len(changed) == 1, changed          # one bucket rewritten
    untouched = [d for d in before if d not in changed]
    for d in untouched:                        # byte-identical files
        assert before[d] == after[d], d

    got = rows(t)
    assert got["SYM3"] == (99.0, 1.5)          # merged, pe preserved
    assert len(got) == 40


def test_bucketed_ops_match_unbucketed_semantics(spark, tmp_path):
    tb = ParquetTable(spark, str(tmp_path / "b"), SCHEMA, "symbol", buckets=4)
    tu = ParquetTable(spark, str(tmp_path / "u"), SCHEMA, "symbol")
    for t in (tb, tu):
        t.overwrite(spark.createDataFrame(
            [("A", 10.0, 5.0), ("B", 20.0, 6.0)], SCHEMA))
        t.merge_upsert(spark.createDataFrame(
            [("A", 11.0), ("C", 30.0)], "symbol string, price double"))
        t.append_dedup(spark.createDataFrame(
            [("C", 1.0, 1.0), ("D", 2.0, 2.0)], SCHEMA))
        t.update_where(spark.createDataFrame(
            [("B", 21.0)], "symbol string, price double"))
    assert rows(tb) == rows(tu) == {
        "A": (11.0, 5.0), "B": (21.0, 6.0), "C": (30.0, None), "D": (2.0, 2.0)}


def test_random_op_sequence_bucketed_matches_unbucketed(spark, tmp_path):
    """Property: any sequence of maintenance ops leaves the manifest-
    committed bucketed table equal to the unbucketed reference (which is
    a plain whole-directory swap) — the layout must never leak into
    semantics."""
    import random
    rng = random.Random(42)
    tb = ParquetTable(spark, str(tmp_path / "rb"), SCHEMA, "symbol", buckets=4)
    tu = ParquetTable(spark, str(tmp_path / "ru"), SCHEMA, "symbol")

    def frame(n_lo, n_hi, val):
        ks = rng.sample(range(30), rng.randint(n_lo, n_hi))
        return spark.createDataFrame(
            [(f"K{k:02d}", val + k, val / 2 + k) for k in ks], SCHEMA)

    for step in range(10):
        op = rng.choice(["upsert", "append", "update", "overwrite"])
        df = frame(1, 6, float(step * 100))
        for t in (tb, tu):
            if op == "upsert":
                t.merge_upsert(df)
            elif op == "append":
                t.append_dedup(df)
            elif op == "update":
                t.update_where(df)
            else:
                t.overwrite(df)
        got_b = {r["symbol"]: (r["price"], r["pe"]) for r in tb.read().collect()}
        got_u = {r["symbol"]: (r["price"], r["pe"]) for r in tu.read().collect()}
        assert got_b == got_u, f"diverged after step {step} ({op})"


def test_bucket_count_mismatch_fails_loudly(spark, tmp_path):
    import pytest
    path = str(tmp_path / "bm")
    t4 = ParquetTable(spark, path, SCHEMA, "symbol", buckets=4)
    t4.overwrite(spark.createDataFrame([("A", 1.0, 1.0)], SCHEMA))
    t8 = ParquetTable(spark, path, SCHEMA, "symbol", buckets=8)
    with pytest.raises(RuntimeError, match="bucket-count mismatch"):
        t8.read()
    with pytest.raises(RuntimeError, match="bucket-count mismatch"):
        t8.merge_upsert(spark.createDataFrame([("B", 2.0, 2.0)], SCHEMA))
    # the right handle still works and the table is untouched
    assert t4.read().count() == 1


def test_status_reports_manifest_metadata(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "st"), SCHEMA, "symbol", buckets=4)
    assert t.status() == {"exists": False, "path": t.path}
    t.overwrite(spark.createDataFrame(
        [(f"S{i}", float(i), 1.0) for i in range(20)], SCHEMA))
    st = t.status()
    assert st["layout"] == "manifest" and st["version"] == 1
    assert st["buckets_live"] > 0 and st["parquet_files"] > 0 and st["bytes"] > 0
    t.merge_upsert(spark.createDataFrame([("S1", 9.0, 9.0)], SCHEMA))
    assert t.status()["version"] == 2


def test_read_key_scans_single_bucket(spark, tmp_path):
    path = str(tmp_path / "pk")
    t = ParquetTable(spark, path, SCHEMA, key="symbol", buckets=8)
    t.overwrite(spark.createDataFrame(
        [(f"SYM{i}", float(i), float(i) / 2) for i in range(40)], SCHEMA))
    df = t.read_key("SYM7")
    assert [(r["symbol"], r["price"]) for r in df.collect()] == [("SYM7", 7.0)]
    # the plan reads exactly one bucket directory, not the table
    dirs = {os.path.dirname(f.replace("file:", "")) for f in df.inputFiles()}
    assert len(dirs) == 1
    assert t.read_key("ABSENT").count() == 0
    # unbucketed fallback
    tu = ParquetTable(spark, str(tmp_path / "pku"), SCHEMA, key="symbol")
    tu.overwrite(spark.createDataFrame([("A", 1.0, 2.0)], SCHEMA))
    assert tu.read_key("A").count() == 1


def test_read_matching_prunes_to_touched_buckets(spark, tmp_path):
    """read_matching returns a SUPERSET slice (touched buckets only):
    every key-match is inside it, and the scan reads strictly fewer
    bucket directories than the table has when the key set is small."""
    path = str(tmp_path / "pm")
    t = ParquetTable(spark, path, SCHEMA, key="symbol", buckets=16)
    t.overwrite(spark.createDataFrame(
        [(f"SYM{i}", float(i), float(i) / 2) for i in range(200)], SCHEMA))
    keys = spark.createDataFrame([("SYM3",), ("SYM17",), ("ABSENT",)],
                                 "symbol string")
    sl = t.read_matching(keys)
    got = {r["symbol"] for r in
           sl.join(keys, "symbol", "left_semi").collect()}
    assert got == {"SYM3", "SYM17"}           # all matches present
    dirs = {os.path.dirname(f.replace("file:", ""))
            for f in sl.inputFiles()}
    assert 0 < len(dirs) <= 3                 # <= one dir per key
    # unbucketed fallback reads everything but still answers correctly
    tu = ParquetTable(spark, str(tmp_path / "pmu"), SCHEMA, key="symbol")
    tu.overwrite(spark.createDataFrame([("A", 1.0, 2.0)], SCHEMA))
    assert tu.read_matching(keys.limit(1)).count() == 1


def test_bucketed_insert_creates_new_bucket_dir(spark, tmp_path):
    path = str(tmp_path / "nb")
    t = ParquetTable(spark, path, SCHEMA, key="symbol", buckets=64)
    t.overwrite(spark.createDataFrame([("A", 1.0, 1.0)], SCHEMA))
    n_before = len(_bucket_file_state(path))
    # with 64 buckets and fresh keys, a new bucket dir almost surely appears
    t.merge_upsert(spark.createDataFrame(
        [(f"NEW{i}", float(i), None) for i in range(20)], SCHEMA))
    assert len(_bucket_file_state(path)) > n_before
    assert len(rows(t)) == 21


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


def _bucketed(spark, tmp_path, name):
    t = ParquetTable(spark, str(tmp_path / name), SCHEMA, key="symbol",
                     buckets=4)
    t.INSERT_FASTPATH_MIN_ROWS = 0     # exercise the path on toy tables
    return t


def test_insert_only_fastpath_engages_and_is_exact(spark, tmp_path,
                                                   monkeypatch):
    # a pure-insert upsert into a bucketed table must take the hardlink
    # append (no bucket rewrite) and produce exactly old + new rows
    t = _bucketed(spark, tmp_path, "fp")
    t.merge_upsert(spark.createDataFrame(
        [("A", 1.0, 2.0), ("B", 3.0, 4.0)], SCHEMA))

    def boom(*a, **k):
        raise AssertionError("rewrite path must not run for pure inserts")
    monkeypatch.setattr(t, "_rewrite_touched_buckets", boom)
    t.merge_upsert(spark.createDataFrame(
        [("C", 5.0, 6.0), ("D", 7.0, 8.0)], SCHEMA))
    assert rows(t) == {"A": (1.0, 2.0), "B": (3.0, 4.0),
                       "C": (5.0, 6.0), "D": (7.0, 8.0)}
    # (hardlink sharing itself is transient: with the default
    # retain_versions=1 the superseded dirs are GC'd at commit, so the
    # observable contract is the monkeypatch above + exact rows)


def test_insert_only_fastpath_falls_back_on_collision(spark, tmp_path):
    t = _bucketed(spark, tmp_path, "fb")
    t.merge_upsert(spark.createDataFrame([("A", 1.0, 2.0)], SCHEMA))
    assert t._insert_only_fastpath(
        align_to_schema(spark.createDataFrame([("A", 9.0, 9.0)], SCHEMA),
                        SCHEMA)) is False
    # full upsert still merges correctly through the rewrite path
    t.merge_upsert(spark.createDataFrame([("A", 9.0, None)],
                                         "symbol string, price double, pe double"))
    assert rows(t) == {"A": (9.0, 2.0)}


def test_insert_only_fastpath_preserves_time_travel(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "tt"), SCHEMA, key="symbol",
                     buckets=4, retain_versions=3)
    t.INSERT_FASTPATH_MIN_ROWS = 0
    t.merge_upsert(spark.createDataFrame([("A", 1.0, 2.0)], SCHEMA))
    v1 = t.status()["version"]
    t.merge_upsert(spark.createDataFrame([("B", 3.0, 4.0)], SCHEMA))
    old = {r["symbol"] for r in t.read(version=v1).collect()}
    assert old == {"A"}
    assert {r["symbol"] for r in t.read().collect()} == {"A", "B"}


def test_manifest_bucket_rows_track_row_count(spark, tmp_path):
    """row_count() reads manifest-recorded per-bucket counts (one JSON,
    no footer walk — the round-11 advisor catch on the fastpath gate):
    counts must stay exact through seed, fastpath hardlink append,
    rewrite-path merge, delete-ish merge, and compact()."""
    import json as _json
    t = _bucketed(spark, tmp_path, "rc")
    t.merge_upsert(spark.createDataFrame(
        [("A", 1.0, 2.0), ("B", 3.0, 4.0)], SCHEMA))

    def manifest():
        with open(tmp_path / "rc" / "_manifest.json") as fh:
            return _json.load(fh)

    def check():
        m = manifest()
        live = list(m["buckets"].values())
        assert all(d in m["bucket_rows"] for d in live)
        assert t.row_count() == t.read().count()
        assert t.row_count() == sum(m["bucket_rows"][d] for d in live)

    check()
    # hardlink fastpath append (pure inserts)
    t.merge_upsert(spark.createDataFrame(
        [("C", 5.0, 6.0), ("D", 7.0, 8.0)], SCHEMA))
    check()
    assert t.row_count() == 4
    # rewrite path (update collides)
    t.merge_upsert(spark.createDataFrame([("A", 9.0, 9.0)], SCHEMA))
    check()
    assert t.row_count() == 4
    # compact rewrites every bucket; counts must survive
    t.compact()
    check()
    assert t.row_count() == 4


def test_row_count_backfills_legacy_manifest(spark, tmp_path):
    """A manifest written before bucket_rows existed must still count
    correctly (footer-walk fallback) and upgrade on the next commit."""
    import json as _json
    t = _bucketed(spark, tmp_path, "legacy")
    t.merge_upsert(spark.createDataFrame([("A", 1.0, 2.0)], SCHEMA))
    mf = tmp_path / "legacy" / "_manifest.json"
    m = _json.loads(mf.read_text())
    m.pop("bucket_rows")
    mf.write_text(_json.dumps(m))
    assert t.row_count() == 1                     # fallback walk
    t.merge_upsert(spark.createDataFrame([("B", 3.0, 4.0)], SCHEMA))
    m2 = _json.loads(mf.read_text())
    assert all(d in m2["bucket_rows"] for d in m2["buckets"].values())
    assert t.row_count() == 2
