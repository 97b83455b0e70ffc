"""Export layouts: stable sharded training exports, range clustering and
z-order writes whose zone maps let scans prune row groups."""

import os

from pyspark.sql import functions as F


def test_sharded_export_stable_and_one_file_per_shard(spark, tmp_path):
    from tradingview_data_pipeline_spark.operators.export import (
        assign_shard, write_training_shards)

    df = spark.createDataFrame(
        [(i, "doc %d" % i) for i in range(500)], "doc_id long, text string")
    p1, p2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    write_training_shards(df, p1, "doc_id", 8)
    # different input partitioning -> identical shard membership
    write_training_shards(df.repartition(13), p2, "doc_id", 8)

    def shard_sets(path):
        out = spark.read.parquet(path)
        return {r["shard"]: None for r in out.select("shard").distinct().collect()}, \
               {(r["shard"], r["doc_id"]) for r in out.collect()}

    shards1, rows1 = shard_sets(p1)
    shards2, rows2 = shard_sets(p2)
    assert rows1 == rows2 and len(rows1) == 500
    assert set(shards1) == set(range(8))

    # one data file per shard directory
    import os
    for k in range(8):
        files = [f for f in os.listdir(os.path.join(p1, f"shard={k}"))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (k, files)

    # membership matches the pure-projection formula
    expected = {(r["shard"], r["doc_id"])
                for r in assign_shard(df, "doc_id", 8).collect()}
    assert rows1 == expected


def test_clustered_write_makes_zone_maps_prunable(spark, tmp_path):
    """write_clustered produces disjoint per-row-group ranges so a
    narrow range predicate prunes most row groups from the footers
    alone; the same data written hash-scattered prunes ~nothing."""
    from tradingview_data_pipeline_spark.operators.export import (
        prunable_fraction, write_clustered, zone_maps)
    from pyspark.sql import functions as F

    df = (spark.range(20_000)
          .select((F.col("id") * 37 % 20_000).alias("k"),   # scrambled order
                  F.col("id").alias("payload")))
    clustered, scattered = str(tmp_path / "cl"), str(tmp_path / "sc")
    write_clustered(df, clustered, ["k"], n_files=8)
    df.repartition(8).write.mode("overwrite").parquet(scattered)

    zc, zs = zone_maps(clustered, "k"), zone_maps(scattered, "k")
    assert len(zc) >= 8
    # clustered: disjoint, sorted ranges
    spans = sorted(zc)
    assert all(a_max < b_min for (_, a_max), (b_min, _)
               in zip(spans, spans[1:]))
    # a 5%-wide range predicate: clustered skips >=75% of row groups,
    # the scattered layout skips (essentially) none
    assert prunable_fraction(zc, 1000, 2000) >= 0.75
    assert prunable_fraction(zs, 1000, 2000) <= 0.10
    # correctness unchanged: both layouts return the same rows
    got_c = spark.read.parquet(clustered).where(F.col("k").between(1000, 2000))
    got_s = spark.read.parquet(scattered).where(F.col("k").between(1000, 2000))
    assert got_c.count() == got_s.count() == 1001


def test_zorder_write_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order layout gives usable zone maps on BOTH columns; the 1-D
    sorted layout prunes one column perfectly and the other ~not at
    all. Thresholds are loose (zone granularity = 16 files here) but
    strictly separate the two layouts."""
    from tradingview_data_pipeline_spark.operators.export import (
        prunable_fraction, write_clustered, write_zordered, zone_maps)
    from pyspark.sql import functions as F

    df = (spark.range(40_000)
          .select(((F.col("id") * 37) % 256).alias("x"),
                  ((F.col("id") * 101) % 256).alias("y")))
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(df, zpath, ["x", "y"], bits=8, n_files=16)
    write_clustered(df, spath, ["x"], n_files=16)

    def frac(path, col):
        return prunable_fraction(zone_maps(path, col), 100, 131)  # 1/8 wide

    # Thresholds leave >= 2 row-group margin: under memory pressure the
    # writer may split a file into extra row groups (measured idle
    # values: 1-D x 0.81, y 0.0; Z x 0.5, y 0.5), and the assertion is
    # the SEPARATION of the layouts, not an exact fraction.
    # 1-D: strong on the sort column, blind on the other
    assert frac(spath, "x") >= 0.6
    assert frac(spath, "y") <= 0.15
    # Z-order: both columns prune meaningfully
    assert frac(zpath, "x") >= 0.3
    assert frac(zpath, "y") >= 0.3
    # identical answers regardless of layout
    q = lambda p: (spark.read.parquet(p)
                   .where(F.col("x").between(100, 131)).count())
    assert q(zpath) == q(spath)


def test_zorder_write_validates_range(spark, tmp_path):
    """Regression: a column wider than `bits` would silently degenerate
    into low-bit-hash order; the write must fail loudly instead."""
    import pytest
    from pyspark.sql import functions as F
    from tradingview_data_pipeline_spark.operators.export import write_zordered

    wide = spark.range(100).select(
        (F.col("id") * 1000).alias("x"), F.col("id").alias("y"))
    with pytest.raises(ValueError, match="needs more than bits=8"):
        write_zordered(wide, str(tmp_path / "zx"), ["x", "y"], bits=8)
    neg = spark.range(10).select((F.col("id") - 5).alias("x"),
                                 F.col("id").alias("y"))
    with pytest.raises(ValueError, match="negative"):
        write_zordered(neg, str(tmp_path / "zn"), ["x", "y"], bits=8)


def test_zorder_write_rejects_sign_bit_overflow(spark, tmp_path):
    """Regression (ADVICE r6): len(cols) * bits must stay <= 63 — at 4
    columns x 16 bits the top interleaved bit lands on the bigint SIGN
    bit and 5+ columns wrap shift amounts mod 64; both silently corrupt
    the Z ordering, so the write must refuse up front."""
    import pytest
    from pyspark.sql import functions as F
    from tradingview_data_pipeline_spark.operators.export import write_zordered

    df = spark.range(16).select(*[(F.col("id") % 4).alias(c)
                                  for c in ("a", "b", "c", "d")])
    with pytest.raises(ValueError, match="> 63"):
        write_zordered(df, str(tmp_path / "z4"), ["a", "b", "c", "d"],
                       bits=16)
    # 4 cols fit at bits<=15; validate=False exercises the guard alone
    write_zordered(df, str(tmp_path / "zok"), ["a", "b", "c", "d"],
                   bits=15, n_files=2)
    assert spark.read.parquet(str(tmp_path / "zok")).count() == 16


def test_training_shards_partition_cols_single_pass_layout(spark, tmp_path):
    """write_training_shards with partition_cols writes hive
    <col>=v/shard=K dirs with ONE file per (partition, shard), and the
    shard assignment of a row is identical to the unpartitioned write
    (the multi-split corpus export contract)."""
    import glob

    from pyspark.sql import functions as F
    from tradingview_data_pipeline_spark.operators.export import (
        write_training_shards)

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 7).alias("v"))
    flat, part = str(tmp_path / "flat"), str(tmp_path / "part")
    write_training_shards(df, flat, "id", 4)
    write_training_shards(df, part, "id", 4, partition_cols=["grp"])

    # one file per (grp, shard)
    for d in glob.glob(os.path.join(part, "grp=*", "shard=*")):
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, d
    a = spark.read.parquet(flat).select("id", "shard")
    b = spark.read.parquet(part).select("id", "shard")
    assert a.exceptAll(b).unionAll(b.exceptAll(a)).count() == 0
