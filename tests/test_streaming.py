"""Structured Streaming paths: file-arrival CSV ingest (M6) and news
dedup with watermark — driven end-to-end with Trigger.AvailableNow."""

import datetime as dt

from pyspark.sql import types as T

from tradingview_data_pipeline_spark.operators.merge import ParquetTable
from tradingview_data_pipeline_spark.schemas import NEWS_SCHEMA
from tradingview_data_pipeline_spark.streaming.file_ingest import stream_csv_to_table
from tradingview_data_pipeline_spark.streaming.news_dedup import (
    normalize_news, stream_neardup_candidates, stream_news_to_table,
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


def test_stream_neardup_candidates_across_batches(spark, tmp_path):
    """Streaming near-dup: candidate pairs span micro-batch boundaries
    via the persisted signature index, nothing is re-reported, and the
    pairs table accumulates with key-dedup."""
    from tradingview_data_pipeline_spark.operators.dedup import (
        IncrementalNearDupIndex,
    )

    base = ("the quick brown fox jumps over the lazy dog "
            "and runs far away today")
    other = ("completely different content about spark window "
             "aggregation internals")
    src_dir = tmp_path / "docs_in"
    src_dir.mkdir()
    schema = "doc_id long, text string"
    pairs_schema = T.StructType([
        T.StructField("doc_a", T.LongType()),
        T.StructField("doc_b", T.LongType()),
        T.StructField("pair_key", T.StringType()),
    ])
    idx = IncrementalNearDupIndex(spark, str(tmp_path / "sig_ix"), buckets=4)
    pairs_table = ParquetTable(spark, str(tmp_path / "pairs"), pairs_schema,
                               key="pair_key")

    spark.createDataFrame([(1, base), (2, other)], schema) \
        .coalesce(1).write.parquet(str(src_dir / "b1"))
    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema).parquet(str(src_dir) + "/*")
    q = stream_neardup_candidates(stream, idx, pairs_table,
                                  str(tmp_path / "ckpt_nd"))
    q.awaitTermination(120)
    assert pairs_table.read().count() == 0        # unrelated docs

    # second trigger: exact copies pair against FIRST-batch docs through
    # the index — cross-micro-batch detection with no stream-side state
    spark.createDataFrame([(3, base), (4, other)], schema) \
        .coalesce(1).write.parquet(str(src_dir / "b2"))
    q = stream_neardup_candidates(stream, idx, pairs_table,
                                  str(tmp_path / "ckpt_nd"))
    q.awaitTermination(120)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs_table.read().collect()}
    assert {(1, 3), (2, 4)} <= got
    assert (1, 2) not in got


def test_stream_neardup_candidates_embedding_index(spark, tmp_path):
    """The same streaming operator drives the vector-side incremental
    index: cross-micro-batch embedding near-dup candidates, keyed
    pair-dedup sink, nothing re-reported."""
    import numpy as np
    from tradingview_data_pipeline_spark.operators.similarity import (
        IncrementalEmbeddingIndex,
    )

    rng = np.random.default_rng(5)
    m = rng.standard_normal((6, 8))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    schema = "vec_id long, embedding array<float>"
    pairs_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("pair_key", T.StringType()),
    ])
    idx = IncrementalEmbeddingIndex(spark, str(tmp_path / "eix_s"),
                                    bits=24, bands=4, dim=8, buckets=4)
    pairs_table = ParquetTable(spark, str(tmp_path / "epairs"), pairs_schema,
                               key="pair_key")
    src_dir = tmp_path / "vecs_in"
    src_dir.mkdir()

    def write_batch(name, rows):
        spark.createDataFrame(
            [(i, [float(x) for x in m[j]]) for i, j in rows], schema) \
            .coalesce(1).write.parquet(str(src_dir / name))

    write_batch("b1", [(0, 0), (1, 1)])
    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema).parquet(str(src_dir) + "/*")
    q = stream_neardup_candidates(stream, idx, pairs_table,
                                  str(tmp_path / "ckpt_e"),
                                  id_col="vec_id", text_col="embedding")
    q.awaitTermination(120)
    assert pairs_table.read().count() == 0        # unrelated vectors

    # second trigger: vec 10 duplicates stored vec 1 -> cross-batch pair
    write_batch("b2", [(10, 1), (11, 3)])
    q = stream_neardup_candidates(stream, idx, pairs_table,
                                  str(tmp_path / "ckpt_e"),
                                  id_col="vec_id", text_col="embedding")
    q.awaitTermination(120)
    got = {(r["id_a"], r["id_b"]) for r in pairs_table.read().collect()}
    assert (1, 10) in got
    assert all(10 in p or 11 in p for p in got)   # only new-member pairs


def test_stream_merge_sink_builds_time_travel_history(spark, tmp_path):
    """Streaming MERGE sink on a retention table: each micro-batch is
    one manifest commit, so the last retain_versions batch states stay
    point-in-time readable — streaming and time travel compose."""
    inbox = tmp_path / "inbox_tt"
    inbox.mkdir()
    table = ParquetTable(spark, str(tmp_path / "stock_tt"), SCHEMA,
                         key="symbol", buckets=4, retain_versions=3)

    for i, body in enumerate(["Symbol,Price\nA,1.0\n",
                              "Symbol,Price\nA,2.0\nB,5.0\n",
                              "Symbol,Price\nA,3.0\n"]):
        (inbox / f"Technicals_{i}.csv").write_text(body)
        q = stream_csv_to_table(spark, str(inbox), HEADER_MAP, table,
                                str(tmp_path / "ckpt_tt"),
                                csv_header_columns=["Symbol", "Price"])
        q.awaitTermination(120)

    vs = table.versions()
    assert len(vs) == 3

    def prices(version):
        return {r["symbol"]: r["price"]
                for r in table.read(version=version).collect()}

    assert prices(vs[0]) == {"A": 1.0}
    assert prices(vs[1]) == {"A": 2.0, "B": 5.0}
    assert prices(vs[2]) == {"A": 3.0, "B": 5.0}
    assert prices(None) == prices(vs[2])


def test_stream_corpus_build_across_batches(spark, tmp_path):
    """Streaming corpus build: micro-batches feed the incremental
    builder through foreachBatch; near-dups of FIRST-trigger documents
    are dropped at the second trigger via the persisted index, and a
    checkpointed restart re-appends nothing."""
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)
    from tradingview_data_pipeline_spark.streaming.corpus_stream import (
        stream_corpus_build)

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu")
    variant = base.replace("kilo", "dup")
    other = ("entirely different material discussing spark adaptive "
             "execution and shuffle partition coalescing at length "
             "with many words")
    src_dir = tmp_path / "docs_in"
    src_dir.mkdir()
    schema = "doc_id long, text string"
    builder = IncrementalCorpusBuilder(spark, str(tmp_path / "state"),
                                       quality_min=0.0, buckets=4)

    spark.createDataFrame([(1, base), (2, other)], schema) \
        .coalesce(1).write.parquet(str(src_dir / "b1"))
    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema).parquet(str(src_dir) + "/*")
    q = stream_corpus_build(stream, builder, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert builder.corpus.row_count() == 2

    # trigger 2: an exact dup, a near-dup, and one fresh doc
    spark.createDataFrame(
        [(3, base), (4, variant),
         (5, "novel fresh standalone content with plenty of new words "
             "never seen before anywhere in this corpus at all")],
        schema).coalesce(1).write.parquet(str(src_dir / "b2"))
    q = stream_corpus_build(stream, builder, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    ids = sorted(r["doc_id"] for r in builder.corpus.read().collect())
    assert ids == [1, 2, 5]

    # restart with the same checkpoint: no new files -> nothing changes
    q = stream_corpus_build(stream, builder, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert builder.corpus.row_count() == 3


def test_stream_corpus_build_with_span_dedup(spark, tmp_path):
    """Streaming build composes with the span-dedup builder: a second
    trigger carrying a span shipped in the FIRST trigger gets it
    excised (keep-one-copy across micro-batches via the persisted gram
    store), and a checkpointed restart changes nothing."""
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)
    from tradingview_data_pipeline_spark.streaming.corpus_stream import (
        stream_corpus_build)

    span = "one two three four five six seven eight"
    tail_a = ("completely separate material about alpha beta gamma "
              "delta epsilon zeta eta theta iota kappa " * 2)
    tail_b = ("unrelated second story covering painting sculpture "
              "cinema architecture poetry dance opera theatre " * 2)
    src_dir = tmp_path / "docs_in"
    src_dir.mkdir()
    schema = "doc_id long, text string"
    builder = IncrementalCorpusBuilder(spark, str(tmp_path / "state"),
                                       quality_min=0.0, buckets=4,
                                       remove_spans=True)

    spark.createDataFrame([(1, span + " " + tail_a)], schema) \
        .coalesce(1).write.parquet(str(src_dir / "b1"))
    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema).parquet(str(src_dir) + "/*")
    q = stream_corpus_build(stream, builder, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    spark.createDataFrame([(2, span + " " + tail_b)], schema) \
        .coalesce(1).write.parquet(str(src_dir / "b2"))
    q = stream_corpus_build(stream, builder, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    texts = {r["doc_id"]: r["text"] for r in builder.corpus.read().collect()}
    assert texts[1].startswith(span)          # first shipper keeps
    assert span not in texts[2]               # second trigger excised
    assert "unrelated second story" in texts[2]

    # restart with the same checkpoint: nothing replays into the corpus
    q = stream_corpus_build(stream, builder, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert builder.corpus.row_count() == 2


def test_stream_corpus_build_with_sequences_feed(spark, tmp_path):
    """The streaming build composes with the tokenizer feed: each
    trigger's kept train docs land as fixed-length sequences, and the
    stream's final sequences table equals the same batches fed
    directly (stream ≡ batch), including across a checkpointed
    restart."""
    from tradingview_data_pipeline_spark.operators import bpe
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)
    from tradingview_data_pipeline_spark.streaming.corpus_stream import (
        stream_corpus_build)

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu")
    other = ("entirely different material discussing spark adaptive "
             "execution and shuffle partition coalescing at length "
             "with many words")
    texts = [base, other]
    tdf = spark.createDataFrame(list(enumerate(texts)),
                                "doc_id long, text string")
    merges = bpe.bpe_train(tdf, "text", n_merges=8, min_pair_count=2)
    vocab = bpe.build_vocab(merges, bpe.corpus_base_tokens(tdf, "text"))
    mk = lambda sub: IncrementalCorpusBuilder(
        spark, str(tmp_path / sub), quality_min=0.0, buckets=4,
        tokenizer=(merges, vocab), seq_len=16, seq_pad_id=0)

    schema = "doc_id long, text string"
    batches = [[(1, base)], [(2, other)]]

    # direct batch feed -> reference sequences
    ref = mk("ref")
    for b in batches:
        ref.add_batch(spark.createDataFrame(b, schema))
    want = sorted(map(tuple, ref.sequences.read().collect()))
    assert want                                   # feed actually fired

    # streaming feed, one trigger per file drop + a restart
    src_dir = tmp_path / "docs_in"
    src_dir.mkdir()
    builder = mk("state")
    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema).parquet(str(src_dir) + "/*")
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1) \
            .write.parquet(str(src_dir / f"b{i}"))
        q = stream_corpus_build(stream, builder, str(tmp_path / "ckpt"))
        q.awaitTermination(120)
    q = stream_corpus_build(stream, builder, str(tmp_path / "ckpt"))
    q.awaitTermination(120)                       # restart: no-op
    assert sorted(map(tuple, builder.sequences.read().collect())) == want


def test_stream_corpus_build_with_global_line_dedup(spark, tmp_path):
    """Streaming build composes with the line-prevalence builder: a
    second trigger carrying a line shipped in the FIRST trigger crosses
    the min_docs=2 threshold and ships stripped (the first shipper's
    copy stays — forward-only), and a checkpointed restart changes
    nothing."""
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        IncrementalCorpusBuilder)
    from tradingview_data_pipeline_spark.streaming.corpus_stream import (
        stream_corpus_build)

    footer = "copyright footer all rights reserved worldwide"
    body_a = ("completely separate material about alpha beta gamma "
              "delta epsilon zeta eta theta iota kappa")
    body_b = ("unrelated second story covering painting sculpture "
              "cinema architecture poetry dance opera theatre")
    src_dir = tmp_path / "docs_in"
    src_dir.mkdir()
    schema = "doc_id long, text string"
    builder = IncrementalCorpusBuilder(spark, str(tmp_path / "state"),
                                       quality_min=0.0, buckets=4,
                                       dedupe_global_lines=2)

    spark.createDataFrame([(1, footer + "\n" + body_a)], schema) \
        .coalesce(1).write.parquet(str(src_dir / "b1"))
    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema).parquet(str(src_dir) + "/*")
    q = stream_corpus_build(stream, builder, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    spark.createDataFrame([(2, footer + "\n" + body_b)], schema) \
        .coalesce(1).write.parquet(str(src_dir / "b2"))
    q = stream_corpus_build(stream, builder, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    texts = {r["doc_id"]: r["text"] for r in builder.corpus.read().collect()}
    assert texts[1] == footer + "\n" + body_a       # first shipper keeps
    assert texts[2] == body_b                       # stripped at trigger 2

    # restart with the same checkpoint: no new files -> nothing changes
    q = stream_corpus_build(stream, builder, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert sorted(texts.items()) == sorted(
        (r["doc_id"], r["text"]) for r in builder.corpus.read().collect())


def test_stream_containment_index(spark, tmp_path):
    """The containment index composes with the same streaming sink: a
    later micro-batch's quote is reported against the stored page, the
    directed pair key dedups re-reports."""
    from tradingview_data_pipeline_spark.operators.dedup import (
        IncrementalContainmentIndex,
    )

    quote = " ".join(f"q{i}" for i in range(12))
    page = ("intro words all around here now " + quote
            + " closing words trailing off the end")
    schema = "doc_id long, text string"
    pairs_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("partner_doc_id", T.LongType()),
        T.StructField("shared", T.LongType()),
        T.StructField("n_grams", T.LongType()),
        T.StructField("containment", T.DoubleType()),
        T.StructField("pair_key", T.StringType()),
    ])
    src_dir = tmp_path / "cdocs_in"
    src_dir.mkdir()
    idx = IncrementalContainmentIndex(
        spark, str(tmp_path / "cix_s"), n=4, threshold=0.9, buckets=4)
    pairs_table = ParquetTable(spark, str(tmp_path / "cpairs"),
                               pairs_schema, key="pair_key")

    spark.createDataFrame([(1, page)], schema) \
        .coalesce(1).write.parquet(str(src_dir / "b1"))
    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema).parquet(str(src_dir) + "/*")
    q = stream_neardup_candidates(stream, idx, pairs_table,
                                  str(tmp_path / "ckpt_cx"))
    q.awaitTermination(120)
    assert pairs_table.read().count() == 0

    spark.createDataFrame([(2, quote)], schema) \
        .coalesce(1).write.parquet(str(src_dir / "b2"))
    q = stream_neardup_candidates(stream, idx, pairs_table,
                                  str(tmp_path / "ckpt_cx"))
    q.awaitTermination(120)
    rows = {(r["doc_id"], r["partner_doc_id"]): r
            for r in pairs_table.read().collect()}
    assert set(rows) == {(2, 1)}
    assert rows[(2, 1)]["containment"] == 1.0
