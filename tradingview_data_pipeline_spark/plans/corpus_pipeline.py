"""End-to-end training-corpus preparation job.

The training-data counterpart of the reference's scoring DAGs (§3): one
composable pipeline from raw documents to sharded, split, deduplicated,
quality-gated training shards — every stage an operator this engine
already oracle- or pytest-verifies individually, composed here the way
a production corpus build runs them:

    documents
      -> exact dedup            (dedup.drop_exact_duplicates)
      -> near-dup clustering    (dedup.dedup_clusters; keepers only)
      -> line dedup             (corpus.dedupe_lines; optional — C4
                                 repeated-line cleaning, map-only)
      -> global line dedup      (corpus.dedupe_lines_global; optional —
                                 cross-document boilerplate lines drop
                                 everywhere, RefinedWeb-style)
      -> dup-span removal       (corpus.remove_dup_spans keep_min_doc;
                                 optional — substring-level cut of
                                 shared spans document dedup missed)
      -> quality gate           (text.quality_score threshold; optional
                                 corpus.REPETITION_SIGNALS limits —
                                 Gopher/C4 repetition filters, same
                                 map-side pass)
      -> PII redaction          (text.redact_pii)
      -> leakage-safe split     (sampling.cluster_safe_split on the
                                 SAME clustering that drove dedup)
      -> token accounting       (text.token_count)
      -> train-mixture resample (sampling.mixture_sample; optional —
                                 target domain weights, epoch upsampling)
      -> sharded export         (export.write_training_shards per split)

Scale shape: two corpus-sized shuffles (content-hash dedup, LSH band
join), everything else map-side or keyed joins against the small
cluster frame. The near-dup clustering output is localCheckpointed and
reused for BOTH keeper selection and the leakage-safe split — one LSH
pass, two consumers (the q28/q42/q70 sharing pattern).

The composition is pytest-verified end-to-end (no exact dups in the
output, no cluster split across train/test, shards on disk, metric
arithmetic consistent) and benched as ``pipeline_corpus_prep`` next to
the three reference pipelines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.operators import corpus as cp
from tradingview_data_pipeline_spark.operators import dedup as dd
from tradingview_data_pipeline_spark.operators import export as ex
from tradingview_data_pipeline_spark.operators import sampling as sp
from tradingview_data_pipeline_spark.operators import text as tx


def run_corpus_prep(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    quality_min: float = 25.0,
    jaccard_threshold: float = 0.5,
    n_shards: int = 8,
    lsh_k: int = 16,
    lsh_bands: int = 4,
    remove_spans: bool = False,
    dedupe_repeated_lines: bool = False,
    dedupe_global_lines: int | None = None,
    repetition_limits: dict[str, float] | None = None,
    quality_model: tuple[DataFrame, float] | None = None,
    train_mixture: tuple[dict[str, int], int] | None = None,
    mixture_source_col: str = "source",
    tokenize_pack: tuple[int | list[tuple[str, str]], int] | None = None,
    pack_pad_id: int | None = None,
    sequence_targets: str | None = None,
) -> dict:
    """Run the full corpus-prep pipeline; returns a metrics dict (the
    per-stage row accounting a production corpus build logs).

    ``lsh_k`` / ``lsh_bands`` size the near-dup banding. The default
    (k=16, bands=4 — 4 rows/band) matches the oracle-checked q28/q42
    configuration (both registered scale-safe in round 9): 2-row
    bands (k=8) collide heavily past ~10^5 docs on low-entropy
    corpora — the measured q42 third-decade blowup, SCALING.md; k=16
    was measured to take the 500k-doc pipeline 396 -> 141 s, trading
    ~6% of borderline-Jaccard candidate recall. Pipeline cost is
    CANDIDATE-PAIR-bound (exact Jaccard verification is Θ(pairs): two
    joins against the per-doc shingle-set frame, with the intersection
    computed map-side); see the round-8 SCALING.md stage table for the
    measured attribution.

    ``dedupe_repeated_lines`` applies C4-style within-document line
    dedup (``corpus.dedupe_lines``) FIRST in the text-rewrite cascade,
    so the span pass and every gate below score the cleaned text.

    ``dedupe_global_lines=min_docs`` additionally drops every
    occurrence of any non-blank line present in >= ``min_docs``
    distinct documents (``corpus.dedupe_lines_global`` — the
    RefinedWeb/MassiveText cross-document boilerplate rule), between
    the within-document line pass and the span pass.

    ``repetition_limits`` optionally gates on within-document
    repetition (the Gopher/C4 filters): a dict of
    ``corpus.REPETITION_SIGNALS`` fraction names to MAX allowed values,
    e.g. ``{"dup_line_frac": 0.3, "top_2gram_frac": 0.2}``. Applied
    map-side in the same pass as the quality gate (the signals are
    zero-shuffle column expressions) — the gate adds no stage, no
    shuffle, and no second scan.

    ``quality_model=(model, threshold)`` adds the LEARNED half of the
    quality gate (the CCNet/GPT-3 classifier filter): ``model`` is
    either a trained ``classify.token_class_weights`` table (docs whose
    ``nb_score(use_log=True)`` log-odds fall below ``threshold`` drop)
    or a ``classify.LogRegModel`` (the fastText-style filter; docs
    whose ``logreg_score`` margin falls below ``threshold`` drop) —
    dispatched on type, applied AFTER the heuristic gates (cheap
    filters first, so the model scores fewer docs).  Cost either way:
    one corpus-sized explode → broadcast-join → per-doc sum (map-side
    partial aggregation; only (doc_id, score) rows shuffle) plus one
    doc-id-keyed semi-join back — the only stage-level join this gate
    adds.

    ``train_mixture=(weights, total_rows)`` resamples the TRAIN split to
    a target domain mixture (``sampling.mixture_sample`` over
    ``mixture_source_col``) as the final stage: train rows gain
    ``n_copies``/``copy_idx`` (upsampled docs appear once per epoch;
    train sources absent from ``weights`` are DROPPED — the mixture
    defines the training distribution), val/test pass through with one
    copy, and shards key on (doc, copy) so epochs spread across shards.
    ``total_tokens``/``train_rows`` then count COPIES — i.e. the actual
    training budget. The pre-mixture frame is lazily localCheckpointed
    so the mixture's per-source count job doesn't recompute the
    dedup->gate chain.

    ``tokenize_pack=(spec, seq_len)`` adds the LAST mile of an LLM data
    pipeline after the shards land: BPE-tokenize the TRAIN split and
    assemble fixed-length training sequences. ``spec`` is either an int
    (train that many merges on the shipped train split, ``bpe_train``
    pair-batched) or a pre-learned merge list (``bpe.load_merges`` — the
    train-once / encode-anywhere path). The merge list is persisted as
    the rank-explicit artifact at ``<out_dir>_tokenizer``; sequences
    land at ``<out_dir>_sequences`` partitioned by shard (the packer's
    group key, so epochs of an upsampled doc interleave and groups are
    the parallelism unit). Input is read back FROM the shipped shards —
    the sequences provably tokenize what landed on disk. The per-group
    tail is dropped when ``pack_pad_id`` is None, else padded.
    ``sequence_targets="causal"`` additionally writes the next-token
    ``labels`` column (``packing.causal_lm_labels`` — pad positions
    loss-masked) into the shipped sequences, so the output is
    directly trainer-consumable."""
    from pyspark import StorageLevel

    from tradingview_data_pipeline_spark.operators import pins

    n_input = docs.count()

    # the exact-dedup frame feeds the clustering build (shingles +
    # cluster join) AND the keeper semi-join — unpinned, the md5
    # hash-agg + corpus semi-join re-ran per consumer (guide §2.4).
    # DISK_ONLY (corpus-sized, carries full text); released with the
    # pipeline's other pins once the shards land.
    exact = pins.track(dd.drop_exact_duplicates(docs, "text", "doc_id")
                       .persist(StorageLevel.DISK_ONLY))

    # one LSH/clustering pass, reused by keeper-selection AND the split;
    # checkpointed, so its row count (= post-exact-dedup corpus) is free
    clusters = pins.checkpoint(dd.dedup_clusters(
        exact, "doc_id", "text", k=lsh_k, bands=lsh_bands,
        jaccard_threshold=jaccard_threshold), storage_level=None)
    n_exact = clusters.count()
    kept = exact.join(
        clusters.where(F.col("is_keeper")).select("doc_id"),
        "doc_id", "left_semi")

    if dedupe_repeated_lines:
        # C4 line-level cleaning first in the text-rewrite cascade
        # (doc dedup -> LINE dedup -> span dedup -> gates), so the span
        # pass and every gate below see the cleaned text; map-only
        kept = cp.dedupe_lines(kept, "text")

    if dedupe_global_lines is not None:
        # cross-document boilerplate lines (nav/footer/banner chrome in
        # >= min_docs distinct docs) drop EVERYWHERE before the span
        # pass — a hot line is chrome, not content, so unlike spans no
        # copy survives; runs on the within-doc-cleaned text when both
        # knobs are on. Cost: two 16-byte pair shuffles + one corpus
        # join (see corpus.dedupe_lines_global)
        kept = cp.dedupe_lines_global(kept, "doc_id", "text",
                                      min_docs=dedupe_global_lines)

    if remove_spans:
        # substring-level pass AFTER document-level dedup: cut shared
        # 8-gram spans the near-dup clustering left behind (partial
        # boilerplate overlap below the Jaccard threshold), keeping one
        # canonical copy in the min-doc owner; docs emptied by the cut
        # fall out at the quality gate below (token_count > 0)
        cleaned = cp.remove_dup_spans(kept, "doc_id", "text",
                                      keep_min_doc=True)
        kept = kept.drop("text").join(
            cleaned.select("doc_id",
                           F.col("text_clean").alias("text")), "doc_id")

    gated = kept.where(
        (tx.quality_score(F.col("text")) >= F.lit(quality_min))
        & (tx.token_count(F.col("text")) > 0))

    if repetition_limits:
        gated = _apply_repetition_limits(gated, repetition_limits)

    if quality_model is not None:
        gated = _apply_quality_model(gated, quality_model)

    redacted = gated.withColumn("text", tx.redact_pii(F.col("text")))

    # cluster_safe_split joins the cluster frame in itself — no second
    # corpus join; cluster_id rides along as provenance in the shards
    final = (sp.cluster_safe_split(
        redacted, "doc_id", clusters.select("doc_id", "cluster_id"))
        .drop("split_bucket")
        .withColumn("n_tokens", tx.token_count(F.col("text"))))

    shard_id = "doc_id"
    if train_mixture is not None:
        if mixture_source_col not in final.columns:
            raise ValueError(
                f"train_mixture needs column {mixture_source_col!r} "
                f"(have: {final.columns})")
        weights, mix_total = train_mixture
        # lazy checkpoint: the mixture's per-source count action below
        # would otherwise re-run the whole dedup->gate chain
        final = pins.checkpoint(final, eager=False, storage_level=None)
        one = F.lit(1).cast("bigint")
        mixed = sp.mixture_sample(
            final.where(F.col("split") == "train"), "doc_id",
            mixture_source_col, weights, mix_total)
        final = mixed.unionByName(
            final.where(F.col("split") != "train")
            .withColumn("n_copies", one).withColumn("copy_idx", one))
        # shards hash (doc, copy) so an upsampled doc's epochs spread
        # across shards instead of stacking in one file
        shard_id = "mix_id"
        final = final.withColumn(
            "mix_id", F.concat_ws("#", F.col("doc_id"), F.col("copy_idx")))

    # ONE pass writes every split (hive split=/shard= layout); output
    # metrics are then read from what actually landed on disk — the
    # "verify what you shipped" accounting, and it spares a second
    # computation of the dedup->quality->split chain
    ex.write_training_shards(final, out_dir, shard_id, n_shards,
                             partition_cols=["split"])
    # an all-filtered corpus writes only _SUCCESS; reading that back
    # raises UNABLE_TO_INFER_SCHEMA — report zero-row metrics instead
    has_files = any(
        f.endswith(".parquet")
        for _, _, files in os.walk(out_dir) for f in files)
    per_split = {} if not has_files else {
        r["split"]: r for r in
        spark.read.parquet(out_dir).groupBy("split").agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_tokens").alias("tokens")).collect()}

    # shards are on disk and metrics were read back from them — the
    # pipeline's DISK_ONLY pins (exact frame, clustering shingles) and
    # its checkpoints (the clusters frame, the shingle and band
    # substrates, the CC rounds) are dead weight now; free the blocks
    # instead of leaking them until context GC (long-lived sessions run
    # this repeatedly). The tokenize stage below reads only the shards.
    pins.release_all()
    pins.release_checkpoints()

    metrics = {
        "input_rows": n_input,
        "after_exact_dedup": n_exact,
        "after_near_dedup_and_quality": sum(
            r["rows"] for r in per_split.values()),
        **{f"{name}_rows": (per_split[name]["rows"] if name in per_split else 0)
           for name in ("train", "val", "test")},
        "total_tokens": int(sum(r["tokens"] for r in per_split.values())),
        "n_shards": n_shards,
    }
    if tokenize_pack is not None:
        metrics.update(_tokenize_and_pack(
            spark, out_dir, shard_id, tokenize_pack, pack_pad_id,
            has_train=metrics["train_rows"] > 0,
            sequence_targets=sequence_targets))
    return metrics


def _tokenize_and_pack(spark, out_dir: str, shard_id: str,
                       tokenize_pack, pad_id: int | None,
                       *, has_train: bool,
                       sequence_targets: str | None = None) -> dict:
    """The tokenize -> pack stage of ``run_corpus_prep`` (see its
    docstring): shipped train shards -> BPE ids -> fixed-length
    sequences at ``<out_dir>_sequences``, tokenizer artifact at
    ``<out_dir>_tokenizer``."""
    from tradingview_data_pipeline_spark.operators import bpe
    from tradingview_data_pipeline_spark.operators import packing as pk
    from tradingview_data_pipeline_spark.operators import pins

    spec, seq_len = tokenize_pack
    if not has_train:
        return {"train_sequences": 0, "seq_len": seq_len,
                "packed_tokens": 0, "vocab_size": 0,
                "tokenizer_merges": 0}
    train = (spark.read.parquet(out_dir)
             .where(F.col("split") == "train")
             .select(shard_id, "shard", "text"))
    merges = (bpe.bpe_train(train, "text", n_merges=spec, pair_batch=8)
              if isinstance(spec, int) else list(spec))
    vocab = bpe.build_vocab(merges,
                            bpe.corpus_base_tokens(train, "text"))
    bpe.save_merges(spark, merges, out_dir + "_tokenizer")
    # the id layout depends on the train corpus's base alphabet — ship
    # it as an artifact too, or a later encode job can't reproduce ids
    bpe.save_vocab(spark, vocab, out_dir + "_tokenizer_vocab")
    enc = (bpe.bpe_encode(train, shard_id, "text", merges, vocab=vocab,
                          keep_cols=["shard"])
           .select(shard_id, "shard", F.col("input_ids").alias("ids")))
    seqs = pk.pack_token_sequences(enc, shard_id, "ids", seq_len,
                                   ["shard"], pad_id=pad_id)
    if sequence_targets is not None:
        if sequence_targets != "causal":
            raise ValueError(
                f"unknown sequence_targets {sequence_targets!r}; "
                f"supported: 'causal' (mlm_mask / span_corruption "
                f"run as post-ops on the shipped sequences)")
        seqs = pk.causal_lm_labels(seqs)
    seq_dir = out_dir + "_sequences"
    seqs.write.mode("overwrite").partitionBy("shard").parquet(seq_dir)
    # a tiny corpus can drop every per-group tail -> zero-row write
    # (only _SUCCESS on disk); reading that back can't infer a schema
    has_seq = any(f.endswith(".parquet")
                  for _, _, files in os.walk(seq_dir) for f in files)
    # shipped-token accounting FROM the landed sequences (n_real counts
    # ids before padding, so this is exact under either tail policy)
    n_seq, packed = 0, 0
    if has_seq:
        row = (spark.read.parquet(seq_dir)
               .agg(F.count(F.lit(1)), F.sum("n_real")).collect()[0])
        n_seq, packed = row[0], int(row[1] or 0)
    # the sequences are on disk and counted: free bpe_train's checkpoints
    pins.release_checkpoints()
    return {"train_sequences": n_seq, "seq_len": seq_len,
            "packed_tokens": packed,
            "vocab_size": len(vocab), "tokenizer_merges": len(merges)}


def _apply_repetition_limits(df: DataFrame,
                             limits: dict[str, float]) -> DataFrame:
    """Drop rows whose repetition signal exceeds its limit — one
    deterministic boolean expression (``corpus.repetition_within_limits``
    binds the signal arrays once, so filter pushdown cannot duplicate
    the tokenize/shingle passes), zero shuffle, zero extra stage.
    Unknown signal names fail loudly (in corpus.py)."""
    return df.where(cp.repetition_within_limits(F.col("text"), limits))


def _apply_quality_model(gated: DataFrame,
                         quality_model: tuple) -> DataFrame:
    """The learned quality gate, dispatched on model type: an NB weights
    table (``classify.token_class_weights`` + ``nb_score(use_log=True)``
    thresholded on log-odds) or a ``classify.LogRegModel`` (``logreg_
    score`` thresholded on the linear margin).  Either way: one
    corpus-sized explode → broadcast-join → per-doc sum (map-side
    partial aggregation; only (doc_id, score) rows shuffle) plus one
    doc-id-keyed semi-join back — the only stage-level join this gate
    adds.  Both score by-document only, so replays gate identically."""
    from tradingview_data_pipeline_spark.operators import classify as cl
    model, threshold = quality_model
    if isinstance(model, cl.LogRegModel):
        passing = (cl.logreg_score(gated, "doc_id", "text", model)
                   .where(F.col("margin") >= F.lit(float(threshold)))
                   .select("doc_id"))
    else:
        passing = (cl.nb_score(gated, "doc_id", "text", model,
                               use_log=True)
                   .where(F.col("score") >= F.lit(float(threshold)))
                   .select("doc_id"))
    return gated.join(passing, "doc_id", "left_semi")


class IncrementalCorpusBuilder:
    """Append-only corpus maintenance — the streaming-cadence
    counterpart of ``run_corpus_prep``: each new batch is quality-gated,
    exact-deduped against everything already SEEN, near-dup-checked via
    the persisted MinHash index (O(batch) incremental cost,
    ``dedup.IncrementalNearDupIndex``), and only keepers are appended to
    the corpus table — all writes manifest-committed.

    State layout under ``state_dir``:
      * ``corpus``  — the keeper documents (doc_id, text, content_hash,
        split, n_tokens), the table training reads.
      * ``seen``    — every document that ever entered the index
        (keepers AND dropped near-dups), used to EXACTLY verify
        candidate pairs against docs no longer in the corpus; the raw
        ingest retention a production pipeline keeps anyway. Keyed by
        doc_id so candidate-pair member texts come back through
        BUCKET-PRUNED reads (``read_matching``) — the batch never
        scans the full seen text column.
      * ``hashes``  — content_hash only, keyed by content_hash: the
        exact-dedup replay gate. A skinny hash-keyed side table so the
        per-batch anti-join reads only the hash buckets the batch
        touches, not every seen hash (at 1B docs the full hash column
        is ~32 GB per trigger; the pruned read is batch-proportional).
        Commits LAST in ``add_batch`` so a crash after any earlier
        commit leaves the gate un-advanced and a full replay
        re-converges (all earlier writes are idempotent upserts).
        Backfilled automatically from ``seen`` for pre-existing state
        dirs that lack it.
      * ``neardup`` — the MinHash signature table.
      * ``grams``   — present only with ``remove_spans=True``: one row
        per shipped word-8-gram hash with the doc that RETAINED it
        (h, owner). Insert-only (anti-joined before the upsert, so the
        first owner is never overwritten); read bucket-pruned per
        batch. ~16 bytes of state per shipped gram.

      * ``lines``   — present only with ``dedupe_global_lines``: one
        row per distinct (line-hash, shipping doc) pair, keyed by line
        hash; the incremental prevalence store behind the cross-
        document boilerplate-line strip (see ``_global_line_stage``).

    ``remove_spans=True`` adds incremental SUBSTRING-level dedup after
    the document-level stages: batch keepers get every word position
    covered by a gram already in the ``grams`` store excised (the
    shipped copy is the protected one — keep-one-copy ACROSS batches),
    plus within-batch sharing cut to the min-doc owner
    (``corpus.remove_dup_spans`` semantics); docs emptied by the cut
    are dropped before the split. Replay safety: store hits whose
    owner is IN the current batch are ignored, so a replayed batch
    cuts exactly what the first run cut even when its own grams are
    already committed. Known edge (documented, matches the batch
    operator's honesty contract): an owner doc emptied by OTHER cuts
    can leave a recorded gram that no shipped doc carries.

    Dedup semantics are deliberately AGGRESSIVE-transitive: a new doc
    that Jaccard-verifies (>= threshold) against ANY seen doc is
    dropped, so a duplicate of an already-dropped duplicate never
    re-enters the corpus. Within a batch, verified pair components keep
    their min doc_id (components via ``dedup.connected_components`` on
    the tiny verified-pair set). Because near-dups of seen docs are
    dropped OUTRIGHT (not clustered), every corpus member is a
    near-dup singleton up to LSH recall, and the plain per-doc hash
    split is leakage-safe by construction — the incremental analogue of
    ``cluster_safe_split``'s guarantee.

    Replay-idempotent: re-adding a batch finds every content hash
    already seen and appends nothing.

    ``tokenizer=(merges, vocab)`` + ``seq_len`` turn the builder into a
    streaming-cadence TRAINING-DATA FEED: each batch's kept train-split
    docs are BPE-encoded (``bpe.bpe_encode``) and packed into
    fixed-length sequences (``packing.pack_token_sequences``) appended
    to a ``sequences`` state table. Packing is PER BATCH (the streaming
    contract — a batch's sequences never depend on later batches), so
    each batch's tail is padded with ``seq_pad_id`` (or dropped when
    None); sequence keys are ``<batch min kept doc_id>#<seq_id>`` —
    deterministic from batch CONTENT, so a replayed batch upserts the
    identical rows and every crash window converges (the sequences
    commit sits before the hash gate). The tokenizer is fixed at
    construction (train it once with ``bpe_train``/``build_vocab`` or
    load the artifact) — evolving the vocabulary mid-stream would
    silently re-tokenize nothing that already shipped.
    """

    def __init__(self, spark: SparkSession, state_dir: str, *,
                 quality_min: float = 25.0,
                 jaccard_threshold: float = 0.5,
                 buckets: int | None = None,
                 remove_spans: bool = False,
                 dedupe_repeated_lines: bool = False,
                 dedupe_global_lines: int | None = None,
                 repetition_limits: dict[str, float] | None = None,
                 quality_model: tuple[DataFrame, float] | None = None,
                 tokenizer: tuple[list[tuple[str, str]],
                                  dict[str, int]] | None = None,
                 seq_len: int | None = None,
                 seq_pad_id: int | None = None,
                 url_col: str | None = None):
        from pyspark.sql import types as T

        from tradingview_data_pipeline_spark.operators.merge import ParquetTable

        self.spark = spark
        self.quality_min = quality_min
        self.jaccard_threshold = jaccard_threshold
        # validate limits at construction, not first batch (fail loudly
        # before any state dir is touched)
        if repetition_limits:
            unknown = set(repetition_limits) - set(cp.REPETITION_SIGNALS)
            if unknown:
                raise ValueError(
                    f"unknown repetition signals: {sorted(unknown)}; "
                    f"valid: {list(cp.REPETITION_SIGNALS)}")
        self.repetition_limits = repetition_limits
        # the learned gate (run_corpus_prep's quality_model, same
        # semantics): the weight table is a training-time artifact, so
        # the gate is deterministic per document text — replays gate
        # identically as long as callers pass the SAME trained model
        # (reload it from its parquet artifact, never retrain mid-stream)
        self.quality_model = quality_model
        self.dedupe_repeated_lines = dedupe_repeated_lines
        # optional FIRST stage (round 9): address-level dedup — the
        # cheapest and first-applied dedup of a web pipeline (RefinedWeb
        # §3.1). Runs before any text stage; its store commits first
        # and replays converge by the echo rule (urls.IncrementalUrlIndex)
        self.url_col = url_col
        if url_col is not None:
            from tradingview_data_pipeline_spark.operators import urls as ur
            self.urls = ur.IncrementalUrlIndex(
                spark, os.path.join(state_dir, "urls"), buckets=buckets)
        corpus_schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("content_hash", T.StringType()),
            T.StructField("split", T.StringType()),
            T.StructField("n_tokens", T.LongType()),
        ])
        seen_schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("content_hash", T.StringType()),
        ])
        self.corpus = ParquetTable(
            spark, os.path.join(state_dir, "corpus"), corpus_schema,
            "doc_id", buckets=buckets)
        self.seen = ParquetTable(
            spark, os.path.join(state_dir, "seen"), seen_schema,
            "doc_id", buckets=buckets)
        self.hashes = ParquetTable(
            spark, os.path.join(state_dir, "hashes"),
            T.StructType([T.StructField("content_hash", T.StringType())]),
            "content_hash", buckets=buckets)
        # one-time migration: a state dir from before the hash-gate
        # table existed derives it from the seen store (hashes there are
        # unique by construction — the gate admits each hash once)
        if self.seen.exists() and not self.hashes.exists():
            self.hashes.overwrite(
                self.seen.read().select("content_hash").distinct())
        elif not self.hashes.exists():
            # FRESH state dir: create the gate empty NOW, so a crash
            # inside the first batch (seen committed, gate not) can
            # never be mistaken for a legacy dir — backfilling there
            # would advance the gate past a batch whose grams/index
            # effects were never committed (r8 review finding)
            self.hashes.overwrite(spark.createDataFrame(
                [], self.hashes.schema))
        self.index = dd.IncrementalNearDupIndex(
            spark, os.path.join(state_dir, "neardup"), buckets=buckets)
        self.remove_spans = remove_spans
        self.grams = ParquetTable(
            spark, os.path.join(state_dir, "grams"),
            T.StructType([T.StructField("h", T.LongType()),
                          T.StructField("owner", T.LongType())]),
            "h", buckets=buckets)
        # cross-document line-prevalence store: one row per distinct
        # (line-hash, arriving doc) pair — ARRIVED-IN semantics: pairs
        # are recorded for every near-dup keeper, even ones the line
        # strip empties or a later stage drops (see _global_line_stage)
        # — keyed (and bucket-pruned) by line hash, ~16 bytes per pair;
        # the per-batch read touches only the batch's line-hash buckets
        self.dedupe_global_lines = dedupe_global_lines
        self.lines = ParquetTable(
            spark, os.path.join(state_dir, "lines"),
            T.StructType([T.StructField("lh", T.LongType()),
                          T.StructField("doc", T.LongType())]),
            "lh", buckets=buckets)
        if (tokenizer is None) != (seq_len is None):
            raise ValueError("tokenizer and seq_len must be given together")
        if seq_len is not None and seq_len <= 0:
            raise ValueError(f"seq_len must be positive, got {seq_len}")
        self.tokenizer = tokenizer
        self.seq_len = seq_len
        self.seq_pad_id = seq_pad_id
        self.sequences = ParquetTable(
            spark, os.path.join(state_dir, "sequences"),
            T.StructType([
                T.StructField("seq_key", T.StringType()),
                T.StructField("seq_id", T.LongType()),
                T.StructField("input_ids", T.ArrayType(T.LongType())),
                T.StructField("doc_spans", T.ArrayType(T.StructType([
                    T.StructField("start", T.LongType()),
                    T.StructField("n", T.LongType()),
                    T.StructField("doc", T.LongType())]))),
                T.StructField("n_real", T.LongType()),
            ]), "seq_key", buckets=buckets)

    def add_batch(self, docs: DataFrame) -> dict:
        """Process one batch of (doc_id, text); returns stage metrics."""
        n_batch = docs.count()

        n_after_url = n_batch
        if self.url_col is not None:
            # address-level dedup FIRST: drops re-crawls before any
            # text work (content hash, signatures, grams) runs on them
            docs = self.urls.add_and_filter(
                docs.withColumn("doc_id", F.col("doc_id").cast("long")),
                "doc_id", self.url_col)
            n_after_url = docs.count()

        cleaned = docs.select(
            F.col("doc_id").cast("long").alias("doc_id"), "text")
        if self.dedupe_repeated_lines:
            # BEFORE the gates and the content hash: the hash-gate,
            # signatures, and grams then all key the cleaned text —
            # deterministic per document, so replays converge identically
            cleaned = cp.dedupe_lines(cleaned, "text")
        gated = cleaned.where(
            (tx.quality_score(F.col("text")) >= F.lit(self.quality_min))
            & (tx.token_count(F.col("text")) > 0))
        if self.repetition_limits:
            # same map-side gate as run_corpus_prep: deterministic per
            # document, so replays gate identically (replay-idempotence
            # is preserved — a doc either never enters or always does)
            gated = _apply_repetition_limits(gated, self.repetition_limits)

        if self.quality_model is not None:
            gated = _apply_quality_model(gated, self.quality_model)

        # exact dedup: min doc_id per content within the batch, then
        # anti-join against the hash-gate table — read BUCKET-PRUNED to
        # the hash buckets this batch touches (never the full column)
        hashed = gated.withColumn("content_hash", F.md5(F.col("text")))
        keep_min = (hashed.groupBy("content_hash")
                    .agg(F.min("doc_id").alias("doc_id")))
        seen_h = self.hashes.read_matching(hashed.select("content_hash"))
        batch_e = (hashed.join(keep_min, ["content_hash", "doc_id"],
                               "left_semi")
                   .join(seen_h, "content_hash", "left_anti")
                   .localCheckpoint(eager=True))
        n_exact = batch_e.count()

        dropped_ids = None
        if n_exact:
            # near-dup candidates vs everything seen (registers sigs)
            pairs = self.index.add_and_find(batch_e)
            members = (pairs.select(F.col("doc_a").alias("doc_id"))
                       .unionByName(
                           pairs.select(F.col("doc_b").alias("doc_id")))
                       .distinct().localCheckpoint(eager=True))
            batch_ids = batch_e.select("doc_id")
            # member texts: batch members from the (pinned) batch; SEEN
            # members via a bucket-pruned read on their ids — per-batch
            # read cost is O(pairs), not O(corpus text) [r7 verdict #2]
            seen_member_ids = members.join(batch_ids, "doc_id",
                                           "left_anti")
            texts = (batch_e.select("doc_id", "text")
                     .join(F.broadcast(members), "doc_id", "left_semi")
                     .unionByName(
                         self.seen.read_matching(seen_member_ids)
                         .join(F.broadcast(seen_member_ids), "doc_id",
                               "left_semi")
                         .select("doc_id", "text")))
            verified = dd.jaccard_verify(
                pairs, dd.shingle_sets(texts, "doc_id", "text"), "doc_id",
                threshold=self.jaccard_threshold)
            comps = dd.connected_components(verified)
            old_comps = (comps.join(batch_ids, "doc_id", "left_anti")
                         .select("cluster_id").distinct())
            # drop: batch members of a component containing a seen doc,
            # plus batch members that are not their component's min
            in_comp = comps.join(batch_ids, "doc_id", "left_semi")
            dropped_ids = (
                in_comp.join(old_comps, "cluster_id", "left_semi")
                .select("doc_id")
                .unionByName(
                    in_comp.join(old_comps, "cluster_id", "left_anti")
                    .where(F.col("doc_id") != F.col("cluster_id"))
                    .select("doc_id"))
                .distinct().localCheckpoint(eager=True))

        keepers = batch_e if dropped_ids is None else \
            batch_e.join(dropped_ids, "doc_id", "left_anti")

        n_after_near = None
        if self.remove_spans or self.dedupe_global_lines is not None:
            n_after_near = keepers.count()

        new_lines = None
        n_hot_lines = 0
        n_after_lines = n_after_near
        if self.dedupe_global_lines is not None:
            keepers, new_lines, n_hot_lines = \
                self._global_line_stage(keepers)
            n_after_lines = keepers.count()

        new_grams = None
        span_cut_tokens = 0
        if self.remove_spans:
            gp = cp.gram_positions(keepers, "doc_id", "text") \
                .localCheckpoint(eager=True)
            batch_ids2 = keepers.select("doc_id")
            # ONE bucket-pruned read of the gram store per batch,
            # pinned and shared by the hit lookup AND the novel-gram
            # anti-join below (r8 review finding)
            store_slice = (self.grams.read_matching(gp.select("h"))
                           .localCheckpoint(eager=True))
            # hits owned by THIS batch are replay echoes of our own
            # commit — ignore them so a replayed batch cuts exactly
            # what the first run cut
            hits = (store_slice
                    .join(gp.select("h").distinct(), "h", "left_semi")
                    .join(batch_ids2.withColumnRenamed("doc_id", "owner"),
                          "owner", "left_anti"))
            seen_cov = (gp.join(F.broadcast(hits.select("h")), "h",
                                "left_semi")
                        .select("doc_id", "pos"))
            wb = (gp.select("doc_id", "h").distinct()
                  .groupBy("h")
                  .agg(F.count(F.lit(1)).alias("nd"),
                       F.min("doc_id").alias("owner_b"))
                  .where(F.col("nd") >= 2))
            wb_cov = (gp.join(wb, "h")
                      .where(F.col("doc_id") != F.col("owner_b"))
                      .select("doc_id", "pos"))
            cut = cp.cut_covered_positions(
                keepers.select("doc_id", "text"), "doc_id", "text",
                seen_cov.unionByName(wb_cov)).localCheckpoint(eager=True)
            span_cut_tokens = (cut.agg(F.sum("n_removed")).collect()[0][0]
                               or 0)
            keepers = (keepers.drop("text")
                       .join(cut.select(
                           "doc_id",
                           F.col("text_clean").alias("text")), "doc_id")
                       .where(tx.token_count(F.col("text")) > 0))
            # record each shipped gram once with its retaining doc;
            # insert-only (first owner wins on replay)
            new_grams = (gp.groupBy("h")
                         .agg(F.min("doc_id").alias("owner"))
                         .join(store_slice, "h", "left_anti")
                         .localCheckpoint(eager=True))

        final = sp.hash_split(
            keepers.withColumn("text", tx.redact_pii(F.col("text"))),
            "doc_id", {"train": 80, "val": 90, "test": 100}).drop(
            "split_bucket").withColumn(
            "n_tokens", tx.token_count(F.col("text")).cast("long"))

        n_appended = final.count()

        new_seqs, n_new_seqs = None, 0
        if self.tokenizer is not None:
            new_seqs = self._batch_sequences(final)
            if new_seqs is not None:
                n_new_seqs = new_seqs.count()

        # commit order matters for crash convergence: the hash GATE goes
        # last, so a crash between any two commits leaves the batch
        # un-gated and a full replay re-runs every (idempotent) upsert
        self.corpus.merge_upsert(final)
        self.seen.merge_upsert(batch_e.select("doc_id", "text",
                                              "content_hash"))
        if new_grams is not None:
            self.grams.merge_upsert(new_grams)
        if new_lines is not None:
            # insert-only on the (lh, doc) composite identity (the key
            # column lh is non-unique by design): idempotent, so every
            # crash window before the hash gate converges on replay
            self.lines.merge_with(
                new_lines,
                lambda tgt, src: tgt.unionByName(
                    src.join(tgt, ["lh", "doc"], "left_anti")))
        if new_seqs is not None:
            self.sequences.merge_upsert(new_seqs)
        self.hashes.merge_upsert(batch_e.select("content_hash"))
        out = {
            "batch_rows": n_batch,
            **({"url_dropped_docs": n_batch - n_after_url}
               if self.url_col is not None else {}),
            "after_quality_and_exact": n_exact,
            "neardup_dropped": (n_exact - n_appended if n_after_near is None
                                else n_exact - n_after_near),
            "appended": n_appended,
            "corpus_rows": self.corpus.row_count(),
        }
        if self.dedupe_global_lines is not None:
            # same stage-attribution rule as spans: docs emptied by the
            # line strip are line drops, not near-dup drops
            out["global_hot_lines"] = n_hot_lines
            out["line_dropped_docs"] = n_after_near - n_after_lines
        if self.remove_spans:
            # attribute doc drops to the right stage: docs emptied by
            # the span cut are NOT near-dup drops (r8 review finding)
            out["span_cut_tokens"] = int(span_cut_tokens)
            out["span_dropped_docs"] = n_after_lines - n_appended
        if self.tokenizer is not None:
            out["train_sequences"] = n_new_seqs
        return out

    def _global_line_stage(self, keepers: DataFrame):
        """Incremental cross-document line dedup — the streaming-cadence
        form of ``corpus.dedupe_lines_global``: a non-blank line is HOT
        once stored prevalence (distinct docs the line ARRIVED in as a
        near-dup keeper — including docs the strip itself emptied or a
        later stage dropped, but excluding this batch's own replay
        echoes) plus this batch's keeper count reaches
        ``dedupe_global_lines``; every occurrence in the batch is then
        stripped before shipping. Arrived-in (not shipped) prevalence
        is deliberate: it counts how often the corpus SEES a line, so
        boilerplate whose every carrier gets emptied still crosses the
        threshold, and it keeps the recorded pairs independent of
        downstream stage config (replay-stable). FORWARD-ONLY:
        docs shipped before a line crossed the threshold keep it (an
        append-only corpus never retro-rewrites) — so unlike the batch
        operator, early copies of late-blooming boilerplate survive;
        that asymmetry is the streaming contract, not a bug.

        Per-batch plan cost: one BUCKET-PRUNED read of the line store
        on the batch's line-hash buckets (O(batch lines × bucket
        width), never O(store)), pair-width aggregations, and a
        map-side rewrite with the per-doc hot set joined in. Replay
        safety mirrors the gram store: stored pairs whose doc is IN the
        current batch are ignored when counting prior prevalence, so a
        replayed batch strips exactly what the first run stripped even
        though its own pairs are already committed.

        Returns (cleaned keepers — empties dropped, new (lh, doc)
        pairs to record, hot-line count)."""
        min_docs = int(self.dedupe_global_lines)
        txt = F.coalesce(F.col("text"), F.lit(""))
        pairs_b = (keepers.select(
            F.col("doc_id").alias("doc"),
            F.explode(F.split(txt, "\n")).alias("__l"))
            .where(F.translate(F.col("__l"), cp._BLANK_WS, "") != "")
            .select("doc", F.xxhash64("__l").alias("lh"))
            .distinct().localCheckpoint(eager=True))
        store_slice = (self.lines.read_matching(pairs_b, key_col="lh")
                       .localCheckpoint(eager=True))
        batch_docs = pairs_b.select("doc").distinct()
        prior = (store_slice
                 .join(pairs_b.select("lh").distinct(), "lh", "left_semi")
                 .join(batch_docs, "doc", "left_anti"))
        prior_c = prior.groupBy("lh").agg(F.count(F.lit(1)).alias("__np"))
        batch_c = pairs_b.groupBy("lh").agg(F.count(F.lit(1)).alias("__nb"))
        hot = (batch_c.join(prior_c, "lh", "left")
               .where(F.col("__nb") + F.coalesce(F.col("__np"), F.lit(0))
                      >= F.lit(min_docs))
               .select("lh").localCheckpoint(eager=True))
        n_hot = hot.count()
        doc_hot = (pairs_b.join(hot, "lh")
                   .groupBy("doc")
                   .agg(F.collect_set("lh").alias("__hot")))
        cleaned = (keepers
                   .join(doc_hot, F.col("doc_id") == F.col("doc"), "left")
                   .withColumn("text", cp.strip_hot_lines(
                       txt, F.coalesce(F.col("__hot"),
                                       F.array().cast("array<bigint>"))))
                   .drop("doc", "__hot")
                   .where(tx.token_count(F.col("text")) > 0))
        # record every keeper pair (pre-strip — prevalence counts the
        # docs a line ARRIVED in); anti-joined here AND in the commit's
        # combine, so the insert is idempotent under any crash window
        new_pairs = (pairs_b.join(store_slice, ["lh", "doc"], "left_anti")
                     .localCheckpoint(eager=True))
        return cleaned, new_pairs, n_hot

    def _batch_sequences(self, final: DataFrame) -> DataFrame | None:
        """Encode + pack THIS batch's kept train docs (see class
        docstring: per-batch packing, content-derived sequence keys)."""
        from tradingview_data_pipeline_spark.operators import bpe
        from tradingview_data_pipeline_spark.operators import packing as pk

        merges, vocab = self.tokenizer
        train_keep = final.where(F.col("split") == "train")
        # content-derived namespace (min kept train doc id): a replayed
        # batch regenerates the SAME keys, so the upsert converges
        ns = train_keep.agg(F.min("doc_id")).collect()[0][0]
        if ns is None:
            return None
        ids = (bpe.bpe_encode(train_keep, "doc_id", "text", merges,
                              vocab=vocab)
               .select("doc_id", F.col("input_ids").alias("ids")))
        seqs = pk.pack_token_sequences(ids, "doc_id", "ids",
                                       self.seq_len, [],
                                       pad_id=self.seq_pad_id)
        return seqs.select(
            F.concat_ws("#", F.lit(str(ns)),
                        F.col("seq_id").cast("string")).alias("seq_key"),
            "seq_id", "input_ids", "doc_spans", "n_real")

    def compact(self) -> None:
        """Bound file counts after many small batches (manifest-committed,
        results unchanged) — run at maintenance cadence."""
        self.corpus.compact()
        self.seen.compact()
        self.hashes.compact()
        if self.grams.exists():
            self.grams.compact()
        if self.sequences.exists():
            self.sequences.compact()
        self.index.compact()
