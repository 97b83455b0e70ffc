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
