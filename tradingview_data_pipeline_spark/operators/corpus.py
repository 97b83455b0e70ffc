"""Corpus-level text operators: chunking, TF-IDF, n-gram statistics,
and benchmark decontamination.

These are the document-preparation steps of a training-data pipeline
that sit between raw ingest and tokenization: split long documents into
model-window-sized chunks, surface the terms that characterize each
document, compute corpus-wide n-gram frequencies, and drop documents
that leak held-out benchmark content.

Scale notes (100 TB):
  * ``chunk_text`` is map-side only — ``sequence`` + ``posexplode`` per
    row; output row count is bounded by ceil(len/stride) per doc.
  * TF-IDF is two hash aggregations (term-per-doc, then doc-freq) and a
    broadcast-able doc-freq join — the canonical map-reduce shape, with
    map-side partial aggregation on both passes.
  * ``decontaminate`` joins 8-byte n-gram hashes, never strings, and
    aggregates benchmark n-grams to a distinct set first — the join is
    |corpus n-grams| x (benchmark hit rate), not all-pairs.
  * IDF uses the *linear* variant score = tf * (N / df): IEEE division
    and multiplication are correctly rounded and therefore bit-identical
    across engines, which makes the op oracle-checkable; log-idf (the
    classic form) is exposed too but transcendental functions round
    differently between libm implementations, so rankings from it are
    verified by pytest rather than the cross-engine hash gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.operators import text as tx


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    size: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split each document into ``size``-char chunks starting every
    ``size - overlap`` chars (the trailing chunk may be shorter).

    Emits (id, chunk_idx, chunk_start, chunk_text, chunk_len); 1-based
    ``chunk_start`` to match SQL ``substring`` addressing.  Empty text
    yields one empty chunk so no document silently disappears.
    """
    if overlap >= size:
        raise ValueError("overlap must be < size")
    stride = size - overlap
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(F.col(text_col)), F.lit(1)), F.lit(stride))
    ex = df.select(
        F.col(id_col), F.col(text_col),
        F.posexplode(starts).alias("chunk_idx", "chunk_start"))
    return ex.select(
        id_col, "chunk_idx", "chunk_start",
        F.substring(F.col(text_col), F.col("chunk_start"), size)
        .alias("chunk_text"),
    ).withColumn("chunk_len", F.length("chunk_text"))


def term_frequencies(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf) — whitespace terms per document (exploded +
    hash-aggregated; map-side combine keeps the shuffle at distinct
    (doc, term) pairs)."""
    return (
        df.select(F.col(id_col), F.explode(tx.tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    use_log_idf: bool = False,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf.

    Linear idf (default): score = tf * (N / df) — cross-engine exact.
    Log idf: score = tf * ln(N / df) — classic, pytest-verified only.
    Ties (equal score) break on term ascending so the cut is stable.
    """
    tf = term_frequencies(df, id_col, text_col)
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    dfreq = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    # no broadcast hint on dfreq: |vocab| is unbounded at corpus scale —
    # the tf⋈dfreq join shares the "term" shuffle tf's aggregation
    # already produced, and AQE still broadcasts when dfreq is small.
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
    )
    ratio = F.col("n_docs").cast("double") / F.col("df").cast("double")
    idf = F.log(ratio) if use_log_idf else ratio
    scored = scored.withColumn("score", F.col("tf").cast("double") * idf)
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= k)
        .select(id_col, "term", "tf", "df", "score", "term_rank")
    )


def top_ngrams(
    df: DataFrame, text_col: str, *, n: int = 2, k: int = 20
) -> DataFrame:
    """Corpus-wide top-``k`` word n-grams by count (ties: n-gram asc).

    Single explode + hash aggregate; the final top-k is a
    TakeOrderedAndProject (no full sort).  Documents with fewer than
    ``n`` words contribute nothing (their whole-text fallback shingle is
    excluded by requiring n words).
    """
    grams = df.select(
        F.explode(tx.word_shingles(F.col(text_col), n=n)).alias("ngram"))
    # word_shingles falls back to the whole text when < n words; drop
    # those rows: a real n-gram has exactly n-1 separating spaces.
    grams = grams.where(
        F.size(F.split(F.col("ngram"), " ")) == F.lit(n))
    counts = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.col("cnt").desc(), F.col("ngram").asc()).limit(k)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    bloom: tuple[int, int] | None = None,
    corpus_hashes: DataFrame | None = None,
) -> DataFrame:
    """Flag corpus documents sharing any word ``n``-gram with a benchmark
    document (the standard train-set decontamination check).

    Returns (id, n_hits, n_benchmark_docs) for contaminated documents:
    distinct overlapping n-grams and how many distinct benchmark docs
    they came from.  Joins 60-bit n-gram hashes (8 bytes) — the corpus
    side shuffles one row per distinct (doc, n-gram); the benchmark side
    is typically small enough to broadcast.

    ``bloom=(n_bits, k)`` (round 9 — the 100-TB prefilter): build a
    deterministic Bloom filter over the benchmark grams
    (``operators/bloom.py``, a model-sized broadcast artifact) and drop
    non-member corpus grams MAP-SIDE before they reach the distinct +
    join shuffles — at corpus scale the shuffle shrinks from every
    (doc, gram) to true hits plus the engineered false-positive tail.
    Results are IDENTICAL (a Bloom has no false negatives; false
    positives are eliminated by the exact join that follows) —
    pytest-pinned.

    ``corpus_hashes``: a precomputed DISTINCT (``id_col``, ``h``)
    frame of the corpus side's md5-60 gram hashes — skips the corpus
    tokenize/explode/distinct when a caller already materialized it
    (e.g. a pinned frame shared with a Bloom-prefilter leg, the q48
    pattern).  Equivalence with the default path is pytest-pinned.
    Incompatible with ``bloom`` (the prefilter needs the second md5
    slice, which the (id, h) contract doesn't carry).
    """
    from tradingview_data_pipeline_spark.operators import bloom as bl

    if bloom is not None and corpus_hashes is not None:
        raise ValueError("bloom and corpus_hashes are mutually exclusive")

    def grams(d: DataFrame, alias: str) -> DataFrame:
        g = d.select(
            F.col(id_col).alias(alias),
            F.explode(tx.word_shingles(F.col(text_col), n=n)).alias("g"))
        return g.where(F.size(F.split(F.col("g"), " ")) == F.lit(n))

    if corpus_hashes is not None:
        cg = corpus_hashes.select(F.col(id_col).alias("doc_id_c"),
                                  F.col("h"))
    else:
        cg = grams(corpus, "doc_id_c") \
            .select("doc_id_c", tx.md5_hash60(F.col("g")).alias("h"),
                    F.col("g"))
        if bloom is not None:
            n_bits, k = bloom
            h1, h2 = bl.hash_pair(F.col("g"))
            bwords = bl.build_bloom(
                grams(benchmark, "doc_id_b").select("g").distinct(),
                *bl.hash_pair(F.col("g")), n_bits=n_bits, k=k)
            cg = cg.where(bl.bloom_contains(h1, h2, bwords,
                                            n_bits=n_bits, k=k))
        cg = cg.drop("g").distinct()
    bg = grams(benchmark, "doc_id_b") \
        .select("doc_id_b", tx.md5_hash60(F.col("g")).alias("h")).distinct()
    hits = cg.join(bg, "h")
    return (
        hits.groupBy(F.col("doc_id_c").alias(id_col))
        .agg(F.countDistinct("h").alias("n_hits"),
             F.countDistinct("doc_id_b").alias("n_benchmark_docs"))
    )


def contrastive_triplets(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str,
    *,
    k_negatives: int = 2,
    n_slots: int = 64,
    salt: str = "neg",
) -> DataFrame:
    """(anchor, positive, negative) triplets for contrastive training.

    Positives are the verified near-dup ``pairs`` (``doc_a``/``doc_b``,
    e.g. ``dedup.lsh_candidate_pairs`` after Jaccard verification —
    each unordered pair yields one triplet row per direction).
    Negatives are drawn deterministically WITHOUT an O(n) scan per
    anchor: every id is assigned to one of ``n_slots`` hash slots, each
    (anchor, j < k_negatives) probe hashes to a slot, and the candidate
    with the smallest (anchor, candidate) hash inside that slot wins —
    O(k) probes per anchor against slot-sized candidate lists, the
    bucketed-sampling shape that survives any corpus size. A probe can
    yield fewer than ``k_negatives`` rows for three reasons — an empty
    slot, two probes colliding on one slot, or the winner being an
    accidental positive (anti-joined out) — so the ``n_negatives``
    column carries the per-anchor count explicitly, INCLUDING 0: an
    anchor whose probes all come up empty still emits its positive
    rows with a NULL ``negative`` rather than vanishing.

    Deterministic end to end (salted md5 only) — re-running on a grown
    corpus keeps old triplets except where new docs win a slot.
    """
    from tradingview_data_pipeline_spark.operators.sampling import (
        hash60, hash_bucket)

    anchors = (pairs.select(F.col("doc_a").alias("anchor"),
                            F.col("doc_b").alias("positive"))
               .unionByName(pairs.select(
                   F.col("doc_b").alias("anchor"),
                   F.col("doc_a").alias("positive"))))
    cands = ids.select(
        F.col(id_col).alias("cand"),
        hash_bucket(F.col(id_col), n_slots, salt + "_slot").alias("slot"))
    probes = anchors.select("anchor").distinct().select(
        "anchor",
        F.explode(F.array(*[
            hash_bucket(F.concat(F.col("anchor").cast("string"),
                                 F.lit(f"|{j}")), n_slots, salt + "_probe")
            for j in range(k_negatives)])).alias("slot"))
    scored = (probes.join(cands, "slot")
              .where(F.col("cand") != F.col("anchor"))
              .withColumn("__h", hash60(
                  F.concat(F.col("anchor").cast("string"), F.lit("|"),
                           F.col("cand").cast("string")), salt)))
    w = Window.partitionBy("anchor", "slot").orderBy("__h", "cand")
    negs = (scored.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") == 1)
            .select("anchor", F.col("cand").alias("negative")))
    # drop accidental positives: any (anchor, negative) that IS a pair
    sym = anchors.select("anchor", F.col("positive").alias("negative"))
    negs = negs.join(sym, ["anchor", "negative"], "left_anti").distinct()
    # LEFT joins: an anchor with zero surviving negatives still emits
    # its positives (NULL negative, n_negatives = 0) — loud, not lost
    out = anchors.join(negs, "anchor", "left")
    counts = negs.groupBy("anchor").agg(F.count(F.lit(1)).alias("n_negatives"))
    return (out.join(counts, "anchor", "left")
            .withColumn("n_negatives",
                        F.coalesce(F.col("n_negatives"), F.lit(0))))


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 50,
    idf: str = "rational",
) -> DataFrame:
    """Top-``k`` documents by BM25 relevance for a bag of query terms.

    The retrieval scorer a corpus pipeline uses to rank documents
    against a probe query (quality filtering against a topic, seed-doc
    expansion, eval-set mining). One map pass computes per-doc term
    frequencies and document length; one tiny aggregate row carries the
    corpus stats (N, total length, per-term document frequencies) and is
    broadcast back — two jobs total, no shuffle of the corpus itself.

    Cross-engine determinism: the default ``idf="rational"`` uses the
    classic BM25 idf without the log, ``(N - df + 0.5) / (df + 0.5)``.
    Every step is IEEE +,-,*,/ on exactly-representable inputs
    (correctly rounded, bit-identical across engines), and the per-term
    contributions are summed left-to-right in ``query_terms`` order, so
    scores are oracle-checkable by hash. ``ln(1 + idf)`` (the
    Lucene-style log idf — always positive, unlike the classic
    un-shifted ln which goes negative past df > N/2) is a monotone
    transform of this rational idf, so single-term rankings are
    identical to the BM25 people actually run; the agreement is
    pytest-pinned (same pattern as ``tfidf_top_terms``' log variant).

    MULTI-term rankings can diverge between the variants (the rational
    idf overweights rare terms relative to the log). Callers wanting
    drop-in Lucene-style BM25 pass ``idf="lucene"`` — same plan, the
    log applied per term; verified by pytest against a pure-Python
    BM25 (transcendental ``ln`` is not hash-stable cross-engine, so
    this variant is deliberately NOT the oracle-checked default).

    Scale: the stats row is O(len(query_terms)); the corpus pass is
    map-only + one broadcast join. At 100 TB this is a scan, not a
    shuffle. Ties break on ``id_col`` ascending.
    """
    if not query_terms:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    if idf not in ("rational", "lucene"):
        raise ValueError(f"bm25_scores: unknown idf variant {idf!r}")
    toks = tx.tokens(F.col(text_col))

    # NB: a two-argument lambda would be interpreted by F.filter as
    # (element, index) — close over the term with a factory instead.
    def _is_term(term):
        return lambda t: t == F.lit(term)

    tf_cols = [
        F.size(F.filter(toks, _is_term(term))).cast("bigint").alias(f"tf_{i}")
        for i, term in enumerate(query_terms)
    ]
    per_doc = df.select(F.col(id_col), F.size(toks).cast("bigint").alias("dl"),
                        *tf_cols)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
          .alias(f"df_{i}") for i in range(len(query_terms))])
    scored = per_doc.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    dl_norm = F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
    score = None
    for i in range(len(query_terms)):
        tfd = F.col(f"tf_{i}").cast("double")
        idf_i = ((F.col("n_docs") - F.col(f"df_{i}")).cast("double")
                 + F.lit(0.5)) \
            / (F.col(f"df_{i}").cast("double") + F.lit(0.5))
        if idf == "lucene":
            idf_i = F.log(F.lit(1.0) + idf_i)
        s_i = idf_i * ((tfd * F.lit(k1 + 1.0)) / (tfd + F.lit(k1) * dl_norm))
        score = s_i if score is None else score + s_i
    topk = (scored.withColumn("score", score)
            .select(id_col, "dl",
                    *[F.col(f"tf_{i}") for i in range(len(query_terms))],
                    "score")
            # orderBy+limit plans as TakeOrderedAndProject (per-partition
            # top-k + driver merge) — no global sort, no one-partition
            # window over the corpus; the rank window below only ever
            # sees the k survivors.
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(k))
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return topk.withColumn("rk", F.row_number().over(w).cast("bigint"))


def span_gram_counts(df: DataFrame, id_col: str, text_col: str, *,
                     n: int = 8, partitions: int | None = None) -> DataFrame:
    """One row per (doc, word-n-gram md5-60 hash) with its within-doc
    multiplicity ``c`` — the shared substrate for ``dup_span_profile``
    and q72's containment leg. Multi-consumer callers (q72's two
    legs) compute it once and pin it DISK_ONLY (NOTES-31/34 rule): the
    tokenize + explode + first shuffle is the dominant cost and the two
    legs' differing downstream aggregates defeat exchange reuse.

    ``partitions``: width of the (doc, gram) aggregate's shuffle. The
    explode multiplies input rows by ~tokens-per-doc, so at large
    corpora the session's shuffle width under-partitions this ONE
    stage: mostly-unique (doc, gram) keys defeat partial aggregation,
    and a 5M-doc corpus pushes ~465M rows through it — at 32
    partitions each concurrent sort exceeds the unified pool
    (SparkOutOfMemoryError, measured at decade 4; the q74 DISK_ONLY
    lesson's sibling — this time execution memory, not storage). Size
    it ~ (docs × grams-per-doc) / ~1.5M rows-per-partition; the
    explicit repartition on (id, gram-hash) satisfies the aggregate's
    distribution, so no second shuffle is added. AQE coalesces the
    tail when the hint overshoots."""
    grams = (df.select(F.col(id_col),
                       F.explode(tx.word_shingles(F.col(text_col), n=n))
                       .alias("gram"))
             # word_shingles falls back to whole-text for < n words; a
             # real n-gram has exactly n-1 separating spaces
             .where(F.size(F.split(F.col("gram"), " ")) == F.lit(n))
             .select(F.col(id_col), tx.md5_hash60(F.col("gram")).alias("h")))
    if partitions is not None:
        grams = grams.repartition(partitions, F.col(id_col), F.col("h"))
    return grams.groupBy(id_col, "h").agg(F.count(F.lit(1)).alias("c"))


def dup_span_profile(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 8,
    gram_counts: DataFrame | None = None,
    gram_doc_freq: DataFrame | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Substring-level duplication profile: for every document, how many
    of its word ``n``-gram spans also occur in at least one OTHER
    document — the n-gram-granular approximation of exact substring
    dedup (suffix-array dedup a la "Deduplicating Training Data Makes
    Language Models Better"), which flags boilerplate/templated spans
    document-level MinHash misses.

    Returns one row per input document: ``n_spans`` (total n-gram
    positions), ``n_dup_spans`` (positions whose n-gram is shared with
    >= 2 distinct documents), ``dup_frac`` (exact integer division to
    double). Documents shorter than ``n`` words have zero spans.

    Scale: explode to one row per token position, then every shuffle
    moves 8-byte md5-60 gram hashes (decontaminate's trick — measured
    ~2x at the 500k-doc scale step vs shuffling ~45-byte gram strings),
    pre-aggregated to one row per (doc, gram) before the shared-count
    join. Linear in corpus tokens — the standard map-reduce shape for
    exact-span dedup. A 60-bit hash collision would conflate two grams
    (P ~ n_grams^2 / 2^61); the oracle mirrors the identical hash so
    cross-engine equality is unaffected.

    ``gram_counts``: optional precomputed ``span_gram_counts`` frame
    (multi-consumer callers pin it and share it with q72's
    containment leg); ``n`` is ignored when provided.
    ``partitions``: width hint for the per-gram shuffles (see
    ``span_gram_counts`` — at the 5M-doc decade the gram stream is
    ~465M mostly-unique rows and the session's small-data width OOMs
    the per-task sort).

    Join-size note (the decade-4 catch): n_spans never needed the
    gram⋈doc-frequency join at all — it is ``sum(c)`` per doc straight
    off the substrate — so the join back runs against ONLY the nd>=2
    grams (the duplicated minority), never the full per-gram count
    table. At 5M docs that is a ~23M-row side instead of ~460M.
    """
    # one row per (doc, gram-hash) with its within-doc multiplicity:
    # the join input shrinks to the distinct-pair count and the
    # doc-count aggregate becomes a plain count
    pg = (gram_counts if gram_counts is not None
          else span_gram_counts(df, id_col, text_col, n=n,
                                partitions=partitions))
    pgh = pg.repartition(partitions, "h") if partitions else pg
    # ``gram_doc_freq``: optional precomputed (h, nd) doc-frequency
    # frame — the by-h aggregate over the substrate is the other
    # heavy shuffle both q72 legs need, shareable the same way as
    # gram_counts (compute once, filter per leg)
    ndf = (gram_doc_freq if gram_doc_freq is not None
           else pgh.groupBy("h").agg(F.count(F.lit(1)).alias("nd")))
    dup_h = ndf.where(F.col("nd") >= 2).select("h")
    spans = pg.groupBy(id_col).agg(F.sum("c").alias("n_spans"))
    dups = (pgh.join(dup_h, "h")
            .groupBy(id_col)
            .agg(F.sum("c").alias("n_dup_spans")))
    out = (df.select(id_col).join(spans, id_col, "left")
           .join(dups, id_col, "left")
           .select(F.col(id_col),
                   F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
                   F.coalesce(F.col("n_dup_spans"), F.lit(0))
                   .alias("n_dup_spans")))
    return out.withColumn(
        "dup_frac",
        F.when(F.col("n_spans") > 0,
               F.col("n_dup_spans").cast("double")
               / F.col("n_spans").cast("double"))
        .otherwise(F.lit(0.0)))


def remove_dup_spans(df: DataFrame, id_col: str, text_col: str,
                     *, n: int = 8, min_docs: int = 2,
                     keep_min_doc: bool = False,
                     partitions: int | None = None,
                     gram_pos: DataFrame | None = None,
                     shared_grams: DataFrame | None = None,
                     cutting: DataFrame | None = None) -> DataFrame:
    """The ACTION half of ``dup_span_profile``: rewrite every document
    with its cross-document duplicated spans EXCISED — the cut step of
    suffix-array substring dedup ("Deduplicating Training Data Makes
    Language Models Better"), at word-n-gram granularity.

    A word position is covered when ANY n-gram through it occurs in
    >= ``min_docs`` distinct documents; covered words are removed from
    ALL documents and the text is rebuilt from the survivors (adjacent
    shared grams merge into one excised interval automatically —
    coverage is computed positionally, so overlapping spans never
    double-cut). By default this cuts EVERY copy; the suffix-array
    pipeline's keep-one-copy rule is available as
    ``keep_min_doc=True``: occurrences of a shared gram inside the
    MIN-doc_id document containing it are protected (a deterministic,
    layout-independent owner — "first" by the stable key, no global
    sort needed), so exactly one document retains each shared span.
    Protection is per gram occurrence: a position in the owner doc can
    still be cut when a DIFFERENT shared gram it sits under is owned
    elsewhere.

    Returns one row per input document: (id, ``text_clean``,
    ``n_words``, ``n_removed``). Documents shorter than ``n`` words
    have no spans and pass through verbatim (whitespace-normalized).

    Scale shape: every shuffle before the final join moves 8-byte gram
    hashes or int positions, pre-aggregated per doc (the q72/q48
    payload discipline). The rebuild is ONE doc-keyed join of the
    corpus against the per-doc covered-position arrays — only docs
    that actually contain shared spans appear on the build side, so
    Spark broadcasts it when duplication is sparse; rewriting the text
    itself is inherently corpus-sized and happens map-side after the
    join via an index filter over the token array (no word-level
    explode of the corpus, no collect_list re-assembly shuffle).
    """
    # ``gram_pos`` / ``shared_grams``: optional precomputed substrates
    # (``gram_positions`` / ``shared_gram_owners``) — multi-leg callers
    # (q73 runs BOTH cut policies over one corpus) pin them once so the
    # tokenize + shingle + md5 pass and the shared-gram aggregate run
    # once, not once per leg (guide §2.4; the q72 gram_counts rule).
    # ``cutting``: optional precomputed gp⋈shared frame (must carry
    # id_col, pos and __owner) — q73 runs BOTH cut policies, which
    # differ only in the owner filter below; that filter pushes into
    # the join differently per leg, defeating exchange reuse (the
    # NOTES-31 rule), so without a shared pinned frame each leg re-ran
    # the positional-gram ⋈ shared-gram join from scratch (r13).
    if cutting is None:
        gp = gram_pos if gram_pos is not None \
            else gram_positions(df, id_col, text_col, n=n)
        # width hint (``partitions``, the span_gram_counts rule): the
        # positional gram stream is ~90x the doc count; at the 5M-doc
        # decade its sort-merge join against the shared-gram table OOMs
        # at the session's small-data shuffle width. Widening the gp
        # side here widens the SMJ on both sides (the join requires
        # matching partitioning); the aggregates hash-spill and need no
        # hint.
        if partitions is not None and gram_pos is None:
            gp = gp.repartition(partitions, F.col("h"))
        shared = shared_grams if shared_grams is not None \
            else shared_gram_owners(gp, id_col, min_docs=min_docs)
        cutting = gp.join(shared, "h")
    if keep_min_doc:
        cutting = cutting.where(F.col(id_col) != F.col("__owner"))
    return cut_covered_positions(df, id_col, text_col,
                                 cutting.select(id_col, "pos"), n=n)


def token_rarity_profile(df: DataFrame, id_col: str,
                         text_col: str) -> DataFrame:
    """Per-document corpus-frequency quality signals — the
    exact-arithmetic stand-in for LM-perplexity corpus filtering:
    documents whose tokens are corpus-rare are OCR noise / junk /
    wrong-language; documents whose tokens are all corpus-ubiquitous
    are boilerplate.

    Returns one row per document: ``n_tokens`` (occurrences),
    ``mean_token_df`` (occurrence-weighted mean DOCUMENT frequency of
    the doc's tokens) and ``rare_frac`` (fraction of occurrences whose
    token appears in no other document). Integer sums + one terminal
    IEEE division each — deterministic on any layout (no
    transcendental log, unlike perplexity, so thresholds reproduce
    bit-for-bit across engines and runs).

    Scale shape (the q72 payload discipline): tokens are md5-60 hashed
    immediately and pre-aggregated to one row per (doc, token-hash)
    with its multiplicity, so both shuffles (the document-frequency
    aggregate and the join back) carry 8-byte hashes + small ints —
    never token strings. A 60-bit collision conflates two tokens
    (P ~ vocab²/2^61), shifting a count by noise; acceptable for a
    quality SIGNAL.
    """
    per = _token_rarity_stats(df, id_col, text_col)
    n = F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint")
    return (df.select(id_col).join(per, id_col, "left")
            .select(F.col(id_col), n.alias("n_tokens"),
                    F.when(n > 0, F.col("sum_df").cast("double")
                           / n.cast("double"))
                    .otherwise(F.lit(0.0)).alias("mean_token_df"),
                    F.when(n > 0, F.col("n_rare").cast("double")
                           / n.cast("double"))
                    .otherwise(F.lit(0.0)).alias("rare_frac")))


def _token_rarity_stats(df: DataFrame, id_col: str,
                        text_col: str) -> DataFrame:
    """The aggregate half of :func:`token_rarity_profile` — one row per
    document WITH tokens: (id, n_tokens, sum_df, n_rare). Factored out
    (r13, guide §2.4) so multi-profile plans (q74) can attach several
    per-doc stats frames to the corpus with ONE document-side join
    instead of one per profile."""
    th = (df.select(F.col(id_col),
                    F.explode(tx.tokens(F.col(text_col))).alias("tok"))
          .select(F.col(id_col), tx.md5_hash60(F.col("tok")).alias("th")))
    per_tok = th.groupBy(id_col, "th").agg(F.count(F.lit(1)).alias("c"))
    # per_tok feeds TWO consumers (the document-frequency aggregate and
    # the join back) whose differing pushed null filters defeat exchange
    # reuse — unpinned, the tokenize + explode + (doc, hash) shuffle
    # runs twice (the bigram_lm_profile NOTES-31 lesson, guide §2.4).
    # DISK_ONLY for the same reason as bigram's pin: the pre-aggregated
    # frame is corpus-token-sized and a memory pin would compete with
    # the downstream aggregates' execution memory at the 5M-doc decade.
    from pyspark import StorageLevel

    from tradingview_data_pipeline_spark.operators import pins
    per_tok = pins.track(per_tok.persist(StorageLevel.DISK_ONLY))
    dfreq = per_tok.groupBy("th").agg(F.count(F.lit(1)).alias("tdf"))
    return (per_tok.join(dfreq, "th")
            .groupBy(id_col)
            .agg(F.sum("c").alias("n_tokens"),
                 F.sum(F.col("c") * F.col("tdf")).alias("sum_df"),
                 F.sum(F.when(F.col("tdf") == 1, F.col("c")).otherwise(0))
                 .alias("n_rare")))


def bigram_lm_profile(df: DataFrame, id_col: str,
                      text_col: str, *, scale: int = 1_000_000) -> DataFrame:
    """Bigram language-model fluency profile — the exact-arithmetic
    stand-in for the CCNet perplexity filter's LM scoring (its sibling
    ``token_rarity_profile`` covers unigram rarity): score each
    document by how PREDICTABLE its word transitions are under the
    corpus's own bigram statistics. Per bigram occurrence the
    quantized conditional probability
    ``floor(scale * count(w1 w2) / count(w1 ·))`` (count(w1 ·) = w1's
    occurrences as a bigram prefix) is summed as BIGINT — high =
    fluent/common phrasing, low = rare or garbled transitions. Exact
    integers + one correctly-rounded IEEE multiply/divide per distinct
    (doc, bigram), so the score is bit-identical on any layout and
    cross-engine checkable (the q78 quantized-ratio contract; a real
    log-space KenLM would not be — the q49 rule).

    Output: (id, n_bigrams, bigram_score); docs with < 2 tokens score
    (0, 0). Scale shape: one pass builds per-(doc, bigram) counts with
    map-side combine (adjacent-pair structs from ONE bound token
    array — no token-per-row explode of unigrams), the corpus bigram
    and prefix tables are two re-aggregations of that same frame, and
    everything joins on 8-byte xxhash64 keys (the q72 lesson), never
    strings."""
    agg = _bigram_lm_stats(df, id_col, text_col, scale=scale)
    zero = F.lit(0).cast("bigint")
    return (df.select(id_col).join(agg, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("__n"), zero).alias("n_bigrams"),
                    F.coalesce(F.col("__s"), zero).alias("bigram_score")))


def _bigram_lm_stats(df: DataFrame, id_col: str, text_col: str,
                     *, scale: int = 1_000_000):
    """The aggregate half of :func:`bigram_lm_profile` — one stats
    row per document WITH bigrams (id, __n, __s). Factored out (r13,
    guide §2.4) so q74 can attach both corpus-frequency profiles with
    one document join."""
    toks = tx.tokens(F.coalesce(F.col(text_col), F.lit("")))

    def bigram_structs(t: Column) -> Column:
        empty = F.expr(
            "CAST(array() AS ARRAY<STRUCT<h1: BIGINT, h12: BIGINT>>)")
        return F.when(F.size(t) >= 2, F.transform(
            F.slice(t, F.lit(1), F.size(t) - 1),
            lambda w, i: F.struct(
                F.xxhash64(w).alias("h1"),
                F.xxhash64(F.concat_ws(" ", w, F.element_at(t, i + F.lit(2))))
                .alias("h12")))).otherwise(empty)

    pairs = df.select(
        F.col(id_col),
        F.explode(F.element_at(
            F.transform(F.array(toks), bigram_structs), 1)).alias("__p"))
    per = (pairs.select(id_col, F.col("__p.h1").alias("h1"),
                        F.col("__p.h12").alias("h12"))
           .groupBy(id_col, "h1", "h12")
           .agg(F.count(F.lit(1)).alias("__c")))
    # lazily pinned: per feeds THREE consumers (cg -> c1 -> w and the
    # final join), and each branch acquires a DIFFERENT isnotnull
    # filter from its join side, so canonical-plan exchange reuse never
    # fires — without the pin the explode + 3-key shuffle re-runs three
    # times (measured 52.6 s at the 500k-doc decade; pinned: one pass).
    # DISK_ONLY, not localCheckpoint: the memory-backed pin's storage
    # blocks starved execution memory at the 5M-doc decade (350M
    # pre-aggregated rows -> SparkOutOfMemoryError in the downstream
    # aggregate); spilled-to-disk blocks stay out of the unified pool
    # and re-reading them is cheaper than three explode passes.
    from pyspark import StorageLevel

    from tradingview_data_pipeline_spark.operators import pins
    per = pins.track(per.persist(StorageLevel.DISK_ONLY))
    # corpus statistics as ONE re-aggregation chain: cg is the bigram
    # table, c1 re-aggregates CG (vocab-bounded), not the per-doc frame;
    # the weight join is vocab-sized and AQE broadcasts it when small
    cg = per.groupBy("h1", "h12").agg(F.sum("__c").alias("__c12"))
    c1 = cg.groupBy("h1").agg(F.sum("__c12").alias("__c1"))
    w = (cg.join(c1, "h1")
         .select("h12",
                 F.floor(F.lit(float(scale)) * F.col("__c12")
                         / F.col("__c1")).cast("bigint").alias("__q")))
    agg = (per.join(w, "h12")
           .groupBy(id_col)
           .agg(F.sum("__c").alias("__n"),
                F.sum(F.col("__q") * F.col("__c")).alias("__s")))
    return agg


def shared_gram_owners(gp: DataFrame, id_col: str, *,
                       min_docs: int = 2) -> DataFrame:
    """(h, __owner) for every gram hash appearing in >= ``min_docs``
    distinct documents, with the MIN-id owner — the shared-gram table of
    ``remove_dup_spans``, factored out so multi-leg callers (q73) can
    compute and pin it once over a shared ``gram_positions`` frame."""
    return (gp.select(id_col, "h").distinct()
            .groupBy("h").agg(F.count(F.lit(1)).alias("nd"),
                              F.min(id_col).alias("__owner"))
            .where(F.col("nd") >= min_docs).select("h", "__owner"))


def gram_positions(df: DataFrame, id_col: str, text_col: str,
                   *, n: int = 8) -> DataFrame:
    """(id, pos, h): md5-60 hash of the word ``n``-gram starting at
    word position ``pos`` (0-based) — posexplode over the shingle array
    gives the start index directly (one shingle per word position;
    the < n-word whole-text fallback is filtered by the exact-n
    check). The shared span representation of ``dup_span_profile`` /
    ``remove_dup_spans``."""
    return (df.select(F.col(id_col),
                      F.posexplode(tx.word_shingles(F.col(text_col), n=n))
                      .alias("pos", "gram"))
            .where(F.size(F.split(F.col("gram"), " ")) == F.lit(n))
            .select(F.col(id_col), "pos",
                    tx.md5_hash60(F.col("gram")).alias("h")))


def cut_covered_positions(df: DataFrame, id_col: str, text_col: str,
                          starts: DataFrame, *, n: int = 8) -> DataFrame:
    """Rebuild each document with the given gram START positions
    excised: ``starts`` is an (id, pos) frame; each start covers word
    positions [pos, pos+n-1], unioned positionally (overlaps merge, no
    double-cut). Returns (id, text_clean, n_words, n_removed). The
    rebuild is ONE doc-keyed join of the corpus against the per-doc
    covered-position arrays plus a map-side index filter over the
    token array — no word-level explode of the corpus text."""
    cov = (starts
           .select(F.col(id_col),
                   F.explode(F.sequence(F.col("pos"),
                                        F.col("pos") + F.lit(n - 1)))
                   .alias("p"))
           .groupBy(id_col).agg(F.collect_set("p").alias("cov")))
    toks = tx.tokens(F.col(text_col))
    covered = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    kept = F.filter(toks, lambda w, i: ~F.array_contains(covered, i))
    return (df.join(cov, id_col, "left")
            .select(F.col(id_col),
                    F.array_join(kept, " ").alias("text_clean"),
                    F.size(toks).cast("bigint").alias("n_words"),
                    (F.size(toks) - F.size(kept)).cast("bigint")
                    .alias("n_removed")))


#: the five signal columns with_repetition_signals appends, in order
REPETITION_SIGNALS = ("n_lines", "dup_line_frac", "dup_line_char_frac",
                      "top_2gram_frac", "dup_5gram_frac")


def _rep_arrays(txt: Column) -> dict[str, Column]:
    """The three per-document SORTED arrays every repetition signal is
    computed from: ``hl`` = struct<h,len> per non-empty trimmed line,
    ``g2``/``g5`` = xxhash64 per word 2-/5-gram. Pure expressions over
    ``txt`` — the tokenize/split/shingle passes that dominate the
    operator's cost all live here."""
    # explicit one-arg lambda, NEVER the bare function: F.trim grew an
    # optional second param (trimStr) in Spark 4, and transform()
    # passes the element INDEX to any callable accepting two args — so
    # `F.transform(arr, F.trim)` trims each line by its index digits,
    # not by spaces (hypothesis-found, test_property_corpus)
    lines = F.filter(F.transform(F.split(txt, "\n"), lambda x: F.trim(x)),
                     lambda x: x != F.lit(""))
    hl = F.sort_array(F.transform(
        lines, lambda x: F.struct(F.xxhash64(x).alias("h"),
                                  F.length(x).cast("bigint").alias("len"))))

    def gram_hashes(n: int) -> Column:
        return F.when(
            F.size(tx.tokens(txt)) >= n,
            F.sort_array(F.transform(tx.word_shingles(txt, n=n),
                                     lambda g: F.xxhash64(g)))
        ).otherwise(F.array().cast("array<bigint>"))

    return {"hl": hl, "g2": gram_hashes(2), "g5": gram_hashes(5)}


def _rep_signal_exprs(hl: Column, g2: Column,
                      g5: Column) -> dict[str, Column]:
    """The five ``REPETITION_SIGNALS`` as pure expressions over the
    three pre-sorted arrays. Callers choose the binding: projection
    attributes (``with_repetition_signals`` — evaluated once per row by
    the ProjectExec) or evaluate-once lambda variables
    (``repetition_within_limits`` — immune to filter-pushdown
    expression duplication)."""
    def dup_entries(a: Column, key):
        # elements of the SORTED array belonging to a >=2 run: equal to
        # their predecessor or successor. when() guards keep element_at
        # 1-based and never at 0 / past the end.
        def pred(x, i):
            prev = F.when(i > F.lit(0), key(F.element_at(a, i)))
            nxt = F.when(i < F.size(a) - 1, key(F.element_at(a, i + 2)))
            return (key(x) == prev) | (key(x) == nxt)

        return F.filter(a, pred)

    zero = F.lit(0).cast("bigint")
    n_lines = F.size(hl).cast("bigint")
    nd_lines = F.size(F.array_distinct(
        F.transform(hl, lambda x: x["h"]))).cast("bigint")
    tot_chars = F.aggregate(hl, zero, lambda a, x: a + x["len"])
    dup_chars = F.aggregate(dup_entries(hl, lambda x: x["h"]), zero,
                            lambda a, x: a + x["len"])
    one = F.lit(1).cast("bigint")
    top2 = F.aggregate(
        g2,
        F.struct(F.lit(None).cast("bigint").alias("prev"),
                 zero.alias("run"), zero.alias("best")),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(one).alias("run"),
            F.greatest(a["best"],
                       F.when(x == a["prev"], a["run"] + 1).otherwise(one))
            .alias("best")),
        lambda a: a["best"])
    n2 = F.size(g2).cast("bigint")
    n5 = F.size(g5).cast("bigint")
    dup5 = F.size(dup_entries(g5, lambda x: x)).cast("bigint")

    def frac(num: Column, den: Column) -> Column:
        return (F.when(den > 0, num.cast("double") / den.cast("double"))
                .otherwise(F.lit(0.0)))

    return {
        "n_lines": n_lines,
        "dup_line_frac": frac(n_lines - nd_lines, n_lines),
        "dup_line_char_frac": frac(dup_chars, tot_chars),
        "top_2gram_frac": frac(top2, n2),
        "dup_5gram_frac": frac(dup5, n5),
    }


def with_repetition_signals(df: DataFrame, text_col: str) -> DataFrame:
    """Append the five repetition signal columns (``REPETITION_SIGNALS``)
    to ``df`` map-side, preserving every input column — the composable
    PROJECTION form ``repetition_profile`` builds on. Zero shuffle.
    Input columns named like a signal would collide — rejected loudly
    rather than silently overwritten. Line semantics: SQL ``trim`` =
    SPACES only, so a tab-only line counts as (1-char) content — the
    oracle mirrors ``trim()`` exactly; ``dedupe_lines`` deliberately
    uses a wider whitespace-set blank instead (it rewrites text, where
    structural whitespace must survive).

    Do NOT filter on the appended columns in a hot path: Catalyst's
    filter pushdown substitutes each referenced signal's FULL expression
    tree (its own tokenize + shingle passes) into the pushed predicate —
    a measured ~15x per-row blowup. Gate with
    ``repetition_within_limits`` instead, which binds the arrays once.
    """
    clash = set(df.columns) & set(REPETITION_SIGNALS)
    if clash:
        raise ValueError(f"input columns collide with repetition "
                         f"signals: {sorted(clash)}")
    arrs = _rep_arrays(F.coalesce(F.col(text_col), F.lit("")))
    d = df.select("*", arrs["hl"].alias("_hl"),
                  arrs["g2"].alias("_g2"), arrs["g5"].alias("_g5"))
    sig = _rep_signal_exprs(F.col("_hl"), F.col("_g2"), F.col("_g5"))
    return d.select(*df.columns,
                    *[sig[n].alias(n) for n in REPETITION_SIGNALS])


#: empty-array literals matching _rep_arrays' element types, used to
#: skip computing arrays no requested signal reads
_REP_EMPTY = {
    "hl": "array<struct<h:bigint,len:bigint>>",
    "g2": "array<bigint>",
    "g5": "array<bigint>",
}

#: which bound array each signal reads
_REP_NEEDS = {
    "n_lines": "hl", "dup_line_frac": "hl", "dup_line_char_frac": "hl",
    "top_2gram_frac": "g2", "dup_5gram_frac": "g5",
}


def repetition_within_limits(text_col: Column,
                             limits: dict[str, float]) -> Column:
    """ONE boolean expression: every requested ``REPETITION_SIGNALS``
    value is <= its limit — the gate form for ``.where(...)`` in a
    corpus pipeline.

    Why not filter on ``with_repetition_signals`` columns: Catalyst
    pushes a Filter through a Project by substituting each referenced
    alias's full expression tree into the condition (replaceAlias has
    no cost model), so a 3-signal limit recomputes the tokenize +
    shingle passes once per signal per row — measured +37 s on a 50k-doc
    corpus-prep run vs ~2.4 s for one signal pass. Here the three
    arrays are bound ONCE as fields of a single-element
    ``transform(array(struct(...)), s -> cond)`` lambda: inside the
    lambda every use of ``s["hl"]`` is a variable access, not a
    recomputation, and the expression stays a self-contained
    deterministic scalar Catalyst can push anywhere at no extra cost.
    Arrays no requested signal reads are replaced by empty literals
    (gating on lines alone skips both shingle passes)."""
    unknown = set(limits) - set(REPETITION_SIGNALS)
    if unknown:
        raise ValueError(f"unknown repetition signals: {sorted(unknown)}; "
                         f"valid: {list(REPETITION_SIGNALS)}")
    if not limits:
        return F.lit(True)
    arrs = _rep_arrays(F.coalesce(text_col, F.lit("")))
    needed = {_REP_NEEDS[name] for name in limits}
    bound = F.array(F.struct(*[
        (arrs[k] if k in needed else F.array().cast(_REP_EMPTY[k])).alias(k)
        for k in ("hl", "g2", "g5")]))

    def cond(s: Column) -> Column:
        sig = _rep_signal_exprs(s["hl"], s["g2"], s["g5"])
        c = F.lit(True)
        for name in sorted(limits):
            c = c & (sig[name] <= F.lit(float(limits[name])))
        return c

    return F.element_at(F.transform(bound, cond), 1)


def repetition_profile(df: DataFrame, id_col: str,
                       text_col: str) -> DataFrame:
    """Per-document repetition quality signals (the Gopher/C4 filter
    family): boilerplate, templates, and spam repeat LINES and n-grams
    within a single document — repetition no cross-document dedup sees.

    Returns one row per document:
      ``n_lines``             non-empty (trimmed) lines
      ``dup_line_frac``       line occurrences beyond each line's first
                              / all line occurrences
      ``dup_line_char_frac``  characters inside lines occurring >= 2
                              times / all line characters (every
                              occurrence counts — the Gopher definition)
      ``top_2gram_frac``      occurrences of the modal word 2-gram /
                              all 2-gram occurrences
      ``dup_5gram_frac``      occurrences of word 5-grams appearing
                              >= 2 times / all 5-gram occurrences
    Occurrence fractions, not Gopher's character fractions, for the
    n-gram signals — same signal, integer-exact, oracle-checkable.

    Scale shape: ZERO shuffle — every signal is one projection over
    per-document arrays (split / sort_array / filter / aggregate), so
    the operator is embarrassingly parallel: its cost is exactly one
    pass over the corpus bytes, and it composes with any scan. Equality
    is tested on xxhash64 of lines/grams (a 64-bit collision shifts a
    count with P ~ items^2/2^65 — noise for a quality signal; the
    oracle compares the strings themselves). Each fraction is integer
    counts + one terminal IEEE division: deterministic on any layout.
    Higher-order functions are interpreted, not codegen'd (the
    word_shingles lesson) — but the arrays here are per-document, and
    the regex tokenize/shingle passes that dominate stay single-call.
    """
    sig = with_repetition_signals(
        df.select(F.col(id_col), F.col(text_col)), text_col)
    return sig.select(F.col(id_col), *REPETITION_SIGNALS)


def dedupe_lines(df: DataFrame, text_col: str, *,
                 out_col: str | None = None) -> DataFrame:
    """C4-style within-document line dedup — the ACTION sibling of the
    repetition gate: drop every repeat of an exact non-blank line,
    keeping the first occurrence. Whitespace-only lines always pass
    (they carry paragraph structure; deduping them would collapse
    formatting). Matching is exact — lines differing in leading
    whitespace are distinct (code blocks survive).

    Map-only, zero shuffle. The line array is bound once via the
    evaluate-once transform lambda (the ``repetition_within_limits``
    pushdown lesson), so the first-occurrence scan
    (``array_position`` — O(lines) per line, O(lines²) per doc, fine
    for the hundreds-of-lines documents this targets) runs on the
    bound variable, never on a recomputed split."""
    out = out_col or text_col
    txt = F.coalesce(F.col(text_col), F.lit(""))

    def body(ls: Column) -> Column:
        # blank = every char in the explicit whitespace SET (translate
        # erases them all): F.trim strips SPACES only, so a tab-only
        # line would be deduped as content — a hypothesis-found bug
        # (test_property_corpus). A literal char set, not a regex
        # class: Java \s and RE2 \s disagree on vertical tab, the
        # translate set is engine-exact.
        keep = F.filter(
            ls, lambda x, i: (F.translate(x, " \t\f\r\x0b", "") == "")
            | (F.array_position(ls, x) == i + F.lit(1)))
        return F.array_join(keep, "\n")

    cleaned = F.element_at(
        F.transform(F.array(F.split(txt, "\n")), body), 1)
    return df.withColumn(out, cleaned)


# the explicit whitespace SET shared by the line-dedup family: F.trim
# strips spaces only, and Java \s vs RE2 \s disagree on vertical tab,
# so blank-line detection is a literal translate set (engine-exact;
# see dedupe_lines and the hypothesis-found tab-only-line bug)
_BLANK_WS = " \t\f\r\x0b"


def _blank_line(x: Column) -> Column:
    return F.translate(x, _BLANK_WS, "") == ""


def dedupe_lines_global(df: DataFrame, id_col: str, text_col: str, *,
                        min_docs: int = 2,
                        keep: str = "none",
                        out_col: str | None = None,
                        hot_count_col: str | None = None,
                        removed_count_col: str | None = None) -> DataFrame:
    """Corpus-GLOBAL line dedup — the cross-document half of the C4 /
    RefinedWeb / MassiveText line-cleaning rule that ``dedupe_lines``
    (within-document) can't express: drop EVERY occurrence of any exact
    non-blank line that appears in >= ``min_docs`` DISTINCT documents.
    Such lines are boilerplate (nav menus, footers, cookie banners,
    license headers) — there is no canonical owner, so no copy is kept
    (unlike span dedup's keep-one-in-min-doc: a shared SPAN is content,
    a corpus-hot LINE is chrome). Whitespace-only lines always pass
    (paragraph structure); within-document repeats alone never trigger
    (prevalence counts distinct docs, not occurrences — that rule is
    ``dedupe_lines``' job). Matching is exact, like the rest of the
    line family.

    ``keep='min_doc'`` switches to the keep-one-copy rule (the C4
    span-dedup flavor): the document with the SMALLEST id among those
    carrying a hot line retains its copies, every other document drops
    all of theirs — use it when corpus-hot lines may still be content
    (quotes, stock phrases) rather than chrome. The default
    ``keep='none'`` drops every copy (boilerplate has no owner).

    ``hot_count_col`` optionally emits how many DISTINCT hot lines each
    document DROPS (its boilerplate exposure — a useful per-source
    diagnostic; under ``keep='min_doc'`` the owner's retained lines
    don't count). ``removed_count_col`` optionally emits the exact
    number of line OCCURRENCES removed (computed inside the rewrite —
    see ``strip_hot_lines_counted`` for why it can't be derived from
    the cleaned string).

    Scale shape (the reason this isn't "explode, join, re-group"):
      1. one pass explodes (doc, xxhash64(line)) DISTINCT pairs —
         16-byte rows, one shuffle;
      2. line prevalence is a count window over the SAME pair frame
         (partitionBy line-hash): no self-join, no second scan of the
         corpus text;
      3. pairs surviving ``>= min_docs`` group back to one small
         per-doc hot-hash ARRAY (docs with no hot lines vanish here);
      4. the corpus joins that per-doc frame on the id ONCE (AQE
         broadcasts it when small — the common case: boilerplate is
         concentrated) and the rewrite is a map-side array filter with
         the hot set bound per row.
    So the full text column crosses the wire at most once (step 4), and
    the only corpus-sized shuffles carry 16-byte hash pairs. An
    explode→anti-join→re-group plan would instead shuffle every LINE
    string twice. Hash matching means a 64-bit collision could drop an
    innocent line (P ~ lines²/2⁶⁵ — noise; the oracle that checks this
    operator matches the strings themselves)."""
    out = out_col or text_col
    clash = {"__doc", "__hot"} & set(df.columns)
    if clash:
        raise ValueError(
            f"dedupe_lines_global reserves columns {sorted(clash)}; "
            f"rename them in the input")
    txt = F.coalesce(F.col(text_col), F.lit(""))

    lines = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(F.split(txt, "\n")).alias("__l"))
    if keep not in ("none", "min_doc"):
        raise ValueError(f"keep must be 'none' or 'min_doc', got {keep!r}")
    pairs = (lines.where(~_blank_line(F.col("__l")))
             .select("__doc", F.xxhash64("__l").alias("__lh"))
             .distinct())
    w = Window.partitionBy("__lh")
    # prevalence and (for keep='min_doc') the owning doc come out of the
    # SAME window partition — one sort, two frame functions
    hot_pairs = (pairs
                 .withColumn("__n", F.count(F.lit(1)).over(w))
                 .withColumn("__owner", F.min("__doc").over(w))
                 .where(F.col("__n") >= F.lit(int(min_docs))))
    if keep == "min_doc":
        hot_pairs = hot_pairs.where(F.col("__doc") != F.col("__owner"))
    doc_hot = (hot_pairs.groupBy("__doc")
               .agg(F.collect_set("__lh").alias("__hot")))

    joined = df.join(doc_hot, F.col(id_col) == F.col("__doc"), "left")
    hot = F.coalesce(F.col("__hot"),
                     F.array().cast("array<bigint>"))
    st = strip_hot_lines_counted(txt, hot)
    # one simultaneous projection: with out_col == text_col (in-place),
    # a second sequential withColumn would re-evaluate the strip on the
    # ALREADY-cleaned text and report 0 removals
    new_cols = {out: st["clean"]}
    if removed_count_col is not None:
        new_cols[removed_count_col] = st["n_removed"]
    if hot_count_col is not None:
        new_cols[hot_count_col] = F.size(hot).cast("bigint")
    return joined.withColumns(new_cols).drop("__doc", "__hot")


def strip_hot_lines_counted(txt: Column, hot: Column) -> Column:
    """Map-side line rewrite: drop every non-blank line whose xxhash64
    is in ``hot`` (an ``array<bigint>`` column — typically a per-doc hot
    set from a join); whitespace-only lines always pass. Returns the
    clean string plus an EXACT removed-line count, as one struct (clean
    string, n_removed bigint) from one bound evaluation: the line array
    binds once via the evaluate-once transform lambda.
    The count can NOT be recovered from the cleaned string afterwards:
    ``array_join([], "\\n") == array_join([""], "\\n") == ""``, so a
    fully-stripped doc and a one-blank-line doc are indistinguishable —
    the size(split) difference undercounts exactly there (a real bug
    the gen_sf1 oracle sweep caught: single-line exact-dup docs strip
    to empty and reported n_removed = 0)."""

    def body(ls: Column) -> Column:
        keep = F.filter(
            ls, lambda x: _blank_line(x)
            | ~F.array_contains(hot, F.xxhash64(x)))
        return F.struct(
            F.array_join(keep, "\n").alias("clean"),
            (F.size(ls) - F.size(keep)).cast("bigint").alias("n_removed"))

    return F.element_at(F.transform(F.array(F.split(txt, "\n")), body), 1)
