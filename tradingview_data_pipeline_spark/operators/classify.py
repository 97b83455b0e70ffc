"""Model-based quality filtering — the learned half of the corpus
quality gate (the heuristic half is ``text.quality_score`` /
``corpus.with_repetition_signals``).

Two public families:

* **Token naive-Bayes classifier** (``token_class_weights`` +
  ``nb_score``): the CCNet / GPT-3-reproduction "quality classifier"
  pattern — train a linear model over tokens from a labeled reference
  set (good = curated corpus, bad = raw crawl), score every document,
  keep the high-scoring tail.  Training is ONE corpus pass (explode →
  token hash-aggregate with full map-side combine — no iteration, no
  driver round-trips); the model is a (token, counts) table pruned by
  ``min_df`` so it stays broadcastable; scoring is explode → broadcast
  join → per-doc BIGINT sum, so the corpus shuffles only 8-byte partial
  sums keyed by doc id.

* **Hashed-feature logistic regression** (``logreg_train`` +
  ``logreg_score``): the fastText-style linear quality filter (the
  LLaMA / GPT-3 "trained on Wikipedia vs crawl" gate) — L1-normalized
  hashed-token bag-of-words features, full-batch gradient descent.
  Training is iterative (the PageRank/BPE verification pattern:
  pytest-pinned against a pure-Python reference, deliberately not
  SQL-oracle-expressible): the featurized corpus is built ONCE, pinned
  DISK_ONLY, and each iteration is a single map-only pass that emits
  int64-QUANTIZED per-partition gradient entries — the only per-
  iteration shuffle is vocabulary-bounded (≤ ``n_buckets`` 16-byte
  rows), the corpus never reshuffles, and the weight vector lives on
  the driver (2 MB at the default 2^18 buckets).  Quantization makes
  the distributed gradient sum associative, so training is bit-
  reproducible under any partitioning — the same exactness contract
  the repo pins for BPE and the int-SemDeDup kernels.

* **DSIR importance weights** (``hashed_ngram_dist`` +
  ``importance_weights``): Xie et al. 2023 ("Data Selection for
  Language Models via Importance Resampling") — hashed n-gram
  bag-of-words likelihood ratio between a target distribution and the
  raw pool, then sample-without-replacement proportional to the
  importance weight (``sampling.weighted_sample_k(log_weights=True)``
  keeps everything in log space).  The two distribution tables are
  ``buckets``-bounded regardless of corpus size, so both sides
  broadcast.

Cross-engine exactness contract (the q49 linear-idf / q53 grid
pattern): the oracle-checked score is the QUANTIZED LINEAR-RATIO sum —
per token, ratio = ((n_pos+1)·(tot_neg+V)) / ((n_neg+1)·(tot_pos+V))
evaluated as exact-integer→double casts, one multiply per side, one
divide, one multiply by 1e6, floor → BIGINT; the per-doc sum is then
associative.  Every step is identical correctly-rounded IEEE in Spark
and DuckDB, so the driver hash pins it bit-for-bit (q78).  The
production log-odds score (``use_log=True``) sums ln(ratio) instead —
``ln`` is not correctly rounded, so that variant is pytest-pinned
against a pure-Python reference, the repo-wide criterion for oracle vs
pytest verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.operators import text as tx

GRID = 1_000_000.0  # the repo-wide 1e-6 quantization grid


def token_class_weights(df: DataFrame, text_col: str, label_col: str, *,
                        min_df: int = 1) -> DataFrame:
    """Train the token NB model: (token, n_pos, n_neg) occurrence counts.

    ``label_col`` is truthy for the positive ("high quality") class.
    ``min_df`` drops tokens with fewer than that many total occurrences
    — the long tail carries little evidence and the pruned table must
    broadcast at scoring time (vocabulary, not corpus, bounds its
    size).  One explode + one hash aggregate; counts are exact
    integers, so training is layout-independent by construction.
    """
    y = F.when(F.col(label_col).cast("boolean"), F.lit(1)).otherwise(F.lit(0))
    tok = df.select(y.alias("__y"),
                    F.explode(tx.tokens(F.col(text_col))).alias("token"))
    cnt = (tok.groupBy("token")
           .agg(F.sum("__y").alias("n_pos"),
                F.sum(F.lit(1) - F.col("__y")).alias("n_neg")))
    if min_df > 1:
        cnt = cnt.where(F.col("n_pos") + F.col("n_neg") >= min_df)
    return cnt


def _ratio(n_pos, n_neg, tot_pos, tot_neg, v):
    """Laplace-smoothed likelihood ratio P(tok|pos)/P(tok|neg), evaluated
    in the exactness-contract order: integer→double casts (exact for
    counts < 2^53), one multiply per side, one divide — all correctly
    rounded identically in Spark and DuckDB.  (Beyond 2^53 total tokens
    the ratio is no longer mathematically exact but STAYS bit-identical
    across engines: same inputs, same correctly-rounded ops.)"""
    num = (n_pos + F.lit(1)).cast("double") * (tot_neg + v).cast("double")
    den = (n_neg + F.lit(1)).cast("double") * (tot_pos + v).cast("double")
    return num / den


def nb_score(df: DataFrame, id_col: str, text_col: str,
             weights: DataFrame, *, use_log: bool = False) -> DataFrame:
    """Score documents with a trained ``token_class_weights`` model.

    Returns (id, n_tokens, n_known, score): ``score`` is the quantized
    linear-ratio BIGINT sum by default (oracle-exact; see module
    docstring), or the double log-odds sum with ``use_log=True`` (the
    production form — monotone-comparable scores for thresholding).
    Unseen tokens contribute the smoothing-only ratio ((0+1) counts);
    empty documents score 0 with n_tokens = 0.

    Plan shape: the (small) weight table broadcasts with its totals
    row folded in as literals-by-crossjoin; the corpus explodes
    map-side and shuffles only (doc, partial-sum) rows into the final
    hash aggregate — no corpus-sized key materializes.
    """
    tot = weights.agg(F.sum("n_pos").alias("__tp"),
                      F.sum("n_neg").alias("__tn"),
                      F.count(F.lit(1)).alias("__v"))
    w = (weights.crossJoin(F.broadcast(tot))
         .select("token",
                 _w_col(F.col("n_pos"), F.col("n_neg"),
                        F.col("__tp"), F.col("__tn"), F.col("__v"),
                        use_log).alias("__w")))
    unk = tot.select(
        _w_col(F.lit(0), F.lit(0), F.col("__tp"), F.col("__tn"),
               F.col("__v"), use_log).alias("__unk"))
    tok = df.select(F.col(id_col),
                    F.explode_outer(tx.tokens(F.col(text_col))).alias("token"))
    zero = F.lit(0.0) if use_log else F.lit(0).cast("long")
    contrib = F.when(F.col("token").isNull(), zero) \
               .otherwise(F.coalesce(F.col("__w"), F.col("__unk")))
    return (
        tok.join(F.broadcast(w), "token", "left")
        .crossJoin(F.broadcast(unk))
        .groupBy(id_col)
        .agg(F.count(F.col("token")).alias("n_tokens"),
             F.count(F.col("__w")).alias("n_known"),
             F.coalesce(F.sum(contrib), zero).alias("score"))
    )


def _w_col(n_pos, n_neg, tp, tn, v, use_log):
    r = _ratio(n_pos, n_neg, tp, tn, v)
    if use_log:
        return F.log(r)
    return F.floor(r * F.lit(GRID)).cast("long")


# ---------------------------------------------------------------------------
# Hashed-feature logistic regression — the fastText-style linear filter.
# ---------------------------------------------------------------------------

GRID9 = 1_000_000_000.0  # gradient/loss quantization grid (1e-9 resolution)


class LogRegModel:
    """Trained ``logreg_train`` artifact.

    ``weights`` is a (bucket BIGINT, weight DOUBLE) DataFrame of the
    NONZERO coordinates (vocabulary-bounded, broadcastable), ``bias``
    the intercept, ``n_buckets`` the feature-hash modulus (scoring must
    reuse it), ``history`` the mean training loss per iteration.  The
    dense vector stays driver-side in ``dense`` for tests and persistence.
    """

    def __init__(self, weights: DataFrame, bias: float, n_buckets: int,
                 history: list, dense=None):
        self.weights = weights
        self.bias = bias
        self.n_buckets = n_buckets
        self.history = history
        self.dense = dense


def _lr_bucket(col, n_buckets: int):
    """Feature-hash bucket: md5-60 pmod n_buckets — reproducible in any
    engine / pure Python (``int(md5(t).hexdigest()[:15], 16) % m``)."""
    return F.pmod(tx.md5_hash60(col), F.lit(n_buckets))


def _stable_sigmoid(m: float) -> float:
    import math
    if m >= 0:
        return 1.0 / (1.0 + math.exp(-m))
    z = math.exp(m)
    return z / (1.0 + z)


def _logloss(m: float, y: int) -> float:
    """Numerically stable -[y ln p + (1-y) ln(1-p)] for margin m."""
    import math
    return max(m, 0.0) - m * y + math.log1p(math.exp(-abs(m)))


def logreg_train(df: DataFrame, text_col: str, label_col: str, *,
                 n_buckets: int = 1 << 18, iters: int = 30,
                 lr: float = 0.5, l2: float = 0.0) -> LogRegModel:
    """Train a hashed bag-of-words logistic-regression quality filter.

    Features: x_b = (occurrences of tokens hashing to bucket b) /
    (doc token count) — the L1-normalized fastText-style document
    vector; empty documents train the bias only.  Full-batch GD:
    w ← w·(1 − lr·l2) − lr·∇/n with ∇ the exact log-loss gradient.

    Scale shape (what survives 100 TB): the featurized corpus —
    per-doc SORTED (bucket, cnt) arrays — is built with one explode +
    two hash aggregates and pinned DISK_ONLY; each iteration is ONE
    map-only pass over the pin (no corpus shuffle, no driver copy of
    the data) whose output is per-partition pre-summed int64 gradient
    entries, ≤ ``n_buckets`` rows however large the corpus.  The dense
    weight vector broadcasts (2 MB at 2^18); iterations cost one corpus
    scan each — the textbook GD trade, amortized by the pin.

    Exactness contract: per-doc margins fold in ascending-bucket order
    in float64, per-doc gradient/loss contributions quantize to the
    1e-9 grid BEFORE summation (int64 sums are associative → layout-
    independent), the driver update is plain float64 — so the whole
    trajectory is bit-reproducible and pytest-pinned against a
    pure-Python reference (test_classify).
    """
    import math

    import numpy as np
    import pandas as pd

    from pyspark import StorageLevel

    if iters < 1:
        raise ValueError("iters must be >= 1")
    spark = df.sparkSession
    y = F.when(F.col(label_col).cast("boolean"), F.lit(1)).otherwise(F.lit(0))
    # __doc is assigned BEFORE the explode (a generator in the same
    # projection would stamp ids on the exploded rows) — it only needs
    # to be unique per input row; the gradient never depends on its
    # value, so layout-dependent ids don't break reproducibility.
    base = (df.select(y.alias("__y"),
                      tx.tokens(F.col(text_col)).alias("__toks"))
            .withColumn("__doc", F.monotonically_increasing_id()))
    feat = (base
            .select("__y", "__doc",
                    F.explode_outer(F.col("__toks")).alias("token"))
            .withColumn("bucket", F.when(F.col("token").isNotNull(),
                                         _lr_bucket(F.col("token"),
                                                    n_buckets)))
            .groupBy("__doc", "__y", "bucket")
            .agg(F.count(F.col("token")).alias("cnt"))
            .groupBy("__doc", "__y")
            .agg(F.sort_array(F.collect_list(
                F.when(F.col("bucket").isNotNull(),
                       F.struct(F.col("bucket"), F.col("cnt")))))
                 .alias("bc"))
            .select("__y", "bc"))
    feat = feat.persist(StorageLevel.DISK_ONLY)

    out_schema = "bucket long, g long"

    def _grad_pass(bv):
        def fn(it):
            w, bias = bv.value
            acc: dict = {}
            for pdf in it:
                for yv, bc in zip(pdf["__y"].to_numpy(), pdf["bc"]):
                    pairs = [] if bc is None else list(bc)
                    n_tok = sum(int(p["cnt"]) for p in pairs)
                    m = bias
                    if n_tok:
                        for p in pairs:  # ascending bucket order (sorted)
                            m += w[int(p["bucket"])] * (int(p["cnt"]) / n_tok)
                    e = _stable_sigmoid(m) - int(yv)
                    for p in pairs:
                        b = int(p["bucket"])
                        q = math.floor(e * (int(p["cnt"]) / n_tok) * GRID9)
                        acc[b] = acc.get(b, 0) + q
                    acc[-1] = acc.get(-1, 0) + math.floor(e * GRID9)
                    acc[-2] = acc.get(-2, 0) + math.floor(
                        _logloss(m, int(yv)) * GRID9)
                    acc[-3] = acc.get(-3, 0) + 1
            if acc:
                yield pd.DataFrame({"bucket": list(acc.keys()),
                                    "g": list(acc.values())})
        return fn

    w = np.zeros(n_buckets, dtype=np.float64)
    bias = 0.0
    history = []
    try:
        for _ in range(iters):
            # a real broadcast, not closure capture: the 2 MB dense
            # vector ships once per executor per iteration, not once
            # per task
            bv = spark.sparkContext.broadcast((w, bias))
            rows = (feat.mapInPandas(_grad_pass(bv), out_schema)
                    .groupBy("bucket").agg(F.sum("g").alias("g"))
                    .collect())
            bv.unpersist()
            tot = {r["bucket"]: r["g"] for r in rows}
            n = tot.pop(-3, 0)
            if n == 0:
                raise ValueError("logreg_train: empty training set")
            loss_q = tot.pop(-2, 0)
            gb = tot.pop(-1, 0)
            history.append(loss_q / GRID9 / n)
            decay = 1.0 - lr * l2
            if l2:
                w *= decay
            for b, g in tot.items():
                w[b] -= lr * ((g / GRID9) / n)
            bias = bias * (decay if l2 else 1.0) - lr * ((gb / GRID9) / n)
    finally:
        feat.unpersist()
    nz = np.flatnonzero(w)
    wdf = spark.createDataFrame(
        [(int(b), float(w[b])) for b in nz], "bucket long, weight double")
    return LogRegModel(wdf, float(bias), n_buckets, history, dense=w)


def logreg_score(df: DataFrame, id_col: str, text_col: str,
                 model: LogRegModel) -> DataFrame:
    """Score documents with a trained ``logreg_train`` model.

    Returns (id, n_tokens, margin, prob): margin = Σ w[bucket(tok)] /
    n_tokens + bias (the L1-normalized linear score — empty docs get
    the bare bias), prob = sigmoid(margin).  Plan shape mirrors
    ``nb_score``: the nonzero weight table broadcasts, the corpus
    explodes map-side, and only (doc, partial-sum) rows shuffle into
    the final hash aggregate.  Buckets absent from the nonzero table
    carry weight 0 by construction.
    """
    tok = df.select(F.col(id_col),
                    F.explode_outer(tx.tokens(F.col(text_col))).alias("token"))
    tok = tok.withColumn(
        "bucket", F.when(F.col("token").isNotNull(),
                         _lr_bucket(F.col("token"), model.n_buckets)))
    contrib = F.when(F.col("token").isNull(), F.lit(0.0)) \
               .otherwise(F.coalesce(F.col("weight"), F.lit(0.0)))
    agg = (tok.join(F.broadcast(model.weights), "bucket", "left")
           .groupBy(id_col)
           .agg(F.count(F.col("token")).alias("n_tokens"),
                F.coalesce(F.sum(contrib), F.lit(0.0)).alias("__ws")))
    margin = (F.when(F.col("n_tokens") > 0,
                     F.col("__ws") / F.col("n_tokens"))
              .otherwise(F.lit(0.0)) + F.lit(model.bias))
    return (agg.withColumn("margin", margin)
            .withColumn("prob",
                        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))))
            .drop("__ws"))


def save_logreg(model: LogRegModel, path: str) -> None:
    """Persist a ``logreg_train`` model as ONE self-contained parquet —
    the train-once / gate-anywhere artifact contract (``bpe.save_merges``
    precedent).  Rows are the nonzero (bucket, weight) coordinates plus
    two sentinel rows: bucket −1 carries the bias, bucket −2 carries
    ``n_buckets`` (real buckets are always ≥ 0, so sentinels can't
    collide)."""
    spark = model.weights.sparkSession
    meta = spark.createDataFrame(
        [(-1, float(model.bias)), (-2, float(model.n_buckets))],
        "bucket long, weight double")
    model.weights.select("bucket", "weight").unionByName(meta) \
        .coalesce(1).write.mode("overwrite").parquet(path)


def load_logreg(spark, path: str) -> LogRegModel:
    """Reload a ``save_logreg`` artifact; the result scores immediately
    (``dense``/``history`` are training-side only and stay None)."""
    df = spark.read.parquet(path)
    meta = {r["bucket"]: r["weight"]
            for r in df.where(F.col("bucket") < 0).collect()}
    if -1 not in meta or -2 not in meta:
        raise ValueError(f"not a logreg artifact (missing sentinels): {path}")
    return LogRegModel(df.where(F.col("bucket") >= 0),
                       float(meta[-1]), int(meta[-2]), [], dense=None)


# ---------------------------------------------------------------------------
# DSIR — importance resampling toward a target distribution.
# ---------------------------------------------------------------------------

def hashed_ngram_dist(df: DataFrame, text_col: str, *, n: int = 2,
                      buckets: int = 8192) -> DataFrame:
    """Hashed word-n-gram distribution of a corpus: (bucket, cnt).

    The DSIR feature space: n-grams hash into a fixed number of
    buckets, so the distribution table is O(buckets) however large the
    corpus — one explode + one hash aggregate.  Uses Spark's native
    hash (not the cross-engine md5-60): DSIR is pytest-verified, and
    the raw feature hash never needs to match another engine.
    Documents with fewer than ``n`` words contribute nothing (mirrors
    ``top_ngrams``); for n = 1 every token counts.
    """
    grams = df.select(
        F.explode(tx.word_shingles(F.col(text_col), n=n)).alias("g"))
    if n > 1:
        grams = grams.where(F.size(F.split(F.col("g"), " ")) == F.lit(n))
    return (grams
            .select(F.pmod(F.hash(F.col("g")), F.lit(buckets)).alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")))


def importance_weights(df: DataFrame, id_col: str, text_col: str,
                       target_dist: DataFrame, raw_dist: DataFrame, *,
                       n: int = 2, buckets: int = 8192,
                       smoothing: float = 1.0) -> DataFrame:
    """Per-document DSIR importance weight in LOG space:
    log w(x) = Σ_grams [ log p_target(bucket) − log p_raw(bucket) ]
    with add-``smoothing`` estimates over ``buckets`` hashed n-gram
    features.  ``target_dist`` / ``raw_dist`` come from
    ``hashed_ngram_dist`` with the SAME (n, buckets).

    Feed the result to ``sampling.weighted_sample_k(...,
    log_weights=True)`` to draw the resampled corpus without ever
    exponentiating (A-ES ordering is exp-free in log space).  Both
    distribution tables are bucket-bounded → broadcast; the corpus
    shuffles only per-doc partial sums.
    """
    t_tot = target_dist.agg(F.sum("cnt").alias("__tt"))
    r_tot = raw_dist.agg(F.sum("cnt").alias("__rt"))
    b = F.lit(float(buckets)) * F.lit(smoothing)
    lw = (target_dist.withColumnRenamed("cnt", "__tc")
          .join(raw_dist.withColumnRenamed("cnt", "__rc"), "bucket", "full")
          .crossJoin(F.broadcast(t_tot)).crossJoin(F.broadcast(r_tot))
          .select("bucket",
                  (F.log((F.coalesce("__tc", F.lit(0)) + F.lit(smoothing))
                         / (F.col("__tt") + b))
                   - F.log((F.coalesce("__rc", F.lit(0)) + F.lit(smoothing))
                           / (F.col("__rt") + b))).alias("__lw")))
    # unseen-bucket weight (both counts zero) for grams hashing to a
    # bucket absent from BOTH tables
    unk = (t_tot.crossJoin(r_tot)
           .select((F.log(F.lit(smoothing) / (F.col("__tt") + b))
                    - F.log(F.lit(smoothing) / (F.col("__rt") + b)))
                   .alias("__unk")))
    grams = df.select(
        F.col(id_col),
        F.explode_outer(tx.word_shingles(F.col(text_col), n=n)).alias("g"))
    if n > 1:
        grams = grams.withColumn(
            "g", F.when(F.size(F.split(F.col("g"), " ")) == F.lit(n),
                        F.col("g")))
    grams = grams.withColumn(
        "bucket", F.pmod(F.hash(F.col("g")), F.lit(buckets)))
    contrib = F.when(F.col("g").isNull(), F.lit(0.0)) \
               .otherwise(F.coalesce(F.col("__lw"), F.col("__unk")))
    return (
        grams.join(F.broadcast(lw), "bucket", "left")
        .crossJoin(F.broadcast(unk))
        .groupBy(id_col)
        .agg(F.count(F.col("g")).alias("n_grams"),
             F.coalesce(F.sum(contrib), F.lit(0.0)).alias("log_weight"))
    )
