"""Corpus-preparation queries over ``documents``: deterministic splits
and sampling (q46), chunking (q47), decontamination (q48), and corpus
term statistics — per-doc TF-IDF plus corpus n-grams (q49).

Every oracle mirrors the Spark expression tree exactly: md5-60-bit
hashing for splits/sampling, single-space-joined ``\\s+`` word shingles
for n-grams, and linear idf (IEEE mul/div only — correctly rounded,
hence bit-identical cross-engine; see operators/corpus.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.operators import corpus as cp
from tradingview_data_pipeline_spark.operators import sampling as sp
from tradingview_data_pipeline_spark.operators import text as tx
from tradingview_data_pipeline_spark.plans.analytics import (
    register, _t, _t_wide, table_rows)

# \S+ extraction, mirroring tx.tokens — trim()+split leaves a phantom
# "" token for tab/newline-leading text in BOTH engines (trim strips
# spaces only), shifting word positions (r8 review finding)
_TOK_W = "regexp_extract_all(text, '\\S+')"


def _grams_sql(n: int) -> str:
    """DuckDB word n-grams from token array ``w`` (empty when < n words,
    matching the Spark-side exact-n filter)."""
    joined = " || ' ' || ".join(f"w[i+{j}]" for j in range(1, n + 1))
    return (f"CASE WHEN len(w) >= {n} THEN "
            f"list_transform(range(len(w)-{n - 1}), i -> {joined}) "
            f"ELSE [] END")


_H60S = "('0x' || substr(md5('{salt}' || CAST({col} AS VARCHAR)), 1, 15))::BIGINT"


# ---------------------------------------------------------------------------
# q46 — deterministic sampling suite in one pass: train/val/test hash
# split (80/10/10), an independent 10% Bernoulli hash-sample flag, and
# the per-language 20-doc uniform sample rank (hash-ranked window; NULL
# when outside the sample).  Pure projections plus ONE shuffle on lang:
# the same row gets the same split/sample on any cluster layout, and
# re-running over a grown corpus never reassigns old rows.
# (Consolidates the former q46 + q54.)
# ---------------------------------------------------------------------------

_Q46_SPLIT_SQL = f"""
WITH h AS (
  SELECT doc_id, lang,
         {_H60S.format(salt='split', col='doc_id')} % 100 AS split_bucket,
         {_H60S.format(salt='sample', col='doc_id')} % 1000000 AS sv,
         {_H60S.format(salt='gk', col='doc_id')} AS gv
  FROM documents
), r AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY gv ASC, doc_id ASC)
           AS sample_rank
  FROM h
)
SELECT h.doc_id, h.lang,
       CASE WHEN split_bucket < 80 THEN 'train'
            WHEN split_bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       split_bucket,
       sv < 100000 AS in_sample,
       CASE WHEN r.sample_rank <= 20 THEN r.sample_rank END AS lang_sample_rank
FROM h JOIN r USING (doc_id)
"""

_Q47_CHUNK_SQL = """
SELECT doc_id,
       (cs - 1) // 150 AS chunk_idx,
       cs AS chunk_start,
       substring(text, CAST(cs AS INT), 200) AS chunk_text,
       length(substring(text, CAST(cs AS INT), 200)) AS chunk_len
FROM documents,
     LATERAL (SELECT unnest(generate_series(1, greatest(length(text), 1), 150)) AS cs) t
"""


#: q46 'mixture' leg constants — integer weights so every threshold is
#: exact bigint arithmetic in BOTH engines (src5..src19 deliberately
#: unweighted -> dropped; at sf0.01's 25 docs/source the rates span
#: 3 full epochs, 1.5, 0.75, and 0.375)
_MIX_WEIGHTS = {"src0": 8, "src1": 4, "src2": 2, "src3": 1, "src4": 1}
_MIX_TOTAL = 150
_MIX_SUMW = sum(_MIX_WEIGHTS.values())
_MIX_VALUES = ", ".join(f"('{s}', {w})" for s, w in _MIX_WEIGHTS.items())

_Q46_MIXTURE_SQL = f"""
WITH mxw(source, wgt) AS (VALUES {_MIX_VALUES}),
mxc AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
mxp AS (
  SELECT c.source,
         ({_MIX_TOTAL}::BIGINT * wgt) // ({_MIX_SUMW}::BIGINT * n) AS epochs,
         (1000000 * (({_MIX_TOTAL}::BIGINT * wgt) % ({_MIX_SUMW}::BIGINT * n)))
           // ({_MIX_SUMW}::BIGINT * n) AS thr
  FROM mxc c JOIN mxw USING (source)
),
mxd AS (
  SELECT d.doc_id, d.source,
         CAST(epochs + CASE WHEN {_H60S.format(salt='mix', col='doc_id')}
              % 1000000 < thr THEN 1 ELSE 0 END AS BIGINT) AS n_copies
  FROM documents d JOIN mxp USING (source)
)
SELECT doc_id, source, n_copies, CAST(ci AS BIGINT) AS copy_idx
FROM mxd, LATERAL (SELECT unnest(generate_series(1, CAST(n_copies AS INT))) AS ci) t
WHERE n_copies >= 1
"""


@register("q46_corpus_prep", oracle=f"""
WITH sp AS ({_Q46_SPLIT_SQL}), ch AS ({_Q47_CHUNK_SQL}),
dd AS (
  SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_doc_id,
         COUNT(*) AS copies
  FROM documents GROUP BY md5(text)
), mx AS ({_Q46_MIXTURE_SQL})
SELECT 'split' AS kind, doc_id, lang AS s1, split AS s2,
       split_bucket AS n1, CAST(NULL AS BIGINT) AS n2,
       in_sample AS flag, lang_sample_rank AS rank
FROM sp
UNION ALL
SELECT 'chunk' AS kind, doc_id, chunk_text AS s1, CAST(NULL AS VARCHAR) AS s2,
       chunk_idx AS n1, chunk_start AS n2,
       CAST(NULL AS BOOLEAN) AS flag, chunk_len AS rank
FROM ch
UNION ALL
SELECT 'dedup' AS kind, keeper_doc_id AS doc_id, content_hash AS s1,
       CAST(NULL AS VARCHAR) AS s2, copies AS n1, CAST(NULL AS BIGINT) AS n2,
       CAST(NULL AS BOOLEAN) AS flag, CAST(NULL AS BIGINT) AS rank
FROM dd
UNION ALL
SELECT 'mixture' AS kind, doc_id, source AS s1, CAST(NULL AS VARCHAR) AS s2,
       n_copies AS n1, copy_idx AS n2,
       CAST(NULL AS BOOLEAN) AS flag, CAST(NULL AS BIGINT) AS rank
FROM mx
""")
def q46_corpus_prep(spark, sf_dir):
    """Tagged union (round-6 consolidation #7 + round-8 #11,
    COVERAGE.md map): 'split' — deterministic sampling suite in one
    pass (hash split, Bernoulli flag, per-language 20-doc uniform
    sample rank); 'chunk' — overlapping fixed-size chunking (200-char
    windows, 50 overlap; map-side sequence + posexplode, no shuffle);
    'dedup' — exact content-hash dedup groups (the old q17: digest
    groupBy shuffles only the 32-byte hash + key, never the text);
    'mixture' — domain-mixture resampling (sampling.mixture_sample:
    exact-bigint epoch/threshold arithmetic, broadcast params join +
    map-side sequence explode — the corpus is never shuffled)."""
    from tradingview_data_pipeline_spark.plans.analytics import q17_dedup_exact
    dedup = q17_dedup_exact(spark, sf_dir).select(
        F.lit("dedup").alias("kind"),
        F.col("keeper_doc_id").alias("doc_id"),
        F.col("content_hash").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
        F.col("copies").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.lit(None).cast("boolean").alias("flag"),
        F.lit(None).cast("bigint").alias("rank"))
    split = _q46_split_sample(spark, sf_dir).select(
        F.lit("split").alias("kind"), "doc_id",
        F.col("lang").alias("s1"), F.col("split").alias("s2"),
        F.col("split_bucket").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.col("in_sample").alias("flag"),
        F.col("lang_sample_rank").alias("rank"))
    chunk = _q47_chunking(spark, sf_dir).select(
        F.lit("chunk").alias("kind"), "doc_id",
        F.col("chunk_text").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
        F.col("chunk_idx").alias("n1"), F.col("chunk_start").alias("n2"),
        F.lit(None).cast("boolean").alias("flag"),
        F.col("chunk_len").alias("rank"))
    mixture = sp.mixture_sample(
        _t(spark, sf_dir, "documents"), "doc_id", "source",
        _MIX_WEIGHTS, _MIX_TOTAL).select(
        F.lit("mixture").alias("kind"), "doc_id",
        F.col("source").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
        F.col("n_copies").alias("n1"), F.col("copy_idx").alias("n2"),
        F.lit(None).cast("boolean").alias("flag"),
        F.lit(None).cast("bigint").alias("rank"))
    return split.unionByName(chunk).unionByName(dedup).unionByName(mixture)


def _q46_split_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = sp.hash_split(d, "doc_id", {"train": 80, "val": 90, "test": 100})
    out = out.withColumn(
        "in_sample",
        sp.hash60(F.col("doc_id"), "sample") % F.lit(1_000_000) < F.lit(100_000))
    ranks = sp.sample_k_per_group(d, ["lang"], "doc_id", k=20) \
              .select("doc_id",
                      F.col("sample_rank").cast("bigint").alias("lang_sample_rank"))
    return (out.join(ranks, "doc_id", "left")
            .select("doc_id", "lang", "split", "split_bucket", "in_sample",
                    "lang_sample_rank"))


# ---------------------------------------------------------------------------
# q47 (merged into q46_corpus_prep) — overlapping fixed-size chunking
# (200-char windows, 50 overlap): map-side sequence + posexplode, no
# shuffle at all.
# ---------------------------------------------------------------------------

def _q47_chunking(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = cp.chunk_text(d, "doc_id", "text", size=200, overlap=50)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("chunk_start").cast("bigint").alias("chunk_start"),
        "chunk_text",
        F.col("chunk_len").cast("bigint").alias("chunk_len"))


# ---------------------------------------------------------------------------
# q48 — decontamination, tagged union (round 9 adds the 'bloom' leg):
#   'exact' — flag corpus docs (doc_id % 20 != 0) sharing any word
#             5-gram with the held-out benchmark slice (doc_id % 20
#             == 0); joins 60-bit gram hashes, not strings.
#   'bloom' — the 100-TB prefilter, value-verified: a DETERMINISTIC
#             Bloom filter over the benchmark grams (operators/
#             bloom.py — Kirsch-Mitzenmacher (h1 + i*h2) % n_bits over
#             two md5-slice hashes, 63-bit words so << never overflows
#             a DuckDB BIGINT) is rebuilt bit-for-bit by the oracle as
#             a bit_or-per-word aggregate, and per contaminated-or-not
#             corpus doc the leg emits (candidate grams passing all k
#             probes, total distinct grams). Candidates ⊇ exact hits
#             by construction; the hash compare pins the exact
#             false-positive tail cross-engine.
# n_bits=64512 (1024 63-bit words), k=4 — static so both engines size
# identically; the library's bloom_parameters covers adaptive sizing.
# ---------------------------------------------------------------------------

_Q48_BITS = 63 * 1024
_Q48_K = 4

@register("q48_decontamination", oracle=f"""
WITH tok AS (
  SELECT doc_id, {_TOK_W} AS w FROM documents
), grams AS (
  SELECT doc_id, unnest({_grams_sql(5)}) AS g FROM tok
), hp AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT AS h1,
         ('0x' || substr(md5(g), 16, 15))::BIGINT AS h2
  FROM grams
), corp AS (SELECT doc_id, h1, h2 FROM hp WHERE doc_id % 20 <> 0),
bmark AS (SELECT DISTINCT h1, h2 FROM hp WHERE doc_id % 20 = 0),
pos AS (
  SELECT (h1 + i * h2) % {_Q48_BITS} AS p FROM bmark, range({_Q48_K}) r(i)
), bw AS MATERIALIZED (
  SELECT p // 63 AS w,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS bits
  FROM pos GROUP BY p // 63
), cpos AS (
  SELECT doc_id, h1, (h1 + i * h2) % {_Q48_BITS} AS p
  FROM corp, range({_Q48_K}) r(i)
), kset AS (
  SELECT doc_id, h1, COUNT(*) AS ks
  FROM cpos JOIN bw ON bw.w = cpos.p // 63
       AND (bw.bits & (CAST(1 AS BIGINT) << CAST(cpos.p % 63 AS INT))) <> 0
  GROUP BY doc_id, h1
), cand AS (SELECT doc_id, h1 FROM kset WHERE ks = {_Q48_K}),
tot AS (SELECT doc_id, COUNT(DISTINCT h1) AS n FROM corp GROUP BY doc_id)
SELECT 'exact' AS kind, c.doc_id AS doc_id,
       COUNT(DISTINCT c.h1) AS v1,
       COUNT(DISTINCT b.doc_id) AS v2
FROM corp c JOIN hp b ON b.h1 = c.h1 AND b.doc_id % 20 = 0
GROUP BY c.doc_id
UNION ALL
SELECT 'bloom' AS kind, t.doc_id,
       CAST(COALESCE(cc.n_cand, 0) AS BIGINT) AS v1,
       CAST(t.n AS BIGINT) AS v2
FROM tot t LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n_cand FROM cand GROUP BY doc_id
) cc USING (doc_id)
""")
def q48_decontamination(spark, sf_dir):
    from tradingview_data_pipeline_spark.operators import bloom as bl

    d = _t(spark, sf_dir, "documents")
    benchmark = d.where(F.col("doc_id") % 20 == 0)
    rest = d.where(F.col("doc_id") % 20 != 0)

    def grams(part: DataFrame) -> DataFrame:
        g = part.select(
            "doc_id",
            F.explode(tx.word_shingles(F.col("text"), n=5)).alias("g"))
        return g.where(F.size(F.split(F.col("g"), " ")) == F.lit(5))

    h1, h2 = bl.hash_pair(F.col("g"))
    bwords = bl.build_bloom(grams(benchmark).select("g").distinct(),
                            h1, h2, n_bits=_Q48_BITS, k=_Q48_K)
    # hash BEFORE the distinct so the shuffle carries (doc, 8B, 8B)
    # rows, never gram strings; pin the frame — it feeds the exact
    # leg (via decontaminate's corpus_hashes fast path: h1 IS the
    # md5-60 gram hash) plus `cand` and `tot`, with DIFFERENT pushed
    # filters per consumer, which defeats exchange reuse (the
    # q74/NOTES-34 rule) — unpinned it re-ran the explode + distinct
    # per consumer (measured 2.8x on the r9 bench).  One corpus gram
    # pass now serves BOTH legs.
    from pyspark import StorageLevel

    from tradingview_data_pipeline_spark.operators import pins
    ch1, ch2 = bl.hash_pair(F.col("g"))
    corp = (grams(rest)
            .select("doc_id", ch1.alias("h1"), ch2.alias("h2"))
            .distinct())
    corp = pins.track(corp.persist(StorageLevel.DISK_ONLY))

    exact = cp.decontaminate(
        rest, benchmark, "doc_id", "text", n=5,
        corpus_hashes=corp.select("doc_id", F.col("h1").alias("h")))
    exact_leg = exact.select(
        F.lit("exact").alias("kind"), "doc_id",
        F.col("n_hits").alias("v1"),
        F.col("n_benchmark_docs").alias("v2"))
    # every corpus doc rides the leg (v1 = 0 when no gram passes the
    # filter) — the hash then pins the filter's exact bit pattern over
    # the WHOLE corpus, not just the contaminated tail.
    # r13 tiny-exchange collapse (guide §2.4): bloom membership is a
    # per-ROW predicate over the pinned corp frame, so candidate and
    # total distinct-gram counts come out of ONE aggregate chain —
    # dedup to (doc, h1) keeping whether ANY (h1, h2) row passes all k
    # probes (h1 repeats within a doc only on a 60-bit collision, where
    # OR-across-rows is exactly COUNT(DISTINCT CASE WHEN ...) semantics),
    # then count per doc — instead of two countDistinct aggregates plus
    # a doc-keyed left join. No Expand, no distinct-rewrite machinery.
    is_cand = bl.bloom_contains(
        F.col("h1"), F.col("h2"), bwords, n_bits=_Q48_BITS, k=_Q48_K)
    per_h1 = (corp.select("doc_id", "h1", is_cand.alias("__cand"))
              .groupBy("doc_id", "h1")
              .agg(F.max("__cand").alias("__cand")))
    bloom_leg = (per_h1.groupBy("doc_id")
                 .agg(F.sum(F.when(F.col("__cand"), 1).otherwise(0))
                      .alias("__c"),
                      F.count(F.lit(1)).alias("__n"))
                 .select(F.lit("bloom").alias("kind"), "doc_id",
                         F.col("__c").alias("v1"),
                         F.col("__n").alias("v2")))
    return exact_leg.unionByName(bloom_leg)


# ---------------------------------------------------------------------------
# q49 — corpus term statistics, both granularities tagged and unioned:
# per-document TF-IDF top-3 characteristic terms (scope='doc'; linear
# idf: score = tf * (N/df), IEEE-exact cross-engine; log-idf variant is
# pytest-verified in tests/test_temporal_corpus_vectors.py) and the
# corpus-wide top-20 word bigrams (scope='corpus'; explode + hash agg +
# TakeOrderedAndProject, deterministic tie-break on the bigram).
# (Consolidates the former q49 + q51.)
# ---------------------------------------------------------------------------

@register("q49_corpus_terms", oracle=f"""
WITH tok AS (
  SELECT doc_id,
         unnest({_TOK_W}) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
), nd AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         CAST(tf.tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
           AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS term_rank
  FROM scored
), tokw AS (
  SELECT doc_id, {_TOK_W} AS w FROM documents
), grams AS (
  SELECT unnest({_grams_sql(2)}) AS ngram FROM tokw
), topg AS (
  SELECT ngram, COUNT(*) AS cnt FROM grams
  GROUP BY ngram ORDER BY cnt DESC, ngram ASC LIMIT 20
)
SELECT 'doc' AS scope, doc_id, term, tf, df, score,
       CAST(term_rank AS BIGINT) AS rk
FROM ranked WHERE term_rank <= 3
UNION ALL
SELECT 'corpus', NULL::BIGINT, ngram, cnt, NULL::BIGINT, NULL::DOUBLE,
       NULL::BIGINT
FROM topg
""")
def q49_corpus_terms(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    doc = cp.tfidf_top_terms(d, "doc_id", "text", k=3).select(
        F.lit("doc").alias("scope"), "doc_id", "term",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("df").cast("bigint").alias("df"),
        "score",
        F.col("term_rank").cast("bigint").alias("rk"))
    corpus = cp.top_ngrams(d, "text", n=2, k=20).select(
        F.lit("corpus").alias("scope"),
        F.lit(None).cast("bigint").alias("doc_id"),
        F.col("ngram").alias("term"),
        F.col("cnt").cast("bigint").alias("tf"),
        F.lit(None).cast("bigint").alias("df"),
        F.lit(None).cast("double").alias("score"),
        F.lit(None).cast("bigint").alias("rk"))
    return doc.unionByName(corpus)




# ---------------------------------------------------------------------------
# q71 — BM25 relevance ranking (rational-idf variant; see
# operators/corpus.bm25_scores for the determinism argument): top-50
# documents for a fixed 3-term probe query. One map pass + one broadcast
# stats row + TakeOrderedAndProject — a scan, not a shuffle, at scale.
# The oracle rebuilds the IDENTICAL expression tree (same parenthesis
# order, every constant CAST AS DOUBLE so DuckDB doesn't parse decimal
# literals into DECIMAL arithmetic).
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "query", "fast"]
_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 50


def _bm25_ctes() -> str:
    """The shared BM25 scoring CTE chain (``perdoc``, ``stats``,
    ``scored``) — used by q71's full profile and q82's rank leg."""
    terms = _BM25_TERMS
    tf_defs = ", ".join(
        f"CAST(len(list_filter(w, t -> t = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(terms))
    df_defs = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(terms)))
    d = "CAST({} AS DOUBLE)"
    avgdl = f"({d.format('sum_dl')} / {d.format('n_docs')})"
    dl_norm = (f"({d.format(repr(1.0 - _BM25_B))} + "
               f"{d.format(repr(_BM25_B))} * ({d.format('dl')} / {avgdl}))")
    parts = []
    for i in range(len(terms)):
        idf = (f"(({d.format(f'n_docs - df_{i}')} + {d.format('0.5')}) / "
               f"({d.format(f'df_{i}')} + {d.format('0.5')}))")
        s_i = (f"{idf} * (({d.format(f'tf_{i}')} * "
               f"{d.format(repr(_BM25_K1 + 1.0))}) / ({d.format(f'tf_{i}')} + "
               f"{d.format(repr(_BM25_K1))} * {dl_norm}))")
        parts.append(s_i)
    score = parts[0]
    for p in parts[1:]:
        score = f"({score} + {p})"
    tf_cols = ", ".join(f"tf_{i}" for i in range(len(terms)))
    return f"""perdoc AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, {tf_defs}
  FROM (SELECT doc_id, {_TOK_W} AS w FROM documents)
), stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl, {df_defs}
  FROM perdoc
), scored AS (
  SELECT doc_id, dl, {tf_cols}, {score} AS score
  FROM perdoc CROSS JOIN stats
)"""


def _bm25_oracle() -> str:
    tf_cols = ", ".join(f"tf_{i}" for i in range(len(_BM25_TERMS)))
    return f"""
WITH {_bm25_ctes()}
SELECT doc_id, dl, {tf_cols}, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= {_BM25_K}
"""


@register("q71_bm25_rank", oracle=_bm25_oracle())
def q71_bm25_rank(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return cp.bm25_scores(d, "doc_id", "text", _BM25_TERMS,
                          k1=_BM25_K1, b=_BM25_B, k=_BM25_K)


# ---------------------------------------------------------------------------
# q72 — substring-level duplication, tagged union (round-9 'containment'
# leg added):
#   'profile'     — per-document count/fraction of word 8-gram spans
#                   shared with another document (operators/corpus.
#                   dup_span_profile) — the n-gram-granular
#                   approximation of suffix-array substring dedup,
#                   catching boilerplate spans document-level MinHash
#                   (q28) misses;
#   'containment' — directed near-containment pairs over the same
#                   gram counts: docs >= 50% of whose in-universe
#                   8-grams appear in the partner — the ASYMMETRIC
#                   measure (Broder 1997) that flags a short doc quoted
#                   wholesale inside a larger one, which Jaccard
#                   resemblance scores near zero. Universe capped at
#                   gram-df <= 100 (numerator AND denominator — the
#                   deterministic definition + quadratic-fanout guard).
# Unified schema (kind, doc_id, partner_id, c1, c2, frac): profile rows
# carry partner NULL, c1/c2 = n_spans/n_dup_spans, frac = dup_frac;
# containment rows carry c1/c2 = shared/n_grams, frac = containment.
# Integer counts + one exact division per row; linear in corpus tokens
# plus the df-capped pair join.
# ---------------------------------------------------------------------------

_Q72_CTHRESH, _Q72_CCAP = 0.5, 100

@register("q72_dup_spans", oracle=f"""
WITH tok AS (
  SELECT doc_id, {_TOK_W} AS w FROM documents
), grams AS (
  SELECT doc_id,
         ('0x' || substr(md5(unnest({_grams_sql(8)})), 1, 15))::BIGINT AS h
  FROM tok
), pg AS (
  SELECT doc_id, h, COUNT(*) AS c FROM grams GROUP BY doc_id, h
), nd AS (
  SELECT h, COUNT(*) AS nd FROM pg GROUP BY h
), prof AS (
  SELECT pg.doc_id,
         CAST(SUM(c) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT)
           AS n_dup_spans
  FROM pg JOIN nd USING (h)
  GROUP BY pg.doc_id
), gk AS (
  SELECT pg.doc_id, pg.h
  FROM pg JOIN nd USING (h)
  WHERE nd.nd BETWEEN 2 AND {_Q72_CCAP}
), sz AS (
  SELECT doc_id, COUNT(*) AS ng FROM gk GROUP BY doc_id
), sh AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
  FROM gk a JOIN gk b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), dirp AS (
  SELECT da AS doc_id, db AS partner_id, shared FROM sh
  UNION ALL
  SELECT db, da, shared FROM sh
), cont AS (
  SELECT dirp.doc_id, partner_id, CAST(shared AS BIGINT) AS shared,
         CAST(ng AS BIGINT) AS ng,
         CAST(shared AS DOUBLE) / CAST(ng AS DOUBLE) AS containment
  FROM dirp JOIN sz USING (doc_id)
)
SELECT 'profile' AS kind, d.doc_id, NULL::BIGINT AS partner_id,
       COALESCE(n_spans, 0) AS c1,
       COALESCE(n_dup_spans, 0) AS c2,
       CASE WHEN COALESCE(n_spans, 0) > 0
            THEN CAST(n_dup_spans AS DOUBLE) / CAST(n_spans AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS frac
FROM documents d LEFT JOIN prof ON prof.doc_id = d.doc_id
UNION ALL
SELECT 'containment', doc_id, partner_id, shared, ng, containment
FROM cont WHERE containment >= {_Q72_CTHRESH}
""")
def q72_dup_spans(spark, sf_dir):
    from pyspark import StorageLevel

    from tradingview_data_pipeline_spark.operators import pins
    d = _t(spark, sf_dir, "documents")
    # both legs consume the tokenize+explode+first-shuffle substrate
    # with DIFFERENT downstream aggregates (multiplicity-weighted vs
    # distinct-set), which defeats exchange reuse — pin the compact
    # (doc, 8-byte hash, count) frame once (NOTES-31/34 rule; measured
    # 11.9 -> ~6 s at the 5k-doc decade). The substrate shuffle is
    # sized by corpus (parquet-footer row count — driver-side metadata,
    # no Spark action; the advisor-caught d.count() re-scanned the
    # corpus per run): ~90 grams/doc ÷ ~1.5M rows/partition; the
    # session's 32-wide default OOMs the per-task sort at the 5M-doc
    # decade. Below the session width the hint is DISABLED (None): the
    # extra repartition exchanges cost ~2x at the 5k-doc decade
    n_parts = int(table_rows(sf_dir, "documents") * 90 // 1_500_000)
    if n_parts <= 32:
        n_parts = None
    pg = pins.track(cp.span_gram_counts(d, "doc_id", "text", n=8,
                                        partitions=n_parts)
                    .persist(StorageLevel.DISK_ONLY))
    # the by-h doc-frequency aggregate is the OTHER heavy shuffle both
    # legs need (profile filters nd>=2, containment nd in [2, cap]) —
    # same compute-once contract as the substrate (review catch, r9)
    pgh = pg.repartition(n_parts, "h") if n_parts else pg
    ndf = pgh.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
    # r13 tiny-exchange collapse (guide §2.4): attach nd to every
    # (doc, h, c) row ONCE and pin the joined frame — it serves all
    # three downstream consumers (the per-doc stats aggregate and both
    # sides of the containment self-join). Previously the profile leg
    # ran THREE per-doc aggregates (n_spans, n_dup_spans, containment
    # sizes) over separate pg/pg⋈nd frames plus two document-side
    # joins; one aggregate now computes all three stats, so two
    # corpus-gram-sized exchanges and one doc-level join disappear.
    # At decade scale pgh and ndf are both hash-partitioned by h (the
    # explicit width hint / the aggregate's own exchange), so the
    # attach join adds no exchange there either.
    pgn = pins.track(pgh.join(ndf, "h").persist(StorageLevel.DISK_ONLY))
    docstats = (pgn.groupBy("doc_id")
                .agg(F.sum("c").alias("n_spans"),
                     F.sum(F.when(F.col("nd") >= 2, F.col("c"))
                           .otherwise(F.lit(0))).alias("n_dup_spans"),
                     F.count(F.when((F.col("nd") >= 2)
                                    & (F.col("nd") <= _Q72_CCAP),
                                    F.lit(1))).alias("n_grams")))
    n_spans = F.coalesce(F.col("n_spans"), F.lit(0))
    profile = (d.select("doc_id").join(docstats, "doc_id", "left")
               .select(F.lit("profile").alias("kind"), "doc_id",
                       F.lit(None).cast("bigint").alias("partner_id"),
                       n_spans.alias("c1"),
                       F.coalesce(F.col("n_dup_spans"), F.lit(0)).alias("c2"),
                       F.when(n_spans > 0,
                              F.col("n_dup_spans").cast("double")
                              / F.col("n_spans").cast("double"))
                       .otherwise(F.lit(0.0)).alias("frac")))
    # containment over the df-capped universe (kept = grams with nd in
    # [2, cap]); the denominator n_grams comes from the combined
    # aggregate, not a groupBy pass of its own
    kept = (pgn.where((F.col("nd") >= 2) & (F.col("nd") <= _Q72_CCAP))
            .select("doc_id", "h"))
    a = kept.select(F.col("doc_id").alias("_ida"), "h")
    b = kept.select(F.col("doc_id").alias("_idb"), "h")
    shared = (a.join(b, "h")
              .where(F.col("_ida") < F.col("_idb"))
              .groupBy("_ida", "_idb")
              .agg(F.count(F.lit(1)).alias("shared")))
    directed = shared.unionByName(
        shared.select(F.col("_idb").alias("_ida"),
                      F.col("_ida").alias("_idb"), "shared"))
    sizes = (docstats.where(F.col("n_grams") > 0)
             .select(F.col("doc_id").alias("_ida"), "n_grams"))
    cont = (directed.join(sizes, "_ida")
            .withColumn("containment",
                        F.col("shared").cast("double")
                        / F.col("n_grams").cast("double"))
            .where(F.col("containment") >= F.lit(_Q72_CTHRESH))
            .select(F.lit("containment").alias("kind"),
                    F.col("_ida").alias("doc_id"),
                    F.col("_idb").alias("partner_id"),
                    F.col("shared").alias("c1"),
                    F.col("n_grams").alias("c2"),
                    F.col("containment").alias("frac")))
    return profile.unionByName(cont)


# ---------------------------------------------------------------------------
# q73 — duplicate-span REMOVAL, tagged union over BOTH cut policies
# (operators/corpus.remove_dup_spans): the action half of q72 — every
# word position covered by a cross-document shared 8-gram is excised
# and the text rebuilt from the survivors. 'cut' removes every copy;
# 'keepone' protects occurrences in the min-doc_id owner (suffix-array
# dedup's keep-one-copy rule with a deterministic owner). Registered in
# the slot freed by the q7+q11 merge. The oracle recomputes coverage
# positionally with the identical md5-60 gram hash, then rebuilds via
# an anti-join on (doc, word position).
# ---------------------------------------------------------------------------

_Q73_GRAM = " || ' ' || ".join(f"w[i+{j}]" for j in range(1, 9))

def _q73_leg(kind: str, owner_filter: str) -> str:
    return f"""
  SELECT '{kind}' AS kind, tok.doc_id,
         COALESCE(reb.text_clean, '') AS text_clean,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(len(w) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed
  FROM tok LEFT JOIN (
    SELECT words.doc_id,
           string_agg(word, ' ' ORDER BY pos) AS text_clean,
           COUNT(*) AS n_kept
    FROM words
    ANTI JOIN (
      SELECT DISTINCT grams.doc_id, pos + j AS p
      FROM grams JOIN shared USING (h),
           LATERAL (SELECT unnest(range(8)) AS j) u
      {owner_filter}
    ) covered ON covered.doc_id = words.doc_id
             AND covered.p = words.pos
    GROUP BY words.doc_id
  ) reb ON reb.doc_id = tok.doc_id"""

@register("q73_dup_span_removal", oracle=f"""
WITH tok AS (
  SELECT doc_id, {_TOK_W} AS w FROM documents
), grams AS (
  SELECT doc_id, i AS pos,
         ('0x' || substr(md5({_Q73_GRAM}), 1, 15))::BIGINT AS h
  FROM tok, LATERAL (SELECT unnest(range(len(w) - 7)) AS i) t
  WHERE len(w) >= 8
), shared AS (
  SELECT h, owner FROM (
    SELECT h, COUNT(*) AS nd, MIN(doc_id) AS owner
    FROM (SELECT DISTINCT doc_id, h FROM grams) GROUP BY h)
  WHERE nd >= 2
), words AS (
  SELECT doc_id, i AS pos, w[i+1] AS word
  FROM tok, LATERAL (SELECT unnest(range(len(w))) AS i) t
)
{_q73_leg('cut', '')}
UNION ALL
{_q73_leg('keepone', 'WHERE grams.doc_id <> shared.owner')}
""")
def q73_dup_span_removal(spark, sf_dir):
    from pyspark import StorageLevel

    from tradingview_data_pipeline_spark.operators import pins
    d = _t(spark, sf_dir, "documents")
    # same size-gated width hint as q72 (SCALING addendum 22): the
    # positional gram SMJ OOMs at the 5M-doc decade on the session's
    # small-data shuffle width; sized from the parquet footer, not a
    # count() action
    n_parts = int(table_rows(sf_dir, "documents") * 90 // 1_500_000)
    if n_parts <= 32:
        n_parts = None
    # the two cut policies differ ONLY in the owner filter on the
    # cutting frame — unshared, each leg re-ran the tokenize + shingle
    # + md5 positional-gram pass AND the shared-gram aggregate from
    # scratch (guide §2.4; the q72 substrate rule). Pin the (id, pos,
    # 8-byte h) stream and the tiny (h, owner) table once; both legs'
    # joins read the pins.
    gp = cp.gram_positions(d, "doc_id", "text", n=8)
    if n_parts is not None:
        gp = gp.repartition(n_parts, F.col("h"))
    gp = pins.track(gp.persist(StorageLevel.DISK_ONLY))
    shared = pins.track(cp.shared_gram_owners(gp, "doc_id", min_docs=2)
                        .persist(StorageLevel.DISK_ONLY))
    # r13: pin the JOINED cutting frame too — the two legs' owner
    # filters push into the gp⋈shared join differently (NOTES-31), so
    # with only gp/shared pinned each leg still re-ran the join; both
    # legs now read one materialization of the (doc, pos, owner) rows.
    cutting = pins.track(gp.join(shared, "h")
                         .persist(StorageLevel.DISK_ONLY))

    def leg(kind, **kw):
        return cp.remove_dup_spans(d, "doc_id", "text", n=8,
                                   cutting=cutting, **kw) \
            .select(F.lit(kind).alias("kind"), "doc_id", "text_clean",
                    "n_words", "n_removed")

    return leg("cut").unionByName(leg("keepone", keep_min_doc=True))


# ---------------------------------------------------------------------------
# q74 — token-rarity corpus-frequency profile
# (operators/corpus.token_rarity_profile): the exact-arithmetic stand-in
# for LM-perplexity filtering — occurrence-weighted mean token document
# frequency + the fraction of occurrences whose token appears in no other
# document. Registered in the slot freed by the q17+q46 merge (round-8
# consolidation #11). The engine shuffles md5-60 token hashes (8 bytes,
# never strings); the oracle groups by the token string itself — the two
# agree except on a 60-bit collision (P ~ vocab^2/2^61, the q48/q72
# acceptance). Fractions are integer sums + one terminal IEEE division:
# deterministic on any layout / engine. Round 8 adds the BIGRAM-LM
# columns (corpus.bigram_lm_profile — the conditional-probability half
# of the perplexity stand-in): per bigram occurrence the quantized
# floor(1e6 * count(w1 w2) / count(w1 ·)) summed as BIGINT — the q78
# quantized-ratio exactness contract, so the oracle recomputes it
# bit-identically on the strings.
# ---------------------------------------------------------------------------

@register("q74_token_rarity", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK_W}) AS w FROM documents
), per_tok AS (
  SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w
), dfreq AS (
  SELECT w, COUNT(*) AS tdf FROM per_tok GROUP BY w
), per AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(SUM(c * tdf) AS BIGINT) AS sum_df,
         CAST(SUM(CASE WHEN tdf = 1 THEN c ELSE 0 END) AS BIGINT) AS n_rare
  FROM per_tok JOIN dfreq USING (w) GROUP BY doc_id
), ta AS (
  SELECT doc_id, {_TOK_W} AS wa FROM documents
), bg AS (
  SELECT doc_id, wa[i+1] AS w1, wa[i+1] || ' ' || wa[i+2] AS g
  FROM ta, LATERAL (SELECT unnest(range(len(wa) - 1)) AS i) t
  WHERE len(wa) >= 2
), bgc AS (
  SELECT doc_id, w1, g, COUNT(*) AS c FROM bg GROUP BY doc_id, w1, g
), c12 AS (SELECT g, CAST(SUM(c) AS BIGINT) AS c12 FROM bgc GROUP BY g),
c1 AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c1 FROM bgc GROUP BY w1),
bs AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         CAST(SUM(CAST(floor(1000000.0 * c12 / c1) AS BIGINT) * c)
              AS BIGINT) AS bigram_score
  FROM bgc JOIN c12 USING (g) JOIN c1 USING (w1) GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(per.n_tokens, 0) AS n_tokens,
       CASE WHEN COALESCE(per.n_tokens, 0) > 0
            THEN CAST(per.sum_df AS DOUBLE) / CAST(per.n_tokens AS DOUBLE)
            ELSE 0.0 END AS mean_token_df,
       CASE WHEN COALESCE(per.n_tokens, 0) > 0
            THEN CAST(per.n_rare AS DOUBLE) / CAST(per.n_tokens AS DOUBLE)
            ELSE 0.0 END AS rare_frac,
       COALESCE(bs.n_bigrams, 0) AS n_bigrams,
       COALESCE(bs.bigram_score, 0) AS bigram_score
FROM documents d
LEFT JOIN per USING (doc_id)
LEFT JOIN bs USING (doc_id)
""")
def q74_token_rarity(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    # r13 (guide §2.4): attach BOTH per-doc stats frames with ONE
    # document-side join instead of assembling each profile against the
    # corpus separately and inner-joining the two assembled outputs —
    # the previous shape paid two extra doc-keyed joins of doc-count
    # frames purely as machinery. Values are identical: both operators
    # emit exactly one row per document, so left⋈left over d ≡ the old
    # inner join of the two left-joined outputs.
    rar = cp._token_rarity_stats(d, "doc_id", "text")
    big = cp._bigram_lm_stats(d, "doc_id", "text")
    n = F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint")
    zero = F.lit(0).cast("bigint")
    return (d.select("doc_id")
            .join(rar, "doc_id", "left")
            .join(big, "doc_id", "left")
            .select(F.col("doc_id"), n.alias("n_tokens"),
                    F.when(n > 0, F.col("sum_df").cast("double")
                           / n.cast("double"))
                    .otherwise(F.lit(0.0)).alias("mean_token_df"),
                    F.when(n > 0, F.col("n_rare").cast("double")
                           / n.cast("double"))
                    .otherwise(F.lit(0.0)).alias("rare_frac"),
                    F.coalesce(F.col("__n"), zero).alias("n_bigrams"),
                    F.coalesce(F.col("__s"), zero).alias("bigram_score")))


# ---------------------------------------------------------------------------
# q75 — within-document repetition profile
# (operators/corpus.repetition_profile): the Gopher/C4 repetition filter
# family — duplicate lines (count + character mass), modal word 2-gram
# share, duplicated 5-gram share. Registered in the slot freed by the
# q14+q35 merge (round-8 consolidation #12). ZERO-shuffle engine plan
# (per-doc array expressions only); the oracle recomputes every signal
# relationally by grouping the actual line/gram strings — agreement rests
# only on xxhash64 equality ≡ string equality (64-bit collision noise).
# ---------------------------------------------------------------------------

_Q75_G2 = "w[i+1] || ' ' || w[i+2]"
_Q75_G5 = " || ' ' || ".join(f"w[i+{j}]" for j in range(1, 6))

@register("q75_repetition_profile", oracle=f"""
WITH lines AS (
  SELECT doc_id, trim(l) AS line
  FROM documents, LATERAL (SELECT unnest(string_split(text, chr(10))) AS l) t
  WHERE trim(l) <> ''
), lc AS (
  SELECT doc_id, line, COUNT(*) AS c, length(line) AS len
  FROM lines GROUP BY doc_id, line
), ls AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
         CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(SUM(c * len) AS BIGINT) AS tot_chars,
         CAST(SUM(CASE WHEN c >= 2 THEN c * len ELSE 0 END) AS BIGINT)
           AS dup_chars
  FROM lc GROUP BY doc_id
), tok AS (
  SELECT doc_id, {_TOK_W} AS w FROM documents
), g2 AS (
  SELECT doc_id, {_Q75_G2} AS g
  FROM tok, LATERAL (SELECT unnest(range(len(w) - 1)) AS i) t
  WHERE len(w) >= 2
), g2c AS (
  SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g
), g2s AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n2, CAST(MAX(c) AS BIGINT) AS top2
  FROM g2c GROUP BY doc_id
), g5 AS (
  SELECT doc_id, {_Q75_G5} AS g
  FROM tok, LATERAL (SELECT unnest(range(len(w) - 4)) AS i) t
  WHERE len(w) >= 5
), g5c AS (
  SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY doc_id, g
), g5s AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n5,
         CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup5
  FROM g5c GROUP BY doc_id
), rawl AS (
  -- every raw line with its 1-based position (NO trim filter: the
  -- line-dedup action keeps blank lines and matches lines exactly)
  SELECT doc_id, i + 1 AS pos, string_split(text, chr(10))[i + 1] AS l
  FROM documents,
       LATERAL (SELECT unnest(range(len(string_split(text, chr(10))))) AS i) t
), keepl AS (
  -- blank = translate-erases-to-empty over the explicit whitespace SET
  -- (mirrors corpus.dedupe_lines: trim() strips spaces only, and Java
  -- \\s vs RE2 \\s disagree on vertical tab — the literal set is
  -- engine-exact)
  SELECT doc_id, pos, l,
         (translate(l, ' ' || chr(9) || chr(12) || chr(13) || chr(11),
                    '') = ''
          OR pos = MIN(pos) OVER (PARTITION BY doc_id, l)) AS keep
  FROM rawl
), dl AS (
  SELECT doc_id,
         md5(COALESCE(string_agg(CASE WHEN keep THEN l END, chr(10)
                                 ORDER BY pos) FILTER (WHERE keep), ''))
           AS dedup_lines_hash,
         CAST(COUNT(*) - COUNT(CASE WHEN keep THEN 1 END) AS BIGINT)
           AS n_dup_lines
  FROM keepl GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_lines, 0) AS BIGINT) AS n_lines,
       CASE WHEN COALESCE(n_lines, 0) > 0
            THEN CAST(n_lines - nd AS DOUBLE) / CAST(n_lines AS DOUBLE)
            ELSE 0.0 END AS dup_line_frac,
       CASE WHEN COALESCE(tot_chars, 0) > 0
            THEN CAST(dup_chars AS DOUBLE) / CAST(tot_chars AS DOUBLE)
            ELSE 0.0 END AS dup_line_char_frac,
       CASE WHEN COALESCE(n2, 0) > 0
            THEN CAST(top2 AS DOUBLE) / CAST(n2 AS DOUBLE)
            ELSE 0.0 END AS top_2gram_frac,
       CASE WHEN COALESCE(n5, 0) > 0
            THEN CAST(dup5 AS DOUBLE) / CAST(n5 AS DOUBLE)
            ELSE 0.0 END AS dup_5gram_frac,
       dl.dedup_lines_hash, dl.n_dup_lines
FROM documents d
LEFT JOIN ls USING (doc_id)
LEFT JOIN g2s USING (doc_id)
LEFT JOIN g5s USING (doc_id)
JOIN dl USING (doc_id)
""")
def q75_repetition_profile(spark, sf_dir):
    """Per-document repetition signals (corpus.with_repetition_signals)
    plus the line-dedup ACTION's verified output: md5 of the C4-style
    line-deduped text (corpus.dedupe_lines — exact cleaned TEXT is
    oracle-checked through the hash) and how many lines it removed.
    Both are map-side over the SAME scan, composed as projections —
    the whole query stays zero-exchange (a doc_id self-join here would
    shuffle the corpus twice for columns one pass computes)."""
    # zero-exchange per-row profile: widen the single-split local scan
    # (spread_small_scan docstring; the other measured r12 winner)
    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    sig = cp.dedupe_lines(cp.with_repetition_signals(d, "text"),
                          "text", out_col="__clean")
    txt = F.coalesce(F.col("text"), F.lit(""))
    return sig.select(
        "doc_id", *cp.REPETITION_SIGNALS,
        F.md5(F.col("__clean")).alias("dedup_lines_hash"),
        (F.size(F.split(txt, "\n"))
         - F.size(F.split(F.col("__clean"), "\n"))).cast("bigint")
        .alias("n_dup_lines"))


# ---------------------------------------------------------------------------
# q78 — learned quality classifier (slot freed by the q10+q33 merge):
# classify.token_class_weights + nb_score — the CCNet / GPT-3 pattern
# (train a linear token model on a labeled reference set, score every
# document).  Here the label is lang='en' (the synthetic corpus has no
# curated/raw split, but the MODEL PATH is identical: one training
# hash-aggregate, broadcast weight table, per-doc BIGINT sum).  The
# oracle pins the exactness-contract score: per-token Laplace ratio
# ((n_pos+1)(tot_neg+V)) / ((n_neg+1)(tot_pos+V)) — exact-integer
# casts, one multiply per side, one divide, ×1e6, floor — summed as
# BIGINT (associative); min_df=2 exercises the vocabulary pruning and
# the unseen-token fallback.  The production ln(ratio) variant is
# pytest-pinned instead (ln is not correctly rounded — the q49 rule).
# ---------------------------------------------------------------------------

@register("q78_quality_classifier", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK_W}) AS token FROM documents
), lab AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents
), cnt AS (
  SELECT token,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM(1 - y) AS BIGINT) AS n_neg
  FROM tok JOIN lab USING (doc_id)
  GROUP BY token
  HAVING COUNT(*) >= 2
), tot AS (
  SELECT CAST(SUM(n_pos) AS BIGINT) AS tp,
         CAST(SUM(n_neg) AS BIGINT) AS tn,
         COUNT(*) AS v
  FROM cnt
), w AS (
  SELECT token,
         CAST(floor(
           (CAST(n_pos + 1 AS DOUBLE) * CAST(tn + v AS DOUBLE))
           / (CAST(n_neg + 1 AS DOUBLE) * CAST(tp + v AS DOUBLE))
           * 1000000.0) AS BIGINT) AS wq
  FROM cnt, tot
), unk AS (
  SELECT CAST(floor(
           (CAST(0 + 1 AS DOUBLE) * CAST(tn + v AS DOUBLE))
           / (CAST(0 + 1 AS DOUBLE) * CAST(tp + v AS DOUBLE))
           * 1000000.0) AS BIGINT) AS uq
  FROM tot
), sc AS (
  SELECT t.doc_id,
         COUNT(*) AS n_tokens,
         COUNT(w.token) AS n_known,
         CAST(SUM(COALESCE(w.wq, unk.uq)) AS BIGINT) AS score
  FROM tok t LEFT JOIN w USING (token), unk
  GROUP BY t.doc_id
)
SELECT d.doc_id, CAST(d.lang = 'en' AS BIGINT) AS y,
       COALESCE(sc.n_tokens, 0) AS n_tokens,
       COALESCE(sc.n_known, 0) AS n_known,
       COALESCE(sc.score, 0) AS score
FROM documents d LEFT JOIN sc USING (doc_id)
""")
def q78_quality_classifier(spark, sf_dir):
    from tradingview_data_pipeline_spark.operators import classify as cl

    d = _t(spark, sf_dir, "documents")
    labeled = d.withColumn("__y", F.col("lang") == F.lit("en"))
    weights = cl.token_class_weights(labeled, "text", "__y", min_df=2)
    scored = cl.nb_score(d, "doc_id", "text", weights)
    return (d.select("doc_id",
                     (F.col("lang") == F.lit("en")).cast("bigint").alias("y"))
            .join(scored, "doc_id")
            .select("doc_id", "y", "n_tokens", "n_known", "score"))


# ---------------------------------------------------------------------------
# q79 — corpus-global line dedup (slot freed by the q30+q31 merge):
# corpus.dedupe_lines_global — the CROSS-document half of the C4 /
# RefinedWeb line-cleaning rule (q75's dedupe_lines is within-document):
# every occurrence of a non-blank line present in >= 2 distinct
# documents is boilerplate and drops everywhere, blank lines pass. The
# engine matches lines by xxhash64 and rewrites map-side from a per-doc
# hot-hash array (one corpus-text shuffle, 16-byte pair shuffles
# elsewhere); the oracle recomputes prevalence on the STRINGS themselves
# — agreement rests on 64-bit hash equality ≡ string equality, like
# q75. The cleaned TEXT is verified through md5; n_removed and the
# per-doc distinct-hot-line count pin the arithmetic.
# ---------------------------------------------------------------------------

_Q79_WS = "' ' || chr(9) || chr(12) || chr(13) || chr(11)"

@register("q79_global_line_dedup", oracle=f"""
WITH rawl AS (
  SELECT doc_id, i + 1 AS pos,
         string_split(COALESCE(text, ''), chr(10))[i + 1] AS l
  FROM documents,
       LATERAL (SELECT unnest(range(len(string_split(COALESCE(text, ''),
                                                     chr(10))))) AS i) t
), nb AS (
  SELECT DISTINCT doc_id, l FROM rawl
  WHERE translate(l, {_Q79_WS}, '') <> ''
), hot AS (
  SELECT l FROM nb GROUP BY l HAVING COUNT(*) >= 2
), keepl AS (
  SELECT r.doc_id, r.pos, r.l,
         (translate(r.l, {_Q79_WS}, '') = '' OR h.l IS NULL) AS keep
  FROM rawl r LEFT JOIN hot h ON r.l = h.l
), agg AS (
  SELECT doc_id,
         md5(COALESCE(string_agg(CASE WHEN keep THEN l END, chr(10)
                                 ORDER BY pos) FILTER (WHERE keep), ''))
           AS clean_hash,
         CAST(COUNT(*) - COUNT(CASE WHEN keep THEN 1 END) AS BIGINT)
           AS n_removed
  FROM keepl GROUP BY doc_id
), nhot AS (
  SELECT nb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hot_lines
  FROM nb JOIN hot USING (l) GROUP BY nb.doc_id
)
SELECT d.doc_id, a.clean_hash, a.n_removed,
       COALESCE(nh.n_hot_lines, 0) AS n_hot_lines
FROM documents d
JOIN agg a USING (doc_id)
LEFT JOIN nhot nh USING (doc_id)
""")
def q79_global_line_dedup(spark, sf_dir):
    """Both verification columns (md5 of the cleaned text, kept-line
    count) come out of ONE evaluation of the rewrite expression via the
    single-element transform-lambda binding — md5 applied directly to
    the interpreted-HOF column measured 5x slower at the 500k-doc
    decade (9.3 s vs 1.8 s; the repetition-gate lesson, SCALING.md
    addendum 3, applies to projections too)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # n_removed comes from INSIDE the rewrite (strip_hot_lines_counted):
    # a fully-stripped doc and a blank doc both clean to "", so the
    # size(split) difference undercounts exactly there — the gen_sf1
    # sweep caught the original formulation reporting 0 for stripped
    # single-line exact-dup docs
    out = cp.dedupe_lines_global(d, "doc_id", "text", out_col="__clean",
                                 hot_count_col="n_hot_lines",
                                 removed_count_col="n_removed")
    packed = F.element_at(
        F.transform(F.array(F.col("__clean")),
                    lambda c: F.struct(F.md5(c).alias("h"))), 1)
    return out.select(
        "doc_id",
        packed["h"].alias("clean_hash"),
        "n_removed",
        "n_hot_lines")


# ---------------------------------------------------------------------------
# q82 — hybrid retrieval via reciprocal-rank fusion (operators/
# retrieval.rrf_fuse), registered in the slot freed by the q20+q56
# merge.  The lexical leg is the q71 BM25 top-50 (rational idf,
# oracle-shared scoring CTEs); the semantic leg is exact cosine top-50
# for one probe embedding (vec_id 0 — doc_id and vec_id are the same id
# space in the fixture) via the IEEE-fold brute_force_topk kernel q30
# verifies.  Fusion contributions are integer — DIV(1e12, 60 + rank) —
# so the fused score is an exact BIGINT sum; ranks inside each leg are
# deterministic because both kernels are already hash-verified.  Plan:
# the two legs are scans (BM25: map pass + broadcast stats row; ANN:
# broadcast-query map pass), the fusion shuffles only the 100 bounded
# candidate rows.
# ---------------------------------------------------------------------------

_RRF_LEG_K, _RRF_K, _RRF_SCALE, _RRF_TOPK = 50, 60, 10**12, 20
#: 'multi' leg: 3 probe queries, top-20 legs, fused top-10 per query
_RRF_NQ, _RRF_MK, _RRF_MTOPK = 3, 20, 10

_Q82_DOT = ("list_reduce(list_transform(list_zip({a}, {b}), "
            "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
            "(x, y) -> x + y)")
_Q82_NSQ = ("list_reduce(list_transform({a}, "
            "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)")


def _q82_oracle() -> str:
    cos = (f"{_Q82_DOT.format(a='qv', b='c.embedding')} / "
           f"(sqrt({_Q82_NSQ.format(a='qv')}) * "
           f"sqrt({_Q82_NSQ.format(a='c.embedding')}))")
    return f"""
WITH {_bm25_ctes()},
bmtop AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
           AS rk
  FROM scored QUALIFY rk <= {_RRF_LEG_K}
),
probe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
anns AS (
  SELECT c.vec_id AS doc_id, {cos} AS cos
  FROM embeddings c CROSS JOIN probe
  WHERE c.vec_id != 0
),
anntop AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS BIGINT)
           AS rk
  FROM anns QUALIFY rk <= {_RRF_LEG_K}
),
u AS (
  SELECT doc_id, 'bm25' AS leg, rk FROM bmtop
  UNION ALL
  SELECT doc_id, 'ann' AS leg, rk FROM anntop
),
fused AS (
  SELECT doc_id,
         CAST(SUM({_RRF_SCALE} // ({_RRF_K} + rk)) AS BIGINT) AS rrf_q,
         CAST(MIN(CASE WHEN leg = 'bm25' THEN rk END) AS BIGINT) AS bm25_rk,
         CAST(MIN(CASE WHEN leg = 'ann' THEN rk END) AS BIGINT) AS ann_rk
  FROM u GROUP BY doc_id
),
single AS (
  SELECT doc_id, bm25_rk, ann_rk, rrf_q,
         CAST(row_number() OVER (ORDER BY rrf_q DESC, doc_id ASC) AS BIGINT)
           AS fused_rk
  FROM fused
  QUALIFY fused_rk <= {_RRF_TOPK}
),
mq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       WHERE vec_id < {_RRF_NQ}),
manns AS (
  SELECT query_id, c.vec_id AS doc_id, {cos} AS cos
  FROM embeddings c CROSS JOIN mq
  WHERE c.vec_id != query_id
),
manntop AS (
  SELECT query_id, doc_id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, doc_id ASC) AS BIGINT)
           AS rk
  FROM manns QUALIFY rk <= {_RRF_MK}
),
mu AS (
  SELECT query_id, doc_id, 'bm25' AS leg, rk
  FROM bmtop CROSS JOIN (SELECT query_id FROM mq) q
  WHERE rk <= {_RRF_MK}
  UNION ALL
  SELECT query_id, doc_id, 'ann', rk FROM manntop
),
mfused AS (
  SELECT query_id, doc_id,
         CAST(SUM({_RRF_SCALE} // ({_RRF_K} + rk)) AS BIGINT) AS rrf_q,
         CAST(MIN(CASE WHEN leg = 'bm25' THEN rk END) AS BIGINT) AS bm25_rk,
         CAST(MIN(CASE WHEN leg = 'ann' THEN rk END) AS BIGINT) AS ann_rk
  FROM mu GROUP BY query_id, doc_id
),
multi AS (
  SELECT query_id, doc_id, bm25_rk, ann_rk, rrf_q,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY rrf_q DESC, doc_id ASC) AS BIGINT)
           AS fused_rk
  FROM mfused
  QUALIFY fused_rk <= {_RRF_MTOPK}
)
SELECT 'single' AS kind, NULL::BIGINT AS query_id,
       doc_id, bm25_rk, ann_rk, rrf_q, fused_rk
FROM single
UNION ALL
SELECT 'multi', query_id, doc_id, bm25_rk, ann_rk, rrf_q, fused_rk
FROM multi
"""


@register("q82_hybrid_retrieval", oracle=_q82_oracle())
def q82_hybrid_retrieval(spark, sf_dir):
    """Tagged union: 'single' — one-probe RRF fusion (BM25 top-50 +
    exact-cosine top-50, fused top-20); 'multi' — per-query grouped
    fusion for 3 probe embeddings (the ``group_cols`` path of
    ``rrf_fuse``, oracle-checked here rather than pytest-only): the
    query-independent BM25 top-20 is cross-joined onto the query ids
    (a broadcast of 20 rows — the lexical ranking is shared, the
    fusion is per-query) against each probe's cosine top-20, fused
    top-10 per query. Same integer-quantized contributions, so every
    leg and both fused orders hash cross-engine."""
    from tradingview_data_pipeline_spark.operators import retrieval as rt
    from tradingview_data_pipeline_spark.operators import similarity as sim
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    from tradingview_data_pipeline_spark.operators import pins
    # the BM25 top-k feeds BOTH legs ('single' directly, 'multi' via
    # the per-query cross join) — unpinned, the corpus tokenize + TF/DF
    # aggregates ran twice (guide §2.4). The result is k rows; the
    # eager checkpoint is one tiny write.
    bm = pins.checkpoint(
        cp.bm25_scores(d, "doc_id", "text", _BM25_TERMS,
                       k1=_BM25_K1, b=_BM25_B, k=_RRF_LEG_K)
        .select("doc_id", "rk"))
    ann = (sim.brute_force_topk(e, e.where(F.col("vec_id") == 0),
                                "vec_id", "embedding", k=_RRF_LEG_K)
           .select(F.col("neighbor_id").alias("doc_id"), "rk"))
    nq = F.lit(None).cast("bigint").alias("query_id")
    single = (rt.rrf_fuse([("bm25", bm), ("ann", ann)], ["doc_id"],
                          rrf_k=_RRF_K, scale=_RRF_SCALE, topk=_RRF_TOPK)
              .select(F.lit("single").alias("kind"), nq, "doc_id",
                      "bm25_rk", "ann_rk", "rrf_q", "fused_rk"))
    mqs = e.where(F.col("vec_id") < _RRF_NQ)
    ann_m = (sim.brute_force_topk(e, mqs, "vec_id", "embedding", k=_RRF_MK)
             .select("query_id", F.col("neighbor_id").alias("doc_id"), "rk"))
    bm_m = (bm.where(F.col("rk") <= _RRF_MK)
            .crossJoin(F.broadcast(
                mqs.select(F.col("vec_id").alias("query_id")))))
    multi = (rt.rrf_fuse([("bm25", bm_m), ("ann", ann_m)], ["doc_id"],
                         rrf_k=_RRF_K, scale=_RRF_SCALE, topk=_RRF_MTOPK,
                         group_cols=["query_id"])
             .select(F.lit("multi").alias("kind"),
                     F.col("query_id").cast("bigint"), "doc_id",
                     "bm25_rk", "ann_rk", "rrf_q", "fused_rk"))
    return single.unionByName(multi)
