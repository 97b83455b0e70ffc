"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale architecture (the 100 TB story):
- **Exact**: hash-groupBy on a 128-bit content digest. The shuffle carries
  (digest, doc_id) — 40 bytes/row — never the payload. At 100 TB of text
  that is a ~0.1% shuffle.
- **MinHash+LSH**: one per-doc shingle-set frame ``(id, ss)`` (distinct
  md5-60 hash array, built map-side once and pinned) feeds both the
  signatures and the verify. Signatures explode ``ss`` into one
  codegen'd min aggregate. Banding turns the O(n²) similarity join into
  a groupBy on (band_id, band_hash) — only docs sharing a band bucket
  meet. Candidate verification (exact Jaccard) joins each pair to both
  docs' sets and intersects the arrays map-side: Θ(pairs) rows, never
  Θ(pairs × shingles/doc). Skewed buckets (boilerplate docs) are
  handled by AQE skew-join / bucket-size capping.
- **SimHash**: map-only 16..64-bit signature; near-dup = signatures within
  Hamming distance d, found by pigeonhole banding of the bits.

All hashing is md5-derived (``md5_hash60``) so results are reproducible
across engines and runs — never engine-native ``hash()``.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tradingview_data_pipeline_spark.operators import pins
from tradingview_data_pipeline_spark.operators.text import (
    md5_hash60, tokens, word_shingles,
)

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """One row per distinct content: (content_hash, keeper id, copies)."""
    return (
        df.select(F.md5(F.col(content_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(f"keeper_{id_col}"),
             F.count(F.lit(1)).alias("copies"))
    )


def drop_exact_duplicates(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per distinct content (deterministic keeper)."""
    keep = (df.select(F.md5(F.col(content_col)).alias("__h"), F.col(id_col))
            .groupBy("__h").agg(F.min(id_col).alias(id_col)))
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# MinHash signatures — one md5 base hash per shingle, k hash functions
# derived as affine transforms (a_j·h + b_j) mod P. Classic universal-
# hashing construction: one expensive hash, k cheap integer permutations.
# Two-phase projection so the base hashes are computed exactly once
# (Catalyst's CollapseProject will not merge projects that would duplicate
# a non-trivial aliased expression).
# ---------------------------------------------------------------------------

MINHASH_P = 1073741789          # prime < 2^30: a_j·h + b_j stays < 2^35
def _affine_coeffs(k: int) -> list[tuple[int, int]]:
    return [(2 * j + 1, j * j + 7) for j in range(k)]


def base_hashes(col: Column) -> Column:
    """Distinct md5-derived hashes (mod P) of the word shingles — the set
    representation used by both MinHash and Jaccard."""
    return F.array_distinct(
        F.transform(word_shingles(col), lambda s: md5_hash60(s) % MINHASH_P))


def with_minhash_signature(df: DataFrame, text_col: str, id_cols: list[str],
                           *, k: int = 8, out_col: str = "sig") -> DataFrame:
    """id_cols + array<bigint> signature of length k."""
    step = df.select(*id_cols, base_hashes(F.col(text_col)).alias("__bh"))
    sig = F.array(*[
        F.array_min(F.transform(F.col("__bh"), lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P))
        for a, b in _affine_coeffs(k)
    ])
    return step.select(*id_cols, sig.alias(out_col))


def shingle_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, ss): one distinct shingle-hash array per doc — the set
    representation shared by MinHash and Jaccard. Map-only, docs-sized.
    A NULL text has no shingles: its set is NULL, so it gets no
    signature and joins no verified pair."""
    text = F.col(text_col)
    return df.select(F.col(id_col),
                     F.when(text.isNotNull(), base_hashes(text)).alias("ss"))


def _minhash_agg(df: DataFrame, id_col: str, text_col: str, k: int,
                 shingles: DataFrame | None = None) -> DataFrame:
    """(id, m0..m{k-1}) via explode + one codegen'd aggregate. Pass a
    precomputed (id, ss) set frame (``shingle_sets``, ideally pinned)
    to share the md5 work with Jaccard verification."""
    if shingles is None:
        shingles = shingle_sets(df, id_col, text_col)
    ex = shingles.select(F.col(id_col), F.explode("ss").alias("h"))
    aggs = [F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"m{j}")
            for j, (a, b) in enumerate(_affine_coeffs(k))]
    return ex.groupBy(id_col).agg(*aggs)


def minhash_signatures_long(df: DataFrame, id_col: str, text_col: str,
                            *, k: int = 8) -> DataFrame:
    """(id, j, minhash) long form via explode + one codegen'd aggregate —
    the fastest shape when signatures are the terminal output (a Generate
    over the array form re-evaluates the signature expression per output
    row). Results identical to ``with_minhash_signature``."""
    g = _minhash_agg(df, id_col, text_col, k)
    stack = ", ".join(f"CAST({j} AS BIGINT), m{j}" for j in range(k))
    return g.select(id_col, F.expr(f"stack({k}, {stack}) AS (j, minhash)"))


LSH_MAX_BUCKET_DEFAULT = 1000


def _batch_vs_stored_pairs(new_banded: DataFrame, stored_banded: DataFrame,
                           key_cols: list[str], id_col: str,
                           max_bucket: int | None,
                           payload_cols: tuple[str, ...] = (),
                           prepinned: bool = False) -> DataFrame:
    """Band-bucket pairing with at least one NEW member, with an
    O(batch)-sized PLAN — the shared join shape of the three incremental
    indexes (MinHash / SimHash / embedding LSH).

    The naive formulation (self-join stored∪new with an ``is_new``
    post-filter) computes the right output but shuffles the FULL stored
    signature table on every micro-batch — O(index) plan cost per
    trigger. This shape keeps the stored side shuffle-free:

      1. ``new_banded`` (batch × bands rows — tiny) is pinned eagerly.
      2. The stored side is filtered to buckets the batch touches via a
         broadcast LEFT SEMI join on the distinct batch bucket keys —
         the stored scan streams under a BroadcastHashJoin, no shuffle,
         no sort — and the (small: O(batch × collision rate)) survivor
         set is pinned.
      3. The degenerate-bucket cap counts stored+new members per
         TOUCHED bucket only. Equivalent to capping the combined frame:
         untouched buckets can't emit pairs (no new member), and a
         touched bucket's combined population is exactly its stored
         survivors + its batch rows.
      4. old×new pairs come from broadcast(new) ⋈ stored-survivors;
         new×new pairs from the tiny batch self-join.

    Returns (id_a < id_b) pairs plus ``<c>_a`` / ``<c>_b`` for each
    payload column (side-consistent with the id ordering). NOT distinct
    — callers dedup across bands. Both inputs must already be disjoint
    on ``id_col`` (callers anti-join stored against the batch ids).
    """
    from functools import reduce
    from operator import and_

    if prepinned:
        # caller already pinned both frames and pruned the stored side
        # to touched buckets (BandedBucketStore) — skip the extra
        # checkpoints + semi-join, pure per-trigger overhead there
        new_b, stored_t = new_banded, stored_banded
    else:
        new_b = new_banded.localCheckpoint(eager=True)
        touched = new_b.select(*key_cols).distinct()
        stored_t = (stored_banded
                    .join(F.broadcast(touched), key_cols, "left_semi")
                    .localCheckpoint(eager=True))
    if max_bucket is not None:
        over = (stored_t.select(*key_cols)
                .unionByName(new_b.select(*key_cols))
                .groupBy(*key_cols)
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") > max_bucket)
                .select(*key_cols))
        new_b = new_b.join(F.broadcast(over), key_cols, "left_anti")
        stored_t = stored_t.join(F.broadcast(over), key_cols, "left_anti")

    def _pairs(left: DataFrame, right: DataFrame, strict: bool) -> DataFrame:
        n, s = left.alias("n"), right.alias("s")
        cond = reduce(and_, [F.col(f"n.{c}") == F.col(f"s.{c}")
                             for c in key_cols])
        if strict:              # new×new self-join: order by id directly
            cond = cond & (F.col(f"n.{id_col}") < F.col(f"s.{id_col}"))
        n_first = F.col(f"n.{id_col}") < F.col(f"s.{id_col}")
        sel = [F.when(n_first, F.col(f"n.{id_col}"))
               .otherwise(F.col(f"s.{id_col}")).alias("id_a"),
               F.when(n_first, F.col(f"s.{id_col}"))
               .otherwise(F.col(f"n.{id_col}")).alias("id_b")]
        for c in payload_cols:
            sel += [F.when(n_first, F.col(f"n.{c}"))
                    .otherwise(F.col(f"s.{c}")).alias(f"{c}_a"),
                    F.when(n_first, F.col(f"s.{c}"))
                    .otherwise(F.col(f"n.{c}")).alias(f"{c}_b")]
        return F.broadcast(n).join(s, cond).select(*sel)

    return _pairs(new_b, stored_t, strict=False) \
        .unionByName(_pairs(new_b, new_b, strict=True))


class BandedBucketStore:
    """Persisted bucket-membership cache for the incremental indexes —
    the 1B-doc step past ``_batch_vs_stored_pairs``: that join shape
    never SHUFFLES the stored signatures, but it still SCANS them per
    trigger (~72 GB/trigger at 1B docs). This store keeps one row per
    LSH bucket key — ``(bk, docs array<struct<id,pl>>, n)`` — in a
    hash-bucketed ``ParquetTable`` keyed by ``bk``, so a micro-batch
    READS only the bucket directories its band keys touch
    (``read_matching``): per-trigger disk cost is
    O(touched buckets / total buckets × store), independent of the
    signature table.

    Semantics vs the scan-based shape (pytest-pinned equivalent except
    one corner): the degenerate-bucket cap is STICKY — once a bucket's
    population crosses ``max_bucket`` its membership array is nulled
    (only the count keeps growing) and it never pairs again, even if
    re-adds would theoretically shrink it below the cap. The scan
    shape re-counts from scratch each trigger and could re-admit such
    a bucket; a >cap bucket shrinking below cap requires mass re-adds
    with changed content, which the append-only contract makes
    vanishingly rare, and capped buckets are junk by construction.

    Crash protocol: callers commit this store BEFORE the signature
    table. A crash between the two leaves the store ahead by one
    batch; on replay, pairing against a store that already contains
    the batch is harmless (self-pairs are excluded by the id order,
    batch×batch pairs dedup against the new×new leg) and the
    set-merge update is idempotent, so replay converges.

    ``pl`` carries a per-doc payload BIGINT (SimHash signature;
    0 where unused) so Hamming filters run on the pair set only.

    WHEN TO ENABLE (measured, INCR_BENCH_r9 / SCALING addendum 21):
    per-trigger cost is O(batch×bands × store/buckets + C) with
    C ≈ 2.5 s of checkpoint/manifest constant — touched directories
    are read AND copy-on-write rewritten wholesale, so the lever is
    bucket count. Enable when BOTH (a) the signature table holds
    ≳ 2M rows (below that, C alone exceeds the scan path's whole
    cost — scan wins at every smaller measured size) and (b)
    ``buckets`` ≥ 10 × batch×bands (at small bucket counts a batch
    touches every directory and pruning degenerates to a full store
    rewrite). Measured win at 5M stored signatures, batch 50,
    buckets 4096: 10.7 s vs the scan path's 17.3 s — and the gap
    grows with the store, since banded per-trigger work is
    store-size-independent at a fixed touched count while the scan
    path re-reads and re-bands every stored row.
    """

    def __init__(self, spark, path: str, *,
                 max_bucket: int | None = LSH_MAX_BUCKET_DEFAULT,
                 buckets: int | None = None):
        from tradingview_data_pipeline_spark.operators.merge import ParquetTable
        self.max_bucket = max_bucket
        schema = T.StructType([
            T.StructField("bk", T.StringType()),
            T.StructField("docs", T.ArrayType(T.StructType([
                T.StructField("id", T.LongType()),
                T.StructField("pl", T.LongType())]))),
            T.StructField("n", T.LongType()),
        ])
        self.table = ParquetTable(spark, path, schema, "bk",
                                  buckets=buckets)

    def add_and_pairs(self, new_banded: DataFrame,
                      old_banded: DataFrame) -> DataFrame:
        """Update the store with a batch and return its candidate
        pairs, reading ONLY touched bucket directories.

        ``new_banded``: (id, bk, pl) — one row per (batch doc, band).
        ``old_banded``: (id, bk) — band keys of RE-ADDED docs' stored
        signatures (their old memberships are removed; pass an empty
        frame when the caller knows ids are fresh).

        Returns NON-distinct (id_a < id_b, pl_a, pl_b) pairs with at
        least one batch member; the caller dedups across bands. The
        store upsert commits before returning (pairs are pinned
        first).
        """
        new_b = new_banded.localCheckpoint(eager=True)
        old_b = old_banded.localCheckpoint(eager=True)
        touched = (new_b.select("bk").unionByName(old_b.select("bk"))
                   .distinct())
        stored = (self.table.read_matching(touched)
                  .join(F.broadcast(touched), "bk", "left_semi")
                  .localCheckpoint(eager=True))
        new_ids = new_b.select("id").distinct()
        # surviving stored membership: exploded arrays minus re-added
        # docs (their refreshed entries come back via new_b)
        surv = (stored.where(F.col("docs").isNotNull())
                .select("bk", F.explode("docs").alias("d"))
                .select("bk", F.col("d.id").alias("id"),
                        F.col("d.pl").alias("pl"))
                .join(F.broadcast(new_ids), "id", "left_anti")
                .localCheckpoint(eager=True))

        new_agg = (new_b.groupBy("bk")
                   .agg(F.count(F.lit(1)).alias("n_new"),
                        F.collect_list(F.struct(
                            F.col("id"), F.col("pl"))).alias("new_docs")))
        surv_agg = (surv.groupBy("bk")
                    .agg(F.count(F.lit(1)).alias("n_surv"),
                         F.collect_list(F.struct(
                             F.col("id"), F.col("pl"))).alias("surv_docs")))
        merged = (touched
                  .join(stored.select("bk", "docs", "n"), "bk", "left")
                  .join(surv_agg, "bk", "left")
                  .join(new_agg, "bk", "left"))
        was_capped = F.col("docs").isNull() & F.col("n").isNotNull()
        pop = (F.coalesce(F.col("n_surv"), F.lit(0))
               + F.coalesce(F.col("n_new"), F.lit(0)))
        over = was_capped | (
            F.lit(self.max_bucket is not None)
            & (pop > F.lit(self.max_bucket or 0)))
        upd = merged.select(
            "bk",
            F.when(over, F.lit(None).cast(
                "array<struct<id:bigint,pl:bigint>>"))
            .otherwise(F.concat(
                F.coalesce(F.col("surv_docs"), F.expr(
                    "CAST(array() AS array<struct<id:bigint,pl:bigint>>)")),
                F.coalesce(F.col("new_docs"), F.expr(
                    "CAST(array() AS array<struct<id:bigint,pl:bigint>>)"))
            )).alias("docs"),
            F.when(was_capped,
                   F.col("n") + F.coalesce(F.col("n_new"), F.lit(0)))
            .otherwise(pop).alias("n"))

        over_bks = merged.where(over).select("bk")
        new_ok = new_b.join(F.broadcast(over_bks), "bk", "left_anti")
        surv_ok = surv.join(F.broadcast(over_bks), "bk", "left_anti")
        pairs = _batch_vs_stored_pairs(
            new_ok.select("id", "bk", "pl"),
            surv_ok.select("id", "bk", "pl"),
            ["bk"], "id", None, payload_cols=("pl",),
            prepinned=True,
        ).localCheckpoint(eager=True)     # pin before the store commit
        # REPLACE matched rows verbatim — merge_upsert's NULL-coalesce
        # would silently keep a stale membership array when a bucket
        # crosses the cap and its docs are nulled (r8 review finding)
        self.table.merge_with(
            upd, lambda tgt, s: tgt.join(s.select("bk"), "bk",
                                         "left_anti").unionByName(s))
        return pairs

    def rebuild_from(self, banded: DataFrame) -> None:
        """Bulk-(re)build the store from a full (id, bk, pl) banded
        frame — the migration path when enabling ``banded_store`` on an
        index that already has signatures, and the repair path if the
        store is ever lost (it is a DERIVED cache; the signature table
        stays authoritative). One shuffle on bk; cap semantics match
        the incremental updates (over-cap buckets stored nulled)."""
        grouped = (banded.groupBy("bk")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.collect_list(F.struct("id", "pl")).alias("docs")))
        over = (F.lit(self.max_bucket is not None)
                & (F.col("n") > F.lit(self.max_bucket or 0)))
        self.table.overwrite(grouped.select(
            "bk",
            F.when(over, F.lit(None).cast(
                "array<struct<id:bigint,pl:bigint>>"))
            .otherwise(F.col("docs")).alias("docs"),
            "n"))

    def compact(self) -> None:
        self.table.compact()


def _banded_signatures(g: DataFrame, id_col: str, k: int,
                       bands: int) -> DataFrame:
    """(id, m0..m{k-1}) -> (id, band, bh): md5 of the ':'-joined band
    slice, one output row per band."""
    rows_per_band = k // bands
    entries = []
    for b in range(bands):
        cols = ", ".join(f"CAST(m{b * rows_per_band + i} AS STRING)"
                         for i in range(rows_per_band))
        entries.append(f"CAST({b} AS INT), md5(concat_ws(':', {cols}))")
    return g.select(
        F.col(id_col),
        F.expr(f"stack({bands}, {', '.join(entries)}) AS (band, bh)"))


def lsh_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                        *, k: int = 16, bands: int = 4,
                        shingles: DataFrame | None = None,
                        max_bucket: int | None = LSH_MAX_BUCKET_DEFAULT
                        ) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one LSH band bucket.

    Plan shape: map-only signature -> explode bands (×bands rows) ->
    self-join on (band, bh). The join key is a 16-byte hash; AQE handles
    bucket skew. No payload moves.

    The k=16 / 4-row-band default is the SCALE-SAFE configuration
    (round-9 change from k=8 / 2-row bands): 2-row bands collide en
    masse past ~10^5 docs on low-entropy corpora — the measured
    third-decade x31 blowup, SCALING.md round-8 addendum; the k=16
    remedy curve (353 -> 78 s) was measured in round 6. Use
    ``suggest_minhash_bands`` to retarget the S-curve for a different
    Jaccard threshold.

    ``max_bucket`` guards the self-join's quadratic failure mode: a
    degenerate bucket (empty docs, boilerplate, any content family whose
    signature collides en masse) of population c emits c·(c−1)/2 pairs —
    one 10M-doc bucket at corpus scale is 5·10¹³ rows from a single join
    key, which no skew handling survives. Buckets with population >
    ``max_bucket`` are dropped ENTIRELY before the join (their members
    can still pair through their other bands): members of a bucket that
    large are either exact-duplicate-shaped (catch with exact dedup
    first — its groupBy aggregates rather than joins, so it has no
    quadratic path) or not meaningfully similar (band collision without
    high Jaccard). The cap bounds per-bucket join output at
    ~``max_bucket``²/2 and is mirrored in the DuckDB oracles (q28/q42/
    q70) so capped semantics stay engine-verified. ``None`` disables.
    Cost: one map-side-combined count over the (id, band, bh) frame and
    a broadcast anti-join against the (tiny) over-cap bucket list.

    ``shingles``: a ``shingle_sets`` frame (ideally pinned) to read
    instead of re-hashing the text — the substrate ``jaccard_verify``
    reads too.
    """
    g = _minhash_agg(df, id_col, text_col, k, shingles=shingles)
    banded = _banded_signatures(g, id_col, k, bands)
    # the banded frame feeds THREE subtrees (the over-cap bucket count
    # and both sides of the band self-join) whose differing downstream
    # aggregates defeat canonical-plan exchange reuse — unpinned, the
    # minhash shuffle+aggregate (and the shingle hashing under it when
    # the caller didn't pass a pinned ``shingles``) re-runs per subtree.
    # Eager-checkpoint the tiny (id, band, 16-byte bh) frame once
    # (docs × bands rows, never the text): one signature pass feeds all
    # three consumers (guide §2.4; the q29/video substrate rule).
    banded = pins.checkpoint(banded)
    if max_bucket is not None:
        over = (banded.groupBy("band", "bh")
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") > max_bucket)
                .select("band", "bh"))
        banded = banded.join(F.broadcast(over), ["band", "bh"], "left_anti")
    a = banded.alias("a")
    b = banded.alias("b")
    out = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )
    # Checkpoint the pair list itself (r13): downstream plans reference
    # it more than once (connected_components' distributed path unions
    # the verified pairs with themselves, callers count or collect the
    # candidates), and unpinned the band self-join + distinct re-runs
    # per consumer. The frame is two ids per row and bounded by the LSH
    # funnel + bucket cap — the cheapest thing in this pipeline to
    # materialize, and it caps the self-join at exactly one execution
    # no matter how many consumers.
    return pins.checkpoint(out)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard verification of candidate pairs — over the same
# distinct shingle-hash sets MinHash reads (8-byte ints intersect far
# faster than shingle strings; the md5 image preserves set overlap).
# ---------------------------------------------------------------------------

def jaccard_verify(pairs: DataFrame, sets: DataFrame, id_col: str,
                   *, threshold: float = 0.0) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for each candidate pair.

    ``sets`` is a ``shingle_sets`` frame (id, ss). Each pair joins it
    twice, by ``doc_a`` and by ``doc_b``; inter = |A ∩ B| by
    ``array_intersect`` and union = |A| + |B| - inter, both map-side —
    Θ(pairs) rows through two joins. Integer counts -> exact double
    division, engine-reproducible. A doc with an empty (or NULL) set is
    in no output pair.
    """
    s = sets.where(F.size("ss") > 0)
    sa = s.select(F.col(id_col).alias("doc_a"), F.col("ss").alias("sa"))
    sb = s.select(F.col(id_col).alias("doc_b"), F.col("ss").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("bigint")
    out = (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("inter", inter)
        .withColumn("union_n", (F.size("sa") + F.size("sb")).cast("bigint")
                    - F.col("inter"))
        .withColumn("jaccard", F.col("inter") * 1.0 / F.col("union_n"))
        .select("doc_a", "doc_b", "inter", "union_n", "jaccard")
    )
    if threshold > 0:
        out = out.where(F.col("jaccard") >= threshold)
    return out


# ---------------------------------------------------------------------------
# SimHash — b-bit signature from distinct-token md5 bits: bit j is set iff
# at least half the tokens have bit j set in their md5. Integer counts
# only -> exact.
#
# ``simhash_table`` (df-level) is the operator: explode distinct tokens
# -> one md5 per token -> a numpy majority vote per doc over Arrow
# batches (q29, the SimHash index and ``simhash_candidate_pairs`` all
# run it). ``simhash`` (column expr; O(b × tokens) interpreted lambda
# evals per row) has no package caller — it is the independent
# reference the tests compare ``simhash_table`` against, and the q29
# oracle recomputes the same bits as conditional sums in SQL.
#
# Bit mapping (identical in every form, any bits <= 60): bit j of the
# signature = bit (3 - j%4) of hex nibble j//4 of the md5 — i.e. bit
# (59-j) of the md5's leading 60-bit word. 60 is the ceiling because the
# signature must stay a positive BIGINT on both engines (2^59 is the
# largest term) and 15 hex chars parse losslessly everywhere.
# ---------------------------------------------------------------------------

SIMHASH_MAX_BITS = 60


def simhash_table(df: DataFrame, id_col: str, text_col: str,
                  bits: int = 16, out_col: str = "simhash",
                  partitions: int | None = None) -> DataFrame:
    """(id, signature) for every row of ``df``; a doc with no tokens
    gets a NULL signature. The majority vote runs in numpy over Arrow
    batches (``_simhash_agg_arrow``): one vectorized ``(n, bits)``
    bit-unpack + ``reduceat`` per batch, where a SQL conditional-sum
    aggregate spends its time on 60 per-row shift/mask extractions
    (measured 2.4x slower at sf0.1, NOTES r5/r6). ``partitions``: width
    hint for the token-hash shuffle (see ``_simhash_agg_arrow``)."""
    assert bits <= SIMHASH_MAX_BITS
    toks = F.array_distinct(tokens(F.col(text_col)))
    ex = (df.select(F.col(id_col), F.explode(toks).alias("__t"))
          .select(id_col,
                  F.conv(F.substring(F.md5("__t"), 1, 15), 16, 10)
                  .cast("bigint").alias("__h60")))
    g = _simhash_agg_arrow(ex, id_col, df.schema[id_col].dataType,
                           bits, out_col, partitions=partitions)
    # docs with zero tokens vanish in the explode; rejoin with NULL signature
    return df.select(id_col).join(g, id_col, "left")


def _simhash_agg_arrow(ex: DataFrame, id_col: str, id_type,
                       bits: int, out_col: str,
                       partitions: int | None = None) -> DataFrame:
    """(id, __h60) token-hash rows -> (id, signature) via numpy.

    One shuffle on the id (hash repartition + sort-within-partitions —
    groups arrive CONTIGUOUSLY, so a doc straddling two Arrow batches is
    folded through a carry buffer instead of paying one Python call per
    group the way ``applyInPandas`` would; same pattern as the EMA
    recurrence operator). Per batch the majority vote is a single
    ``(n, bits)`` bit-unpack and a ``reduceat`` over run boundaries —
    no per-row Python."""
    out_schema = T.StructType([T.StructField(id_col, id_type),
                               T.StructField(out_col, T.LongType())])

    def fold(batches):
        import numpy as np
        shifts = np.arange(59, 59 - bits, -1, dtype=np.int64)
        weights = (np.int64(1) << np.arange(bits, dtype=np.int64))
        carry_id, carry_n = None, 0
        carry_sums = np.zeros(bits, dtype=np.int64)

        def sig_of(n, sums):
            return int(weights[(sums * 2) >= n].sum())

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            h = pdf["__h60"].to_numpy().astype(np.int64, copy=False)
            bitsmat = (h[:, None] >> shifts[None, :]) & np.int64(1)
            starts = np.concatenate(
                ([0], np.nonzero(ids[1:] != ids[:-1])[0] + 1))
            sums = np.add.reduceat(bitsmat, starts, axis=0)
            counts = np.diff(np.concatenate((starts, [len(ids)])))
            run_ids = ids[starts]
            first = 0
            if carry_id is not None:
                if run_ids[0] == carry_id:      # continuation of last run
                    carry_sums = carry_sums + sums[0]
                    carry_n += int(counts[0])
                    first = 1
                    if len(run_ids) == 1:       # still straddling
                        continue
                out_first = (carry_id, sig_of(carry_n, carry_sums))
                carry_id = None
            else:
                out_first = None
            last = len(run_ids) - 1
            done_ids = list(run_ids[first:last])
            done_sigs = [sig_of(counts[k], sums[k])
                         for k in range(first, last)]
            if out_first is not None:
                done_ids.insert(0, out_first[0])
                done_sigs.insert(0, out_first[1])
            carry_id = run_ids[last]
            carry_n = int(counts[last])
            carry_sums = sums[last].copy()
            if done_ids:
                yield pd.DataFrame({id_col: done_ids, out_col: done_sigs})
        if carry_id is not None:
            yield pd.DataFrame({id_col: [carry_id],
                                out_col: [sig_of(carry_n, carry_sums)]})

    # ``partitions``: width hint for the token-hash shuffle+sort — the
    # exploded frame is ~60x the doc count, and the 5M-doc decade's
    # per-task sortWithinPartitions OOMs at the session width (the
    # SCALING addendum-22 rule; size-gate it in callers)
    part_args = ([partitions] if partitions is not None else []) + \
        [F.col(id_col)]
    return (ex.repartition(*part_args)
            .sortWithinPartitions(id_col)
            .mapInPandas(fold, out_schema))


def simhash(col: Column, bits: int = 16) -> Column:
    assert bits <= SIMHASH_MAX_BITS
    toks = F.array_distinct(tokens(col))
    n = F.size(toks)

    def bit_term(j: int) -> Column:
        hex_pos = j // 4 + 1
        shift = 3 - j % 4
        ones = F.size(F.filter(
            toks,
            lambda t: F.shiftright(
                F.conv(F.substring(F.md5(t), hex_pos, 1), 16, 10).cast("int"),
                shift).bitwiseAND(F.lit(1)) == 1,
        ))
        return F.when(ones * 2 >= n, F.lit(2 ** j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))

    out = bit_term(0)
    for j in range(1, bits):
        out = out + bit_term(j)
    return F.when(n > 0, out).otherwise(F.lit(None).cast("bigint"))


def simhash_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                            *, bits: int = 60, bands: int = 4,
                            max_hamming: int = 3,
                            max_bucket: int | None = LSH_MAX_BUCKET_DEFAULT,
                            sigs: DataFrame | None = None) -> DataFrame:
    """Banded SimHash retrieval: distinct (doc_a < doc_b, hamming) pairs
    with signature Hamming distance <= ``max_hamming``.

    Pigeonhole banding replaces the all-pairs O(n²) Hamming scan: the
    ``bits``-bit signature splits into ``bands`` contiguous chunks, and
    two signatures within distance d <= bands-1 MUST agree on at least
    one whole chunk — so an equi-join on (band, chunk) finds every such
    pair (recall exactly 1.0 when ``max_hamming <= bands - 1``; keep
    that inequality or accept probabilistic recall). The exact
    ``bit_count(xor)`` filter then removes band collisions beyond the
    radius. Default 60-bit/4-band: 2^15 buckets per band, so a uniform
    corpus spreads ~n/32768 docs per bucket and the join stays linear;
    degenerate buckets (identical boilerplate) are dropped by the same
    ``max_bucket`` guard as ``lsh_candidate_pairs`` — catch those with
    exact dedup, which has no quadratic path.

    Pass ``sigs`` (a ``simhash_table`` result) to reuse signatures
    computed for another consumer. NULL-signature docs (no tokens) never
    pair. Join payload is 20 bytes/row (id, 60-bit sig, band, chunk).
    """
    assert bits % bands == 0, "bands must evenly split the signature"
    chunk_bits = bits // bands
    mask = (1 << chunk_bits) - 1
    if sigs is None:
        sigs = simhash_table(df, id_col, text_col, bits=bits)
    sigs = sigs.where(F.col("simhash").isNotNull())
    entries = ", ".join(
        f"CAST({b} AS INT), shiftright(simhash, {b * chunk_bits}) & {mask}"
        for b in range(bands))
    banded = sigs.select(
        F.col(id_col), F.col("simhash"),
        F.expr(f"stack({bands}, {entries}) AS (band, chunk)"))
    if max_bucket is not None:
        over = (banded.groupBy("band", "chunk")
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") > max_bucket)
                .select("band", "chunk"))
        banded = banded.join(F.broadcast(over), ["band", "chunk"], "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .where(ham <= max_hamming)
        .select(F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
                ham.alias("hamming"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Connected components over near-duplicate pairs -> dedup clusters.
# Iterative label propagation with POINTER JUMPING: each round a node
# (1) adopts the min label among itself and its neighbors (one hop),
# then (2) jumps to its label's label (path halving, L(x) <- L(L(x))).
# Labels are monotone non-increasing and every label is itself a node
# id, so the jump join always resolves; the reachable-min distance
# covered per round is ~2(d+1), giving O(log diameter) rounds — plain
# one-hop propagation (the round-2 implementation) needed O(diameter)
# and silently returned wrong clusters past the iteration cap.
# localCheckpoint every round truncates the growing lineage — the
# standard Spark pattern for fixpoint algorithms (non-SQL-expressible
# in the general case; q42's oracle uses a recursive CTE).
#
# Scale: each iteration is two shuffles on node id over the (tiny,
# LSH-funneled) pair graph. Hitting the cap with changes pending now
# RAISES instead of returning a wrong answer.
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, *, max_iter: int = 10,
                         driver_threshold: int = 100_000) -> DataFrame:
    """(doc_a, doc_b) pairs -> (doc_id, cluster_id) where cluster_id is the
    min doc id in the component. Nodes appearing in no pair are absent
    (callers union isolated docs as their own cluster).

    Scale-adaptive: near-dup pair sets are tiny relative to the corpus
    (the LSH+Jaccard funnel has already reduced them), so below
    ``driver_threshold`` pairs a driver-side union-find (one collect of
    16-byte rows, O(n α)) beats 3-10 distributed fixpoint rounds of pure
    scheduling overhead. Above it, iterative label-propagation +
    pointer-jumping joins with lineage truncation (O(log diameter)
    rounds); raises RuntimeError if ``max_iter`` rounds leave labels
    still moving rather than returning a wrong clustering.
    """
    # one action decides the path AND fetches the rows for the small case
    rows = pairs.select("doc_a", "doc_b").limit(driver_threshold + 1).collect()
    if len(rows) <= driver_threshold:
        parent: dict = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for r in rows:
            a, b = find(r["doc_a"]), find(r["doc_b"])
            if a != b:
                lo, hi = (a, b) if (a < b) else (b, a)
                parent[hi] = lo
        nodes = {x for r in rows for x in (r["doc_a"], r["doc_b"])}
        out = [(x, find(x)) for x in nodes]
        # derive the id type from the input so string/any-typed doc ids work
        id_type = pairs.schema["doc_a"].dataType
        out_schema = T.StructType([T.StructField("doc_id", id_type),
                                   T.StructField("cluster_id", id_type)])
        return pairs.sparkSession.createDataFrame(out, out_schema)

    # Iteration-loop plan hygiene (r13, guide §2.4/§5): everything a
    # round touches more than once is checkpointed exactly once.
    # - `edges` is referenced by EVERY round's neighbor join; without a
    #   pin the union+distinct pipeline re-executed per iteration.
    # - the pointer jump maps through the PREVIOUS round's labels (one
    #   round stale) instead of self-joining the freshly updated frame:
    #   the self-join re-executed the whole update pipeline a second
    #   time each round, and the stale table is already checkpointed.
    #   Same fixpoint: labels are monotone non-increasing node ids, so
    #   L_prev(U(x)) <= U(x), and a round that changes nothing has
    #   U(x) = L(x) for all x — constant across every edge, hence the
    #   component minimum (the node m with the min id always keeps
    #   L(m) = m). Staleness costs at most one extra halving round.
    # - convergence is a scan-only count on the just-checkpointed frame
    #   (the old label rides along as __old) instead of a join of the
    #   two label frames.
    # Measured on a synthetic 2M-edge / diameter-63 graph at local[32]:
    # 108.6 s -> 88.0 s wall for the identical clustering (7 rounds
    # both ways), and per-round actions drop from an O(|edges|)
    # recompute + a label-frame join + count to one checkpoint + one
    # scan-only count. (A co-partitioned merge-hinted variant measured
    # the same within host noise; the simpler form is kept.)
    edges = pins.checkpoint(
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .union(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .distinct(), storage_level=None)
    labels = pins.checkpoint(
        edges.selectExpr("src AS doc_id")
        .union(edges.selectExpr("dst AS doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id")), storage_level=None)
    changed = 1
    for _ in range(max_iter):
        # (1) each node adopts the min label among itself and its neighbors
        neighbor_min = (
            edges.join(labels.withColumnRenamed("doc_id", "dst"), "dst")
            .groupBy("src").agg(F.min("cluster_id").alias("nbr_min"))
            .withColumnRenamed("src", "doc_id"))
        updated = (
            labels.join(neighbor_min, "doc_id", "left")
            .select("doc_id",
                    F.col("cluster_id").alias("__old"),
                    F.least(F.col("cluster_id"),
                            F.coalesce(F.col("nbr_min"), F.col("cluster_id")))
                    .alias("cluster_id")))
        # (2) pointer jump through the previous labels: L(x) <- L_prev(U(x)).
        # U(x) is a node id (min over node ids), so the join resolves.
        jump = labels.select(F.col("doc_id").alias("cluster_id"),
                             F.col("cluster_id").alias("__jump2"))
        updated = (
            updated.join(jump, "cluster_id", "left")
            .select("doc_id", "__old",
                    F.coalesce(F.col("__jump2"), F.col("cluster_id"))
                    .alias("cluster_id")))
        updated = pins.checkpoint(updated, storage_level=None)
        changed = updated.where(F.col("cluster_id") != F.col("__old")).count()
        labels = updated.select("doc_id", "cluster_id")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still moving) — raise max_iter")
    return labels


class IncrementalNearDupIndex:
    """Near-dup candidate detection for an APPEND-ONLY corpus without
    recomputing old pairs: MinHash signatures persist in a keyed
    ``ParquetTable`` (manifest-committed), and each new batch

      1. computes its signatures once (k BIGINT minhashes — tens of
         bytes per doc regardless of document size),
      2. pairs the batch's banded hashes against the stored banded
         hashes with an O(batch)-sized PLAN (``_batch_vs_stored_pairs``:
         broadcast semi-join prunes stored rows to touched buckets with
         the stored side streaming — never shuffled — then
         broadcast(new) ⋈ survivors plus a tiny new×new self-join);
         old×old pairs were reported when those docs arrived and cannot
         appear (no new member), so incremental cost is
         O(batch × collision rate), never O(corpus²),
      3. upserts the new signatures (idempotent: re-adding a doc
         refreshes its signature).

    The index deliberately stores no payloads; exact Jaccard
    verification of the returned candidates needs the texts and stays
    with the caller (``jaccard_verify``). The same ``max_bucket`` guard
    caps degenerate buckets across the combined old+new frame. At
    corpus scale, bucket the signature table (``buckets=N``) so the
    upsert rewrites only touched buckets.

    Reference parity: the reference re-scans its whole news table to
    skip already-seen URLs per run (newsflow_scraper.py:243-293); this
    is the near-dup generalization with O(new) incremental work.
    """

    def __init__(self, spark: SparkSession, path: str, *, k: int = 8,
                 bands: int = 4,
                 max_bucket: int | None = LSH_MAX_BUCKET_DEFAULT,
                 buckets: int | None = None,
                 banded_store: bool = False):
        from tradingview_data_pipeline_spark.operators.merge import ParquetTable
        assert k % bands == 0
        self.k, self.bands, self.max_bucket = k, bands, max_bucket
        schema = T.StructType(
            [T.StructField("doc_id", T.LongType())]
            + [T.StructField(f"m{j}", T.LongType()) for j in range(k)])
        self.table = ParquetTable(spark, path, schema, "doc_id",
                                  buckets=buckets)
        # opt-in 1B-doc mode: per-trigger reads prune to touched bucket
        # DIRECTORIES instead of streaming the whole signature table
        # (see BandedBucketStore for semantics + crash protocol).
        # SIBLING directory, not nested: the signature table's manifest
        # GC removes directories it doesn't own from its own path
        self.store = BandedBucketStore(
            spark, path.rstrip("/") + "_banded",
            max_bucket=max_bucket, buckets=buckets) if banded_store \
            else None

    def _bk(self, banded: DataFrame) -> DataFrame:
        return banded.select(
            F.col("doc_id").alias("id"),
            F.concat_ws(":", F.col("band").cast("string"),
                        F.col("bh")).alias("bk"),
            F.lit(0).cast("long").alias("pl"))

    def add_and_find(self, df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
        """Register a batch; return DISTINCT candidate pairs
        (doc_a < doc_b) where at least one side is from this batch."""
        new_sigs = _minhash_agg(
            df.select(F.col(id_col).cast("long").alias("doc_id"),
                      F.col(text_col)),
            "doc_id", text_col, self.k).localCheckpoint(eager=True)
        new_ids = new_sigs.select("doc_id")
        new_banded = _banded_signatures(new_sigs, "doc_id", self.k,
                                        self.bands)
        if self.store is not None:
            # re-added docs: their OLD band keys (bucket-pruned point
            # reads on the batch ids) must leave the store's buckets
            old_banded = self._bk(_banded_signatures(
                self.table.read_matching(new_ids)
                .join(F.broadcast(new_ids), "doc_id", "left_semi"),
                "doc_id", self.k, self.bands)).select("id", "bk")
            raw = self.store.add_and_pairs(self._bk(new_banded),
                                           old_banded)
        else:
            stored = self.table.read()
            stored_banded = _banded_signatures(
                stored.join(F.broadcast(new_ids), "doc_id", "left_anti"),
                "doc_id", self.k, self.bands)
            # O(batch) plan: the stored side streams under broadcast
            # joins (never shuffled); see _batch_vs_stored_pairs
            raw = _batch_vs_stored_pairs(
                new_banded, stored_banded, ["band", "bh"], "doc_id",
                self.max_bucket)
        pairs = (raw
                 .select(F.col("id_a").alias("doc_a"),
                         F.col("id_b").alias("doc_b"))
                 .distinct())
        pairs = pairs.localCheckpoint(eager=True)   # pin before the upsert
        self.table.merge_upsert(new_sigs)
        return pairs

    def compact(self) -> None:
        """Maintenance: rewrite the persisted signature table's live
        buckets to one file each. Streaming-cadence ``add_and_find``
        calls leave a file per shuffle task per touched bucket behind;
        compaction bounds the file count without changing any result —
        crash-safe via the same manifest commit as every maintenance
        op."""
        self.table.compact()
        if self.store is not None:
            self.store.compact()

    def rebuild_store(self) -> None:
        """Backfill/repair the banded store from the (authoritative)
        signature table — run once when enabling ``banded_store`` on a
        pre-existing index."""
        assert self.store is not None
        self.store.rebuild_from(self._bk(_banded_signatures(
            self.table.read(), "doc_id", self.k, self.bands)))


class IncrementalSimHashIndex:
    """Hamming-radius retrieval for an append-only corpus: 60-bit SimHash
    signatures persist in a keyed ``ParquetTable``; each batch pairs its
    chunked signature against the stored chunks with the same
    O(batch)-plan join shape as ``IncrementalNearDupIndex``
    (``_batch_vs_stored_pairs``: the stored side streams under broadcast
    joins, never shuffled) and returns exact
    (doc_a, doc_b, hamming <= max_hamming) pairs. Same pigeonhole recall
    guarantee as ``simhash_candidate_pairs`` (exact within the radius
    when ``max_hamming <= bands - 1``), same degenerate-bucket cap, 8
    bytes of state per doc."""

    def __init__(self, spark: SparkSession, path: str, *, bits: int = 60,
                 bands: int = 4, max_hamming: int = 3,
                 max_bucket: int | None = LSH_MAX_BUCKET_DEFAULT,
                 buckets: int | None = None,
                 banded_store: bool = False):
        from tradingview_data_pipeline_spark.operators.merge import ParquetTable
        assert bits % bands == 0 and bits <= SIMHASH_MAX_BITS
        self.bits, self.bands = bits, bands
        self.max_hamming, self.max_bucket = max_hamming, max_bucket
        schema = T.StructType([T.StructField("doc_id", T.LongType()),
                               T.StructField("simhash", T.LongType())])
        self.table = ParquetTable(spark, path, schema, "doc_id",
                                  buckets=buckets)
        # same read-pruned mode as IncrementalNearDupIndex; the simhash
        # rides in the store's payload slot so hamming runs on pairs
        self.store = BandedBucketStore(
            spark, path.rstrip("/") + "_banded",
            max_bucket=max_bucket, buckets=buckets) if banded_store \
            else None

    def _bk(self, banded: DataFrame) -> DataFrame:
        return banded.select(
            F.col("doc_id").alias("id"),
            F.concat_ws(":", F.col("band").cast("string"),
                        F.col("chunk").cast("string")).alias("bk"),
            F.col("simhash").alias("pl"))

    def _banded(self, sigs: DataFrame) -> DataFrame:
        chunk_bits = self.bits // self.bands
        mask = (1 << chunk_bits) - 1
        entries = ", ".join(
            f"CAST({b} AS INT), shiftright(simhash, {b * chunk_bits}) & {mask}"
            for b in range(self.bands))
        return (sigs.where(F.col("simhash").isNotNull())
                .select("doc_id", "simhash",
                        F.expr(f"stack({self.bands}, {entries})"
                               " AS (band, chunk)")))

    def add_and_find(self, df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
        """Register a batch; return DISTINCT (doc_a < doc_b, hamming)
        pairs within the radius where at least one side is new."""
        new_sigs = simhash_table(
            df.select(F.col(id_col).cast("long").alias("doc_id"),
                      F.col(text_col)),
            "doc_id", text_col, bits=self.bits).localCheckpoint(eager=True)
        new_ids = new_sigs.select("doc_id")
        if self.store is not None:
            old_banded = self._bk(self._banded(
                self.table.read_matching(new_ids)
                .join(F.broadcast(new_ids), "doc_id", "left_semi"))) \
                .select("id", "bk")
            raw = self.store.add_and_pairs(
                self._bk(self._banded(new_sigs)), old_banded)
            ham = F.bit_count(F.col("pl_a").bitwiseXOR(F.col("pl_b")))
        else:
            stored = self.table.read()
            stored_banded = self._banded(
                stored.join(F.broadcast(new_ids), "doc_id", "left_anti"))
            # O(batch) plan — see _batch_vs_stored_pairs; simhash rides
            # along so hamming is computed on the (small) pair set only
            raw = _batch_vs_stored_pairs(
                self._banded(new_sigs), stored_banded, ["band", "chunk"],
                "doc_id", self.max_bucket, payload_cols=("simhash",))
            ham = F.bit_count(
                F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        pairs = (raw.where(ham <= self.max_hamming)
                 .select(F.col("id_a").alias("doc_a"),
                         F.col("id_b").alias("doc_b"),
                         ham.alias("hamming"))
                 .distinct()
                 .localCheckpoint(eager=True))  # pin before the upsert
        self.table.merge_upsert(new_sigs)
        return pairs

    def compact(self) -> None:
        """Same small-file maintenance as
        ``IncrementalNearDupIndex.compact`` — see there."""
        self.table.compact()
        if self.store is not None:
            self.store.compact()

    def rebuild_store(self) -> None:
        """Backfill/repair the banded store from the signature table —
        see ``IncrementalNearDupIndex.rebuild_store``."""
        assert self.store is not None
        self.store.rebuild_from(self._bk(self._banded(self.table.read())))


def dedup_clusters(df: DataFrame, id_col: str, text_col: str,
                   *, k: int = 16, bands: int = 4,
                   jaccard_threshold: float = 0.5,
                   scored_pairs: DataFrame | None = None,
                   max_bucket: int | None = LSH_MAX_BUCKET_DEFAULT
                   ) -> DataFrame:
    """Full near-dup clustering: LSH candidates -> Jaccard verify ->
    connected components -> (id, cluster_id, is_keeper). Isolated docs
    form singleton clusters.

    Pass ``scored_pairs`` (an UNthresholded ``jaccard_verify`` result,
    ideally cached) to reuse the shingle/LSH work across operators —
    the threshold is applied here as a plain filter either way."""
    if scored_pairs is None:
        # the set frame feeds the minhash aggregate AND both
        # jaccard_verify join sides — unpinned, the tokenize + md5 pass
        # re-runs per consumer (guide §2.4). Docs-sized (one array per
        # doc); pins.checkpoint is DISK_ONLY, so it never competes with
        # the verify joins' execution memory (addendum-16 rule).
        sets = pins.checkpoint(shingle_sets(df, id_col, text_col))
        pairs = lsh_candidate_pairs(df, id_col, text_col, k=k, bands=bands,
                                    shingles=sets, max_bucket=max_bucket)
        scored_pairs = jaccard_verify(pairs, sets, id_col)
    verified = scored_pairs.where(F.col("jaccard") >= jaccard_threshold) \
        .select("doc_a", "doc_b")
    comp = connected_components(verified)
    out = (df.select(F.col(id_col).alias("doc_id"))
           .join(comp, "doc_id", "left")
           .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
           .withColumn("is_keeper", (F.col("doc_id") == F.col("cluster_id"))))
    return out


def suggest_minhash_bands(k: int, threshold: float) -> int:
    """Band count for a k-minhash signature targeting a Jaccard
    ``threshold``: the LSH S-curve puts the collision-probability
    midpoint at t ~ (1/b)^(r/k · k/r)^-1 = (1/b)^(1/r) with k = b·r;
    pick the divisor b of k whose midpoint lands closest to the target
    (log-space, so 0.25-vs-0.5 and 0.5-vs-1.0 misses weigh equally).

    This is the MinHash sibling of
    ``similarity.suggest_lsh_chunk_bits``: the third-decade scale bench
    measured k=8/b=4 (r=2, midpoint ~0.5 but a heavy low-similarity
    collision tail) at x34 for 10x docs, and r=4 (midpoint ~0.59,
    sharper curve) at x7.5 with only borderline pairs lost — raising
    rows-per-band is how the candidate budget stays linear as a corpus
    grows past its banding's design point.
    """
    import math
    assert 0.0 < threshold < 1.0
    best, best_err = 1, float("inf")
    for b in range(1, k + 1):
        if k % b:
            continue
        mid = (1.0 / b) ** (b / k)          # (1/b)^(1/r), r = k/b
        err = abs(math.log(mid) - math.log(threshold))
        if err < best_err:
            best, best_err = b, err
    return best


# ---------------------------------------------------------------------------
# Asymmetric n-gram containment — the dedup granularity resemblance
# metrics miss. Jaccard (q28) scores |A∩B| / |A∪B|, so a short document
# quoted wholesale inside a much larger one scores near zero; containment
# |A∩B| / |A| scores it 1.0. This is the "containment MinHash" problem
# (Broder 1997's two resemblance/containment measures); here the n-gram
# sets are small enough per doc that we compute containment EXACTLY over
# a df-capped gram universe instead of sketching it.
# ---------------------------------------------------------------------------

def containment_pairs(df: DataFrame, id_col: str, text_col: str, *,
                      n: int = 8, threshold: float = 0.5,
                      max_gram_docs: int = 1000,
                      gram_counts: DataFrame | None = None,
                      gram_doc_freq: DataFrame | None = None,
                      partitions: int | None = None) -> DataFrame:
    """Directed near-containment pairs: one row per (doc, partner) where
    at least ``threshold`` of the doc's word ``n``-grams also appear in
    the partner — catching subset/quote duplication (a doc embedded in a
    larger page) that symmetric Jaccard scores near zero.

    Containment is computed over the CAPPED gram universe: grams held by
    fewer than 2 docs cannot contribute to an intersection and are
    dropped before the join; grams held by more than ``max_gram_docs``
    docs are corpus boilerplate and are excluded from BOTH the numerator
    and the denominator (a deterministic definition the oracle mirrors —
    and the quadratic-fanout guard: per-gram pair fanout is bounded by
    max_gram_docs², the same cap discipline as LSH bucket capping).
    Docs with zero in-universe grams emit no rows.

    Output: (doc_id, partner_id, shared, n_grams, containment) with
    ``containment = shared / n_grams`` ≥ threshold — integer counts and
    one exact IEEE division, engine-reproducible. Every shuffle carries
    8-byte md5-60 gram hashes, never text.

    ``gram_counts``: optional precomputed ``corpus.span_gram_counts``
    frame — multi-consumer callers (q72's two legs) pin it DISK_ONLY
    and share it; ``n`` is ignored when provided. ``partitions``:
    width hint for the per-gram shuffles (see ``span_gram_counts`` —
    the gram stream is ~90x the doc count and the session's small-data
    shuffle width under-partitions it at large corpora). Everything
    AFTER the universe filter is inherently small (only df>=2 grams
    survive), so the hint applies to the two gram-cardinality stages
    only.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if max_gram_docs < 2:
        raise ValueError(f"max_gram_docs must be >= 2, got {max_gram_docs}")
    if gram_counts is None:
        from tradingview_data_pipeline_spark.operators import corpus as _cp
        gram_counts = _cp.span_gram_counts(df, id_col, text_col, n=n,
                                           partitions=partitions)
    grams = gram_counts.select(id_col, "h")
    if partitions is not None:
        grams = grams.repartition(partitions, F.col("h"))
    # gram_doc_freq: optional precomputed (h, nd) frame (shared with
    # dup_span_profile by q72 — the by-h aggregate is the other heavy
    # shuffle over the substrate)
    nd = (gram_doc_freq if gram_doc_freq is not None
          else grams.groupBy("h").agg(F.count(F.lit(1)).alias("nd")))
    kept = (grams.join(nd.where((F.col("nd") >= 2)
                                & (F.col("nd") <= max_gram_docs)), "h")
            .select(id_col, "h"))
    sizes = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    a = kept.select(F.col(id_col).alias("_ida"), "h")
    b = kept.select(F.col(id_col).alias("_idb"), "h")
    shared = (a.join(b, "h")
              .where(F.col("_ida") < F.col("_idb"))
              .groupBy("_ida", "_idb")
              .agg(F.count(F.lit(1)).alias("shared")))
    directed = shared.unionByName(
        shared.select(F.col("_idb").alias("_ida"),
                      F.col("_ida").alias("_idb"), "shared"))
    return (directed
            .join(sizes.withColumnRenamed(id_col, "_ida"), "_ida")
            .withColumn("containment",
                        F.col("shared").cast("double")
                        / F.col("n_grams").cast("double"))
            .where(F.col("containment") >= F.lit(threshold))
            .select(F.col("_ida").alias(id_col),
                    F.col("_idb").alias(f"partner_{id_col}"),
                    "shared", "n_grams", "containment"))


class IncrementalContainmentIndex:
    """Quote/subset detection for an APPEND-ONLY corpus: "does this new
    document substantially appear in the corpus already (or contain a
    stored document)?" — the incremental form of ``containment_pairs``,
    with the same O(batch)-plan discipline as the other incremental
    indexes.

    State is ONE keyed ``ParquetTable`` row per document:
    ``(doc_id, grams array<bigint>, n_grams)`` — the doc's distinct
    word-n-gram md5-60 hashes (~8 bytes of state per distinct gram;
    re-adding a doc refreshes its row). Each batch:

      1. computes its per-doc distinct gram sets once
         (``corpus.span_gram_counts``),
      2. pairs batch grams against stored grams via
         ``_batch_vs_stored_pairs`` keyed on the gram hash — the stored
         side explodes map-side and streams under broadcast joins
         (never shuffled); the NON-distinct pair stream has exactly one
         row per shared gram, so ``shared = count per pair``,
      3. attaches denominators (batch counts in-batch; stored partners
         via a bucket-pruned ``read_matching`` point read) and emits
         DIRECTED rows where ``shared / n_grams >= threshold``.

    Contract differences vs the batch operator (deliberate — stored
    denominators must not go stale as the corpus grows):
    ``n_grams`` is the doc's FULL distinct gram count fixed at
    registration (not the df-capped universe), and the
    ``max_gram_docs`` cap drops hot grams from the NUMERATOR only
    (population counted over stored+batch holders per touched gram) —
    so reported containment is a LOWER BOUND for docs made of corpus
    boilerplate, and exact for pairs sharing only sub-cap grams.

    Crash protocol: the returned pairs are pinned before the single
    table upsert; replaying a batch after a crash re-reports its pairs
    and re-upserts identical rows (idempotent), so replay converges —
    same story as ``IncrementalNearDupIndex``.

    Scale contract (measured, INCR_BENCH_r9/r10): per-trigger cost is
    flat through ~500k stored docs (~5-8 s at a fixed 500-doc batch)
    and starts tracking the store SCAN at the 5M-doc decade (17-23 s in
    ``probe='scan'``). The ``BandedBucketStore`` read-pruned mode
    deliberately does NOT apply here, and the reason is arithmetic, not
    taste: a 500-doc batch probes ~46k distinct gram keys (vs ~2k band
    keys for MinHash), so (a) at any practical bucket-directory count
    B, the expected fraction of directories touched is
    1 - exp(-46k/B) ≈ 1 — "pruning" reads everything and the
    copy-on-write rewrite makes writes strictly worse; (b) per-bucket
    Bloom summaries die on the probe side — 46k probes per trigger
    need per-probe fp << 1/46k (~30 bits/key, GBs of summaries);
    (c) exact prefix filtering (PPJoin-style) at the default
    threshold 0.5 only halves the probe keys — pigeonhole gives a
    (1-t)·|set|+1 prefix, no better. The levers that DO hold, both
    measured at 5M stored docs (round 10, phase-profiled; SCALING.md
    round-10 addendum 26, evidence/INCR_BENCH_r10.jsonl):

      * the ParquetTable hardlink insert fast path — the largest
        phase of the trigger was not the probe but the UPSERT's
        copy-on-write of every touched bucket (6.9 s of 15.1 s);
        with fresh-key batches committing as hardlink appends it
        drops to 2.9 s and the trigger to ~13 s;
      * keep the bucket count LOW (32-class) for this read-dominated
        doc-keyed store: a 4096-bucket layout was measured WORSE in
        every phase (probe 4.8 -> 14.7 s, upsert 2.9 -> 10 s — 1.2k
        rows/bucket makes tiny files whose open/scheduling overhead
        swamps any pruning).

    ``probe='arrow'`` (opt-in) replaces the stored-side codegen
    explode+broadcast-probe with a vectorized Arrow searchsorted pass;
    it is output-identical (pytest-pinned) but MEASURED SLOWER at
    every decade (7.6 vs 4.8 s at 5M) — the full gram column must
    cross the JVM->Python Arrow boundary, which costs more than the
    codegen probe it avoids. ``probe='auto'`` therefore always takes
    'scan'; the option is kept as the measured negative result and for
    deployments where the Arrow boundary is cheaper. The remaining
    floor is the ~3.6 GB stored-gram columnar read (~4.8 s at 32
    threads). Past ~50M docs, shard the corpus (per-source indexes)
    or raise the batch size so the read amortizes.
    """

    def __init__(self, spark: SparkSession, path: str, *, n: int = 8,
                 threshold: float = 0.5,
                 max_gram_docs: int | None = 1000,
                 buckets: int | None = None,
                 probe: str = "auto"):
        from tradingview_data_pipeline_spark.operators.merge import ParquetTable
        if not 0.0 < threshold <= 1.0:
            raise ValueError(f"threshold must be in (0, 1], got {threshold}")
        if max_gram_docs is not None and max_gram_docs < 2:
            # same contract as containment_pairs: a cap below 2 drops
            # every shared gram and the index silently reports nothing
            raise ValueError(
                f"max_gram_docs must be >= 2 or None, got {max_gram_docs}")
        if probe not in ("auto", "scan", "arrow"):
            raise ValueError(f"probe must be auto/scan/arrow, got {probe!r}")
        self.probe = probe
        self.n, self.threshold = n, threshold
        self.max_gram_docs = max_gram_docs
        schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("grams", T.ArrayType(T.LongType())),
            T.StructField("n_grams", T.LongType()),
        ])
        self.table = ParquetTable(spark, path, schema, "doc_id",
                                  buckets=buckets)

    def add_and_find(self, df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
        """Register a batch; return DIRECTED rows
        (doc_id, partner_doc_id, shared, n_grams, containment) where at
        least one side is from this batch and the doc_id side's
        containment in the partner clears the threshold."""
        from tradingview_data_pipeline_spark.operators import corpus as _cp
        batch = df.select(F.col(id_col).cast("long").alias("doc_id"),
                          F.col(text_col))
        # intra-batch duplicate doc_ids would silently UNION both texts'
        # gram sets below (neither text's row, and not the documented
        # re-add refresh either) — fail loudly instead; the check is one
        # batch-sized doc_id-only job per trigger
        dup = (batch.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
               .where(F.col("c") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                f"IncrementalContainmentIndex.add_and_find: doc_id "
                f"{dup[0]['doc_id']} appears {dup[0]['c']}x in one batch "
                "— dedup the batch first (re-add semantics refresh a "
                "row across batches, not within one)")
        agg = (_cp.span_gram_counts(batch, "doc_id", text_col, n=self.n)
               .groupBy("doc_id")
               .agg(F.collect_list("h").alias("grams"),
                    F.count(F.lit(1)).alias("n_grams")))
        # docs shorter than n words have ZERO grams but must still
        # register (an empty row) — otherwise re-adding a doc with new
        # short text would silently keep its stale gram set
        new_rows = (batch.select("doc_id").distinct()
                    .join(agg, "doc_id", "left")
                    .select("doc_id",
                            F.coalesce(F.col("grams"), F.expr(
                                "CAST(array() AS array<bigint>)"))
                            .alias("grams"),
                            F.coalesce(F.col("n_grams"), F.lit(0))
                            .cast("bigint").alias("n_grams"))
                    .localCheckpoint(eager=True))
        new_ids = new_rows.select("doc_id")
        new_g = new_rows.select(
            "doc_id", F.explode("grams").alias("h"))
        # 'auto' is always the scan probe — the arrow path measured
        # slower at every store size (class docstring); it remains
        # available as an explicit opt-in only
        if self.probe == "arrow":
            stored_g = self._arrow_probe(new_rows)
        else:
            stored_g = (self.table.read()
                        .join(F.broadcast(new_ids), "doc_id", "left_anti")
                        .select("doc_id", F.explode("grams").alias("h")))
        raw = _batch_vs_stored_pairs(new_g, stored_g, ["h"], "doc_id",
                                     self.max_gram_docs)
        # pin the (small, pair-bounded) shared counts: partners is
        # collected for the bucket-pruned point read and the output
        # consumes directed twice (main input + sizes) — unpinned, the
        # batch-vs-stored join would re-execute three times per trigger
        shared = (raw.groupBy("id_a", "id_b")
                  .agg(F.count(F.lit(1)).alias("shared"))
                  .localCheckpoint(eager=True))
        directed = shared.unionByName(
            shared.select(F.col("id_b").alias("id_a"),
                          F.col("id_a").alias("id_b"), "shared"))
        partners = directed.select(F.col("id_a").alias("doc_id")).distinct()
        # stored denominators: anti-join the batch ids — a RE-ADDED
        # doc's denominator must come from its refreshed row only (the
        # pre-upsert read would otherwise emit a second, stale-sized
        # containment row for the same pair)
        sizes = (new_rows.select("doc_id", "n_grams").unionByName(
            self.table.read_matching(partners)
            .join(F.broadcast(partners), "doc_id", "left_semi")
            .join(F.broadcast(new_ids), "doc_id", "left_anti")
            .select("doc_id", "n_grams")))
        out = (directed
               .join(sizes.withColumnRenamed("doc_id", "id_a"), "id_a")
               .withColumn("containment",
                           F.col("shared").cast("double")
                           / F.col("n_grams").cast("double"))
               .where(F.col("containment") >= F.lit(self.threshold))
               .select(F.col("id_a").alias("doc_id"),
                       F.col("id_b").alias("partner_doc_id"),
                       "shared", "n_grams", "containment")
               .localCheckpoint(eager=True))   # pin before the upsert
        self.table.merge_upsert(new_rows)
        return out

    def _arrow_probe(self, new_rows: DataFrame) -> DataFrame:
        """Vectorized stored-side probe: emit the stored (doc_id, h)
        rows whose gram appears in the batch — the exact multiset the
        scan probe's anti-join + explode + broadcast-semi-join yields —
        WITHOUT ever exploding the stored table through codegen.

        One driver collect of the (checkpointed) batch gram arrays
        (O(batch) — ~46k longs at batch 500, a few hundred KB) builds a
        sorted int64 probe array, broadcast to the executors; a
        ``mapInPandas`` pass then flattens each Arrow chunk's gram
        lists into one contiguous int64 vector and keeps the hits via
        ``searchsorted`` — memory-bandwidth-bound, no shuffle, no join
        machinery, parallel over the store's file partitions.
        """
        import numpy as np
        import pandas as pd

        rows = new_rows.select("doc_id", "grams").collect()
        batch_ids = np.array(sorted(r["doc_id"] for r in rows),
                             dtype=np.int64)
        flat = [g for r in rows for g in r["grams"]]
        if not flat:
            return new_rows.sparkSession.createDataFrame(
                [], "doc_id long, h long")
        probe = np.unique(np.array(flat, dtype=np.int64))
        sc = new_rows.sparkSession.sparkContext
        b_probe, b_ids = sc.broadcast(probe), sc.broadcast(batch_ids)

        def hits(it):
            bg, bid = b_probe.value, b_ids.value
            for pdf in it:
                ids = pdf["doc_id"].to_numpy()
                # exclude the batch's own (re-added) rows, same as the
                # scan path's anti-join on new_ids
                pos = np.searchsorted(bid, ids)
                own = (pos < len(bid)) & \
                    (bid[np.minimum(pos, len(bid) - 1)] == ids)
                if own.any():
                    pdf = pdf[~own]
                    ids = ids[~own]
                if not len(pdf):
                    continue
                grams = pdf["grams"].to_list()
                lens = np.fromiter((len(g) for g in grams),
                                   dtype=np.int64, count=len(grams))
                if not lens.sum():
                    continue
                vals = np.concatenate(
                    [np.asarray(g, dtype=np.int64)
                     for g in grams if len(g)])
                pos = np.searchsorted(bg, vals)
                hit = (pos < len(bg)) & \
                    (bg[np.minimum(pos, len(bg) - 1)] == vals)
                if hit.any():
                    yield pd.DataFrame(
                        {"doc_id": np.repeat(ids, lens)[hit],
                         "h": vals[hit]})

        return (self.table.read().select("doc_id", "grams")
                .mapInPandas(hits, "doc_id long, h long"))

    def compact(self) -> None:
        """Maintenance: rewrite live buckets to one file each."""
        self.table.compact()


class ShardedContainmentIndex:
    """Per-shard containment indexing — the documented past-~50M lever
    made code (round 11; ``IncrementalContainmentIndex`` docstring: the
    per-trigger floor is the stored-gram columnar read, ~3.6 GB at 5M
    docs, so past ~50M "shard the corpus (per-source indexes) or raise
    the batch size"). One ``IncrementalContainmentIndex`` per shard
    value under ``<path>/shard_<sanitized>-<md5_8>/``; a batch routes by
    its ``shard_col`` and each trigger reads ONLY the shards the batch
    touches — a single-source batch against an S-shard store reads 1/S
    of the gram mass, so per-trigger cost tracks docs-per-touched-shard,
    not total store size (measured:
    evidence/CONTAINMENT_SHARD_BENCH_r11.jsonl, SCALING addendum 30).

    Semantics contract (deliberate, documented): containment pairs are
    reported WITHIN a shard only. Sharding by source encodes the policy
    that quote/subset duplication is a within-source-family phenomenon
    (the same scoping CCNet applies to per-snapshot URL dedup); a doc
    quoting a document of ANOTHER source is out of scope by
    construction. Callers needing global scope keep the unsharded
    index and pay its read floor.

    Crash/replay: each shard rides the underlying index's idempotent
    protocol unchanged; a replayed batch re-touches the same shards and
    converges. New shard values create their store lazily on first
    batch. NULL shard values are a routing bug and fail loudly.
    """

    def __init__(self, spark: SparkSession, path: str, *,
                 shard_col: str, **index_kwargs):
        self.spark, self.path = spark, path
        self.shard_col = shard_col
        self._kw = index_kwargs
        self._shards: dict[str, IncrementalContainmentIndex] = {}

    def _shard_dir(self, value) -> str:
        import hashlib
        import re as _re
        s = str(value)
        safe = _re.sub(r"[^A-Za-z0-9._-]", "_", s)[:40]
        h = hashlib.md5(s.encode()).hexdigest()[:8]
        return os.path.join(self.path, f"shard_{safe}-{h}")

    def shard(self, value) -> IncrementalContainmentIndex:
        """The per-value index handle (lazily constructed)."""
        key = str(value)
        if key not in self._shards:
            self._shards[key] = IncrementalContainmentIndex(
                self.spark, self._shard_dir(value), **self._kw)
        return self._shards[key]

    def add_and_find(self, df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
        """Route a batch to its shards; return the union of per-shard
        DIRECTED containment rows with the shard value prepended.
        The distinct-shard collect is bounded by sources-per-batch
        (crawl batches are typically single-source)."""
        batch = df.select(self.shard_col, id_col, text_col) \
                  .localCheckpoint(eager=True)      # one eval, S filters
        vals = [r[0] for r in
                batch.select(self.shard_col).distinct().collect()]
        if any(v is None for v in vals):
            raise ValueError(
                f"ShardedContainmentIndex: NULL {self.shard_col} in "
                "batch — shard routing requires a non-null shard value")
        outs = []
        for v in sorted(vals, key=str):
            sub = batch.where(F.col(self.shard_col) == F.lit(v)) \
                       .drop(self.shard_col)
            pairs = self.shard(v).add_and_find(sub, id_col, text_col)
            outs.append(pairs.select(
                F.lit(v).alias(self.shard_col), "*"))
        if not outs:
            return self.spark.createDataFrame(
                [], f"{self.shard_col} string, doc_id long, "
                    "partner_doc_id long, shared bigint, n_grams bigint, "
                    "containment double")
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    def compact(self) -> None:
        for idx in self._shards.values():
            idx.compact()
