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

import pandas as pd
import pyarrow as pa
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
        nodes = list({x for r in rows for x in (r["doc_a"], r["doc_b"])})
        # derive the id type from the input so string/any-typed doc ids work
        id_type = pairs.schema["doc_a"].dataType
        out_schema = T.StructType([T.StructField("doc_id", id_type),
                                   T.StructField("cluster_id", id_type)])
        # an Arrow table becomes a LocalTableScan on the JVM; a list of
        # tuples would run a PythonRDD stage on cold Python workers
        out = pa.table({"doc_id": nodes, "cluster_id": [find(x) for x in nodes]})
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
