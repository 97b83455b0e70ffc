"""Similarity search over embedding columns (array<float>).

Top-k search: brute-force cosine (a broadcast of the small query set
against the corpus; per-pair fold, or one BLAS matmul per Arrow batch),
multi-probe IVF (``ivf_topk``: search only the query's nearest centroid
cells via an equi-join on cell id) and int8-quantized dot products.
Near-dup retrieval: SemDeDup (exact integer centroid assignment and
within-cluster int8 Gram pairs) and sign-bit hyperplane LSH with exact
verification. Dimensionality reduction: exact-moment PCA and random
projection.

Numeric determinism: float dot products are left-to-right folds over
double-cast elements (Spark ``aggregate`` ≡ DuckDB ``list_reduce`` —
verified to produce bit-identical doubles); the centroid, SemDeDup and
LSH kernels score in integer arithmetic. Either way rankings and scores
are reproducible across engines.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Each higher-order function built through the Column API (F.aggregate /
# F.transform / F.zip_with with a Python lambda) costs ~10 py4j round
# trips of plan-build time; the SQL TEXT form parses the IDENTICAL
# named-lambda tree in one (the round-12 round_py_spark_sql pattern,
# guide §4's plan-build boundary). The helpers below dispatch on input
# type: a string (column name / SQL fragment) takes the parsed path,
# a composed Column keeps the Column API. Equality of the two forms is
# pinned by tests/test_text_dedup_similarity.py::test_sql_text_helpers.

_PLAIN_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _as_sql(c: "Column | str") -> str | None:
    """CONTRACT (documented; r13 advisor catch): a string argument to
    these helpers is a SQL FRAGMENT, deliberately wider than pyspark's
    bare-string-is-a-column-name convention — callers pass pre-built
    expressions (e.g. "`vec`", "transform(...)"). A string that is a
    plain identifier is backtick-quoted here so an unquoted column name
    resolves as a name and can never reparse as an expression."""
    if not isinstance(c, str):
        return None
    return f"`{c}`" if _PLAIN_IDENT.match(c) else c


def dot(a: "Column | str", b: "Column | str") -> Column:
    """Left-to-right fold of element products, all in double."""
    sa, sb = _as_sql(a), _as_sql(b)
    if sa is not None and sb is not None:
        return F.expr(
            f"aggregate(zip_with({sa}, {sb}, (x, y) -> CAST(x AS DOUBLE)"
            f" * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)")
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def l2_norm_sq(a: "Column | str") -> Column:
    sa = _as_sql(a)
    if sa is not None:
        return F.expr(
            f"aggregate(transform({sa}, x -> CAST(x AS DOUBLE)"
            f" * CAST(x AS DOUBLE)), 0.0D, (acc, v) -> acc + v)")
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: "Column | str", b: "Column | str") -> Column:
    return dot(a, b) / (F.sqrt(l2_norm_sq(a)) * F.sqrt(l2_norm_sq(b)))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                     vec_col: str, k: int = 5) -> DataFrame:
    """Top-k cosine neighbors per query (self excluded).

    ``queries`` is expected to be small — Spark broadcasts it, so the
    cross join is a map-side nested loop over the corpus (no shuffle of
    the corpus). Ranking ties broken by neighbor id. Norms are
    precomputed per row (not per pair) — the dot product is the only
    per-pair fold.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
                       F.sqrt(l2_norm_sq(f"`{vec_col}`")).alias("qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
                      F.sqrt(l2_norm_sq(f"`{vec_col}`")).alias("cn"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", dot("qv", "cv") / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )


def brute_force_topk_blas(corpus: DataFrame, queries: DataFrame, id_col: str,
                          vec_col: str, k: int = 5) -> DataFrame:
    """BLAS path for brute-force top-k: one numpy matmul per Arrow batch
    instead of a per-pair fold. Same contract as ``brute_force_topk``
    (small broadcastable query set, ties by neighbor id).

    Shape: queries are collected once (bounded by contract) and closed
    over; ``mapInPandas`` scores each corpus batch as a (batch x dim) @
    (dim x nq) matmul and emits only the batch-local top-k per query
    ordered by (cos desc, id asc) — so the shuffled candidate set is
    O(partitions * nq * k), never the corpus. A final per-query window
    over that bounded set yields the exact global top-k: per-batch top-k
    under a total order composes associatively.

    The fold path (``brute_force_topk``) stays the cross-engine-
    deterministic baseline (left-to-right sums match DuckDB bit-for-bit);
    matmul reassociates the sum, so cos here can differ in the last ulp —
    rankings agree unless two candidates are within ~1e-15. Crossover vs
    the fold: the fold's interpreted per-element expression tree loses to
    Arrow+BLAS from roughly 10^4-10^5 corpus rows x 64+ dims; at 2k rows
    the JVM fold wins (see bench).
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        id_t = corpus.schema[id_col].dataType.simpleString()
        return corpus.sparkSession.createDataFrame(
            [], f"query_id {id_t}, neighbor_id {id_t}, cos double, rk bigint")
    q_ids = np.array([r[0] for r in q_rows])
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)

    id_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {id_t}, neighbor_id {id_t}, cos double"

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            C = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            cn = np.linalg.norm(C, axis=1)
            S = (C @ Q.T) / (cn[:, None] * qn[None, :])
            out_q, out_n, out_c = [], [], []
            for j, qid in enumerate(q_ids):
                idx = np.nonzero(ids != qid)[0]
                if idx.size == 0:
                    continue
                # exact local top-k under (cos desc, id asc) — lexsort keys
                # are applied last-key-primary
                order = np.lexsort((ids[idx], -S[idx, j]))[:k]
                sel = idx[order]
                out_q.extend([qid] * sel.size)
                out_n.extend(ids[sel])
                out_c.extend(S[sel, j])
            if out_q:
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "cos": out_c})

    cand = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    return (cand.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .where(F.col("rk") <= k)
            .select("query_id", "neighbor_id", "cos", "rk"))


def ivf_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
             vec_col: str, bucket_col: str, centroids_long: DataFrame,
             *, nprobe: int = 2, k: int = 3) -> DataFrame:
    """Multi-probe IVF ANN: per query, rank the centroid table by
    squared-L2 (same exact fold as ``assign_nearest_centroid``), keep
    the ``nprobe`` nearest buckets as probes, and search ONLY those
    inverted lists via an equi-join on bucket id.

    ``nprobe=1`` degenerates to searching the assigned cluster;
    ``nprobe>1`` recovers neighbors that fall just across a Voronoi
    boundary — the classic IVF recall lever — at probe-proportional
    cost. Plan shape at scale: centroids broadcast to the (small) query
    set for probe ranking, then the (query, probe-bucket) frame —
    carrying each query vector once per probe — broadcasts to the
    corpus side, so the corpus is never shuffled and only probed
    buckets are scored. Ties break (dist, c_label) for probes and
    (cos desc, neighbor_id) for results, so output is deterministic
    cross-engine.
    """
    carr = _centroid_arrays(centroids_long, bucket_col)
    q0 = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qv"),
                        F.sqrt(l2_norm_sq(f"`{vec_col}`")).alias("qn"))
    sq = F.zip_with(F.col("qv"), F.col("cvec"),
                    lambda x, c: (x.cast("double") - c) * (x.cast("double") - c))
    pw = Window.partitionBy("query_id").orderBy(F.col("__cd").asc(),
                                                F.col("c_label").asc())
    probes = (
        q0.crossJoin(F.broadcast(carr))
        .withColumn("__cd", F.aggregate(sq, F.lit(0.0), lambda a, v: a + v))
        .withColumn("__pr", F.row_number().over(pw))
        .where(F.col("__pr") <= nprobe)
        .select("query_id", "qv", "qn", F.col("c_label").alias("bk"))
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cv"),
                      F.col(bucket_col).alias("bk"),
                      F.sqrt(l2_norm_sq(f"`{vec_col}`")).alias("cn"))
    scored = (
        c.join(F.broadcast(probes), "bk")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", dot("qv", "cv")
                    / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= k)
        .select("query_id", "bk", "neighbor_id", "cos", "rk")
    )


# ---------------------------------------------------------------------------
# Vector clustering primitives: exact (quantized) group centroids and
# nearest-centroid assignment — together, one deterministic Lloyd
# iteration.  Centroid math over floats is order-dependent in any
# engine's parallel SUM; quantizing each component to a 1e-6 integer
# grid first makes the accumulation associative (BIGINT sum) and thus
# layout- and engine-independent, while a plain groupBy/sum keeps
# map-side combine — the only centroid formulation that is BOTH
# 100 TB-scalable and cross-engine hash-stable.  (A float mean loses
# < 1e-6 absolute precision; for unit-norm embeddings that is far below
# any clustering decision boundary.)
# ---------------------------------------------------------------------------

CENTROID_GRID = 1_000_000.0  # 1e-6 element grid of the exact centroid math


def group_centroids_quantized(df: DataFrame, group_col: str,
                              vec_col: str) -> DataFrame:
    """Per-group element-wise mean on a 1e-6 grid: (group, dim, n,
    centroid, qcent).  Long-form posexplode -> BIGINT sum ``sq``;
    shuffle rows = groups x dims, payload 8 bytes.

    Two views of the one sum: ``centroid = sq / (n·1e6)`` (double, for
    the float folds of ``assign_nearest_centroid`` / ``ivf_topk``) and
    ``qcent = floor(sq / n)`` (BIGINT on the grid, for
    ``with_nearest_centroid_int``).  The one division is a single IEEE
    double op on exactly-representable integers (|sq| < 2^53 up to
    ~9e9 unit-norm rows), so ``qcent`` is bit-identical in Spark and
    DuckDB."""
    ex = df.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col)).alias("dim", "val"))
    q = ex.withColumn(
        "qv", F.floor(F.col("val").cast("double")
                      * F.lit(CENTROID_GRID)).cast("long"))
    return (
        q.groupBy(group_col, F.col("dim").cast("bigint").alias("dim"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("qv").alias("sq"))
        .withColumn("centroid",
                    F.col("sq").cast("double") / (F.col("n") * F.lit(CENTROID_GRID)))
        .withColumn("qcent", F.floor(F.col("sq").cast("double")
                                     / F.col("n").cast("double")).cast("long"))
        .drop("sq")
    )


def _centroid_arrays(centroids_long: DataFrame, group_col: str,
                     val_col: str = "centroid") -> DataFrame:
    """(group, dim, <val>) long form -> (c_label, cvec array) wide."""
    return (
        centroids_long
        .groupBy(F.col(group_col).alias("c_label"))
        .agg(F.array_sort(
            F.collect_list(F.struct("dim", F.col(val_col).alias("v")))).alias("a"))
        .select("c_label", F.expr("transform(a, x -> x.v)").alias("cvec"))
    )


def assign_nearest_centroid(df: DataFrame, id_col: str, vec_col: str,
                            centroids_long: DataFrame,
                            group_col: str) -> DataFrame:
    """Assign each vector to its nearest centroid by squared L2.

    ``centroids_long`` is (group, dim, centroid) long form (e.g. from
    ``group_centroids_quantized``); it is pivoted to per-group arrays
    and broadcast, so the assignment is a map-side broadcast
    nested-loop over k centroids — no shuffle of the vectors.  The
    distance is a left-to-right fold (bit-identical to DuckDB
    ``list_reduce``); ties break on the smaller centroid id.
    """
    carr = _centroid_arrays(centroids_long, group_col)
    sq = F.zip_with(
        F.col(vec_col), F.col("cvec"),
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c))
    dist = F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v)
    scored = (
        df.crossJoin(F.broadcast(carr))
        .withColumn("dist", dist)
    )
    w = Window.partitionBy(id_col).orderBy(F.col("dist").asc(),
                                           F.col("c_label").asc())
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(id_col, F.col("c_label").alias("assigned"), "dist")
    )


def with_nearest_centroid_int(df: DataFrame, vec_col: str,
                              centroids_long: DataFrame, group_col: str, *,
                              out_assigned: str = "assigned",
                              out_dist: str = "dist",
                              probes_col: str | None = None,
                              probes: int = 1) -> DataFrame:
    """EXACT nearest-centroid assignment at any k — integer squared-L2
    on the 1e-6 grid via one int64 matmul per Arrow batch.

    Vectors and centroids quantize to BIGINT (``floor(v·1e6)``; the
    ``qcent`` column of ``group_centroids_quantized``), and
    ``dist = Σ (qv−qc)²`` is pure integer arithmetic — associative, so
    the numpy ``‖x‖² − 2xCᵀ + ‖c‖²`` decomposition is EXACT (terms
    bounded by 64·(2e6)² ≈ 2.6e14 « 2^63) and a DuckDB per-dim SUM over
    the same integers produces the identical BIGINT (the q77 oracle).
    The vectorized kernel is what makes large k affordable: an
    interpreted per-row fold over k centroids is O(k·d) expression work
    and was killed at 35 min at k=800, where this path takes ~3 s
    (200k vectors on a 32-core host; evidence/SEMDEDUP_BENCH_r9.jsonl;
    SCALING.md round-8 addendum 10, round-9 addendum 24). Ties break
    to the smaller label (label-sorted centroid matrix, argmin-first).
    ``out_dist`` is BIGINT in grid² units. ``probes_col``: also emit the
    distance-ordered top-``probes`` labels (stable argsort ⇒
    label-ascending on exact ties)."""
    import numpy as np

    carr = _centroid_arrays(centroids_long, group_col,
                            val_col="qcent").orderBy("c_label")
    rows = carr.collect()
    if not rows:
        raise ValueError("centroids_long is empty")
    labels = [r["c_label"] for r in rows]
    cmat = np.asarray([r["cvec"] for r in rows], dtype=np.int64)
    cnorm = (cmat * cmat).sum(axis=1)
    p = min(probes, len(labels))
    label_arr = np.asarray(labels)

    label_field = [f for f in centroids_long.schema
                   if f.name == group_col][0]
    fields = list(df.schema.fields) + [
        T.StructField(out_assigned, label_field.dataType),
        T.StructField(out_dist, T.LongType()),
    ]
    if probes_col is not None:
        fields.append(T.StructField(probes_col,
                                    T.ArrayType(label_field.dataType)))
    out_schema = T.StructType(fields)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64)
                            for v in pdf[vec_col]])
            q = np.floor(x * CENTROID_GRID).astype(np.int64)
            d2 = ((q * q).sum(axis=1)[:, None]
                  - 2 * (q @ cmat.T) + cnorm[None, :])
            idx = d2.argmin(axis=1)
            pdf = pdf.copy()
            pdf[out_assigned] = label_arr[idx]
            pdf[out_dist] = d2[np.arange(len(pdf)), idx]
            if probes_col is not None:
                top = np.argsort(d2, axis=1, kind="stable")[:, :p]
                pdf[probes_col] = [label_arr[t].tolist() for t in top]
            yield pdf

    return df.mapInPandas(assign, out_schema)


def embedding_near_dups_int(corpus: DataFrame, id_col: str, vec_col: str,
                            bucket_col: str, *, threshold: float = 0.95,
                            max_bucket: int | None = 10_000,
                            block: int = 2048) -> DataFrame:
    """Within-bucket near-dup pairs by EXACT int8-quantized cosine:
    (id_a < id_b, bk, cos) for every same-bucket pair with
    cos >= ``threshold``.

    Each bucket is one ``applyInPandas`` group: vectors int8-quantize
    (identical IEEE ops to ``quantize_int8``), the pair scores come
    from one integer Gram matmul per row-block (exact — integer
    arithmetic is associative), and only the surviving pairs
    materialize; a pair join with a per-pair fold instead ships two
    vectors per candidate pair (measured ~50k pairs/s at 32 cores, the
    q77 decade-2 ×48 blowup). ``cos = dot / sqrt(na*nb)`` with the norm
    PRODUCT under one sqrt (``na·nb ≤ (127²·64)² < 2^53`` — exact; a
    ``sqrt(na)*sqrt(nb)`` form would round differently), so scores are
    bit-identical to a DuckDB ``list_reduce`` mirror. Zero vectors
    never pair. ``max_bucket`` is the degenerate-bucket guard of the
    LSH path (``dedup.lsh_candidate_pairs``): intra-bucket comparison
    is c²/2 dot products, so buckets over the cap are dropped before
    pairing (mirrored in q77's oracle; ``None`` disables). ``block``
    caps the Gram slab at block×max_bucket int64s (~160 MB at
    defaults)."""
    import numpy as np
    import pandas as pd

    src = corpus.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("__v"),
                        F.col(bucket_col).alias("bk"))
    if max_bucket is not None:
        over = (src.groupBy("bk").agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") > max_bucket).select("bk"))
        src = src.join(F.broadcast(over), "bk", "left_anti")
    id_t = src.schema["id_a"].dataType
    bk_t = src.schema["bk"].dataType
    out_schema = T.StructType([
        T.StructField("id_a", id_t), T.StructField("id_b", id_t),
        T.StructField("bk", bk_t), T.StructField("cos", T.DoubleType())])
    thr = float(threshold)

    def pairs(key, pdf):
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "bk": [], "cos": []})
        x = np.asarray([np.asarray(v, dtype=np.float64)
                        for v in pdf["__v"]])
        ids = pdf["id_a"].to_numpy()
        s = np.abs(x).max(axis=1)
        nz = s > 0.0
        q = np.zeros_like(x)
        q[nz] = np.maximum(np.floor((x[nz] * 127.0) / s[nz][:, None]),
                           -127.0)
        q = q.astype(np.int64)
        nrm = (q * q).sum(axis=1)
        valid = nrm > 0
        out_a, out_b, out_c = [], [], []
        for i0 in range(0, n, block):
            i1 = min(i0 + block, n)
            g = q[i0:i1] @ q.T
            denom = np.sqrt((nrm[i0:i1, None]
                             * nrm[None, :]).astype(np.float64))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = g / denom
            mask = ((ids[i0:i1, None] < ids[None, :])
                    & valid[i0:i1, None] & valid[None, :]
                    & (cos >= thr))
            ii, jj = np.nonzero(mask)
            out_a.append(ids[i0:i1][ii])
            out_b.append(ids[jj])
            out_c.append(cos[ii, jj])
        a = np.concatenate(out_a) if out_a else np.asarray([])
        return pd.DataFrame({
            "id_a": a, "id_b": np.concatenate(out_b) if out_b else [],
            "bk": np.full(len(a), key[0]),
            "cos": np.concatenate(out_c) if out_c else []})

    return src.groupBy("bk").applyInPandas(pairs, out_schema)


def semantic_dedup(corpus: DataFrame, id_col: str, vec_col: str,
                   centroids_long: DataFrame, group_col: str, *,
                   threshold: float = 0.95, max_bucket: int | None = 10_000,
                   keep_policy: str = "farthest", probes: int = 1,
                   verify_vectors: DataFrame | None = None,
                   candidate_threshold: float | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-then-prune
    semantic deduplication over an embedding column.

    Pipeline: (1) assign every vector to its nearest centroid —
    map-side, zero shuffle (``with_nearest_centroid_int``: exact
    integer squared-L2 on the 1e-6 grid, bit-stable at any k;
    ``centroids_long`` must carry the BIGINT ``qcent`` column of
    ``group_centroids_quantized``); (2) within each cluster only,
    int8-quantized cosine pairs >= ``threshold``
    (``embedding_near_dups_int``, one integer Gram matmul per cluster,
    with the ``max_bucket`` degenerate-cluster guard); (3) connected
    components over the duplicate pairs (tiny — the pair set, not the
    corpus); (4) keep exactly one member per duplicate group.

    ``keep_policy``:
      * ``"farthest"`` (paper §3: keep the example with LOW similarity
        to the cluster centroid — retains outliers / hard examples):
        max squared-L2 ``dist`` to the assigned centroid, which for
        normalized embeddings is exactly the lowest cosine; ties break
        on the smaller id.
      * ``"nearest"``: the prototypical member (min dist).
      * ``"min_id"``: deterministic id-based keeper (the exact-dedup
        convention elsewhere in this repo).

    ``probes``: number of nearest centroids each vector is paired
    under.  At production k (clusters sized to keep the pairwise
    bounded) a near-dup pair can straddle a Voronoi boundary and be
    missed at probes=1 — the measured recall on planted cos≈0.98 pairs
    fell 92% → 80% between decades as k grew
    (evidence/SEMDEDUP_BENCH_r9.jsonl; SCALING.md round-8 addendum 10).
    probes=2 is the standard IVF multi-probe remedy: each vector is
    candidate-paired under its top-2 centroids, so a straddling pair
    meets in the shared neighbor cell.  Cost: the pairing input
    replicates ×probes (the assignment itself is one pass either way);
    duplicate candidate edges are harmless to the component step.
    Assignment, ``dist`` and the keeper window always use the TOP-1
    centroid, so probes changes recall only, not keeper semantics.

    ``verify_vectors`` / ``candidate_threshold`` (round 9 — the
    projected-space composition): run the corpus through ``pca_project``
    / ``random_projection`` first and pass the ORIGINAL embeddings as
    ``verify_vectors`` — clustering and pairing then happen in the
    reduced space (O(out_dim) per pair) at ``candidate_threshold``
    (loosen it below ``threshold``: reduced-space cosines are noisy in
    both directions), and every candidate pair is re-scored with the
    exact full-dimension quantized cosine (``cosine_verify_pairs``)
    before components — so false positives cost |pairs| folds, never a
    wrong drop.  ``dist``/keeper stay in the pairing space (determinism
    unchanged).  Same funnel discipline as LSH → exact Jaccard.

    Returns (id, assigned, dist, sd_group, keep): every corpus row
    annotated — singletons (no near-dup within their cluster) are their
    own ``sd_group`` and always kept.  Only small rows (no vectors)
    reach the keeper window, and components never span clusters by
    construction (probes=1; multi-probe lets them bridge via shared
    cells), so the group shuffle is bounded by the pair set.
    """
    from tradingview_data_pipeline_spark.operators.dedup import connected_components

    if keep_policy not in ("farthest", "nearest", "min_id"):
        raise ValueError(f"unknown keep_policy {keep_policy!r}")
    if probes < 1:
        raise ValueError(f"probes must be >= 1, got {probes}")
    # dist is BIGINT grid² units
    ac = with_nearest_centroid_int(
        corpus.select(id_col, vec_col), vec_col, centroids_long, group_col,
        probes_col="__probes" if probes > 1 else None, probes=probes)
    cand_thr = threshold if candidate_threshold is None else candidate_threshold
    if probes > 1:
        probed = ac.select(id_col, vec_col,
                           F.explode(F.col("__probes")).alias("__probe"))
        ac = ac.drop("__probes")
        pairs = embedding_near_dups_int(probed, id_col, vec_col, "__probe",
                                        threshold=cand_thr,
                                        max_bucket=max_bucket)
    else:
        pairs = embedding_near_dups_int(ac, id_col, vec_col, "assigned",
                                        threshold=cand_thr,
                                        max_bucket=max_bucket)
    if verify_vectors is not None:
        # the LSH→exact-Jaccard pattern applied to projected pairing:
        # when `corpus` carries REDUCED vectors (pca_project /
        # random_projection), pair in the cheap space at a loosened
        # candidate_threshold, then keep only pairs whose FULL-dimension
        # cosine (from `verify_vectors`: (id_col, vec_col) original
        # embeddings) clears `threshold` — reduced-space false positives
        # die here at |pairs| cost, never corpus cost.
        pairs = cosine_verify_pairs(
            pairs.select("id_a", "id_b"),
            verify_vectors.select(F.col(id_col), F.col(vec_col)),
            id_col, vec_col, threshold=threshold)
    # multi-consumer pins (the q74/NOTES-34 rule): `ac` feeds the pair
    # stage AND the keeper join; `pairs` feeds connected_components'
    # path-probe collect AND every fixpoint iteration — unpinned, the
    # assignment + pairwise pipeline re-executes per consumer (measured
    # ~130 of q77's 143 s at the 200k-vector decade). DISK_ONLY, not a
    # memory pin: `ac` is corpus-sized.
    from pyspark import StorageLevel

    from tradingview_data_pipeline_spark.operators import pins
    ac = pins.track(ac.persist(StorageLevel.DISK_ONLY))
    pairs = pins.track(pairs.persist(StorageLevel.DISK_ONLY))
    comp = connected_components(
        pairs.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")))
    out = (
        ac.drop(vec_col)
        .join(comp.withColumnRenamed("doc_id", id_col), id_col, "left")
        .withColumn("sd_group", F.coalesce(F.col("cluster_id"), F.col(id_col)))
        .drop("cluster_id")
    )
    order = {"farthest": [F.col("dist").desc(), F.col(id_col).asc()],
             "nearest": [F.col("dist").asc(), F.col(id_col).asc()],
             "min_id": [F.col(id_col).asc()]}[keep_policy]
    w = Window.partitionBy("sd_group").orderBy(*order)
    return (
        out.withColumn("keep", F.row_number().over(w) == F.lit(1))
        .select(id_col, "assigned", "dist", "sd_group", "keep")
    )


# ---------------------------------------------------------------------------
# Int8 quantized similarity — the memory/bandwidth scale path: symmetric
# per-vector quantization q_i = floor(x_i * 127 / max|x|) shrinks the
# corpus 4x (float32 -> int8) and turns the per-pair score into an
# INTEGER dot product. Exact cross-engine by construction: the quantize
# expression is float->double cast (lossless) + one IEEE multiply + one
# IEEE divide + floor (all correctly rounded, identical in Spark and
# DuckDB), and the scoring is pure BIGINT arithmetic — no float folds to
# reassociate, so rankings (and the scores themselves) hash-match the
# oracle bit-for-bit.
# ---------------------------------------------------------------------------

def quantize_int8(v: "Column | str") -> Column:
    """array<float> -> array<bigint> in [-127, 127]; zero vectors -> all
    zeros. The x == -max element computes x*127/max = -127 exactly only
    when the divide is exact; double rounding can land just below and
    floor to -128, so the clamp enforces the documented lower bound."""
    sv = _as_sql(v)
    if sv is not None:
        # the scale subtree appears twice, exactly like the Column
        # form's reused `s` (Column reuse duplicates the subtree too)
        s = f"array_max(transform({sv}, y -> abs(CAST(y AS DOUBLE))))"
        return F.expr(
            f"transform({sv}, x -> CAST(CASE WHEN {s} > 0.0D THEN "
            f"greatest(CAST(-127 AS BIGINT), floor(CAST(x AS DOUBLE)"
            f" * 127.0D / {s})) ELSE 0 END AS BIGINT))")
    s = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    return F.transform(
        v, lambda x: F.when(s > 0.0,
                            F.greatest(F.lit(-127).cast("bigint"),
                                       F.floor(x.cast("double") * 127.0 / s)))
                      .otherwise(F.lit(0)).cast("bigint"))


def int_dot(a: "Column | str", b: "Column | str") -> Column:
    sa, sb = _as_sql(a), _as_sql(b)
    if sa is not None and sb is not None:
        return F.expr(
            f"aggregate(zip_with({sa}, {sb}, (x, y) -> x * y), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def quantized_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                   vec_col: str, k: int = 5) -> DataFrame:
    """Top-k neighbors per query by int8-quantized dot product (self
    excluded, ties by neighbor id). Same broadcast shape as
    ``brute_force_topk``; at 100 TB the quantized corpus column is what
    gets scanned — 1/4 the bytes, integer SIMD-friendly scoring."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       quantize_int8(f"`{vec_col}`").alias("qq"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      quantize_int8(f"`{vec_col}`").alias("cq"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("qdot", int_dot("qq", "cq"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("qdot").desc(),
                                               F.col("neighbor_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "qdot", "rk")
    )

# ---------------------------------------------------------------------------
# Hyperplane SimHash LSH — the scale path for embedding NEAR-DUP retrieval.
#
# Why it replaced the label-bucketed exact form in q32: comparing all
# intra-bucket pairs is c²/2 dot products per bucket, and with a FIXED
# bucket count the population c grows with the corpus — measured x82
# wall-time at 10x data on the scale bench (quadratic — the cost the
# ``max_bucket`` guard of ``embedding_near_dups_int`` caps).  Near-duplicates in a real corpus
# are O(n) (each doc has O(1) perturbed copies), so retrieval should be
# ~linear: a map-only signature pass + a banded equi-join that only
# near-identical vectors collide in, + exact verification of the tiny
# candidate set.  This is the random-hyperplane (sign-bit) family of the
# text SimHash operator in dedup.py, with banding playing the same role
# (recall here is probabilistic — P(collide) = agreement^chunk per band —
# not the pigeonhole guarantee of hamming banding; the defaults give
# ~0.98 recall at cos 0.975 and are pinned empirically in pytest).
#
# Cross-engine exactness (the q62 int8 trick, extended): vectors are
# quantized to floor(x·2^20) BIGINTs (exact: float->double cast, one
# power-of-two multiply, floor — all correctly rounded), hyperplanes are
# ±1 Rademacher rows derived from md5 hex parity (reproducible from SQL
# md5() in any engine — no RNG, no literals to ship), so every bit-sum,
# band key, and verification dot product is integer arithmetic and the
# final cosine is the same two-sqrt-one-divide double everywhere.
#
# Sizing at scale: buckets per band = 2^chunk_bits.  Random-vector
# collisions contribute ~bands·n²/2^chunk_bits candidate pairs, so
# chunk_bits is a corpus-size parameter (grow it with log2(n) to hold
# the candidate budget); degenerate families (zero vectors, boilerplate
# embeddings) hit the same max_bucket guard as the text LSH path.
# ---------------------------------------------------------------------------

EMB_QUANT = float(1 << 20)


def hyperplane_signs(bits: int, dim: int) -> list[list[int]]:
    """±1 Rademacher hyperplanes from md5 parity: s(i,d) = +1 iff the
    first hex char of md5(f"{i}_{d}") is even — byte-identical to the
    SQL derivation CASE WHEN strpos('02468ace', substr(md5(...),1,1))."""
    import hashlib
    return [[1 if hashlib.md5(f"{i}_{d}".encode()).hexdigest()[0] in "02468ace"
             else -1 for d in range(dim)] for i in range(bits)]


def quantize_grid(v: "Column | str") -> Column:
    """array<float> -> array<bigint> on the 2^-20 grid (exact)."""
    sv = _as_sql(v)
    if sv is not None:
        return F.expr(f"transform({sv}, x -> CAST(floor(CAST(x AS DOUBLE)"
                      f" * {EMB_QUANT!r}D) AS BIGINT))")
    return F.transform(
        v, lambda x: F.floor(x.cast("double") * F.lit(EMB_QUANT)).cast("bigint"))


def embedding_lsh_bands(df: DataFrame, id_col: str, vec_col: str, *,
                        bits: int = 96, bands: int = 8,
                        dim: int = 64) -> DataFrame:
    """(id, pos, key): one row per band, key = the band's sign bits.

    Per-Arrow-batch numpy: quantize to the 2^-20 grid, one
    (n,dim)x(dim,bits) integer matmul against ``hyperplane_signs``,
    bit-pack.  Map-only, no shuffle, no per-row Python.  The q29
    oracle recomputes the same keys in long form (explode dims -> join
    the ±1 matrix -> two aggregations); integer arithmetic makes the
    two equal by construction.

    NULL vectors are dropped (they have no signature — mirrors the
    text simhash's NULL-signature contract); vectors must be
    ``dim``-length (a ragged batch fails loudly in the matmul)."""
    chunk = bits // bands
    assert chunk * bands == bits
    # keys are BIGINT shifts: numpy 1<<chunk is UB past 62 and SQL
    # shifts wrap mod 64 — the kernel and the oracle's long form would
    # silently diverge instead of failing loudly
    assert chunk <= 62, f"band key width {chunk} exceeds a BIGINT shift"
    signs = hyperplane_signs(bits, dim)
    id_type = df.schema[id_col].dataType
    df = df.where(F.col(vec_col).isNotNull())
    out_schema = T.StructType([T.StructField(id_col, id_type),
                               T.StructField("pos", T.LongType()),
                               T.StructField("key", T.LongType())])

    def emit(batches):
        import numpy as np
        import pandas as pd
        S = np.array(signs, dtype=np.int64)                      # (bits, dim)
        w = (np.int64(1) << np.arange(chunk, dtype=np.int64))
        poss = np.arange(bands, dtype=np.int64)
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            VQ = np.floor(V * EMB_QUANT).astype(np.int64)
            B = ((VQ @ S.T) >= 0).astype(np.int64)               # (n, bits)
            K = B.reshape(n, bands, chunk) @ w                   # (n, bands)
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy(), bands),
                "pos": np.tile(poss, n),
                "key": K.ravel()})

    return df.select(id_col, vec_col).mapInPandas(emit, out_schema)


def embedding_near_dups_lsh(corpus: DataFrame, id_col: str, vec_col: str, *,
                            threshold: float = 0.95, bits: int = 96,
                            bands: int = 8, dim: int = 64,
                            max_bucket: int = 1000,
                            size_hint: int | None = None) -> DataFrame:
    """Per-vector near-dup retrieval: (id, sig_key, neardup_n).

    sig_key is the '-'-joined band keys (the full signature, so the
    whole hyperplane pipeline is value-verified even on corpora with no
    near-dups); neardup_n counts partners with exact quantized cosine
    >= threshold among banded candidates.  Buckets over max_bucket are
    dropped before the self-join, same guard (and same oracle QUALIFY
    mirror) as dedup.lsh_candidate_pairs.

    ``size_hint`` (approximate corpus row count, supplied by the caller
    so no extra Spark action runs — same pattern as the fundamental-
    score mode gate) re-sizes the band keys for the corpus via
    ``suggest_lsh_chunk_bits``, overriding ``bits``: the third-decade
    scale bench measured fixed 12-bit keys at x12 wall-time for the
    20k->200k step and the re-sized 16-bit keys at x2.0."""
    if size_hint is not None:
        bits = bands * suggest_lsh_chunk_bits(size_hint)
    # the banded frame feeds FOUR consumers (sig, the over-cap bucket
    # scan, and both sides of the banded self-join); canonical-plan
    # exchange reuse never fires across their differing aggregates, so
    # the unpinned plan re-runs the signature mapInPandas (and the
    # corpus scan under it) four times — r12 plan audit counted 68
    # Exchange / 18 Python nodes for q29. Eager-checkpoint the tiny
    # (id, pos, key) frame once (bands BIGINTs per vector, never the
    # vector): one signature pass, lineage truncated under all four
    # consumers (the video_near_dups substrate rule, guide §2.4).
    from tradingview_data_pipeline_spark.operators import pins
    br = pins.checkpoint(
        embedding_lsh_bands(corpus, id_col, vec_col, bits=bits,
                            bands=bands, dim=dim))
    sig = (br.groupBy(id_col)
           .agg(F.array_sort(F.collect_list(F.struct("pos", "key"))).alias("a"))
           .select(id_col,
                   F.array_join(F.expr("transform(a, x -> CAST(x.key AS STRING))"),
                                "-").alias("sig_key")))
    over = (br.groupBy("pos", "key").agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > max_bucket).select("pos", "key"))
    capped = br.join(F.broadcast(over), ["pos", "key"], "left_anti")
    pairs = (
        capped.select(F.col(id_col).alias("id_a"), "pos", "key")
        .join(capped.select(F.col(id_col).alias("id_b"), "pos", "key"),
              ["pos", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct())
    good = cosine_verify_pairs(pairs, corpus, id_col, vec_col,
                               threshold=threshold).select("id_a", "id_b")
    # degree count via explode, NOT unionAll of two projections: the
    # union form executes the whole pair pipeline (banded join + cosine
    # verify + two corpus scans) once per branch; explode emits both
    # endpoints from ONE execution of `good` (guide §2.4 — remove
    # shuffled subtree duplication outright). Same multiset by
    # construction: each pair contributes exactly id_a and id_b.
    deg = (good.select(F.explode(F.array(F.col("id_a"), F.col("id_b")))
                       .alias(id_col))
           .groupBy(id_col).agg(F.count(F.lit(1)).alias("neardup_n")))
    return (sig.join(deg, id_col, "left")
            .select(id_col, "sig_key",
                    F.coalesce(F.col("neardup_n"), F.lit(0)).cast("bigint")
                    .alias("neardup_n")))


def cosine_verify_pairs(pairs: DataFrame, vectors: DataFrame, id_col: str,
                        vec_col: str, *, threshold: float) -> DataFrame:
    """Exact verification of candidate (id_a, id_b) pairs: quantized
    integer dot + IEEE sqrt/divide (bit-reproducible cross-engine),
    keeping pairs with cos >= threshold.  Returns (id_a, id_b, cos).
    Cost is |pairs| folds — run it AFTER an LSH/banding funnel, never
    on all pairs."""
    vq = (vectors.select(F.col(id_col), quantize_grid(f"`{vec_col}`").alias("vq"))
          .withColumn("n2", int_dot(F.col("vq"), F.col("vq"))))
    return (
        pairs
        .join(vq.select(F.col(id_col).alias("id_a"), F.col("vq").alias("va"),
                        F.col("n2").alias("na2")), "id_a")
        .join(vq.select(F.col(id_col).alias("id_b"), F.col("vq").alias("vb"),
                        F.col("n2").alias("nb2")), "id_b")
        .withColumn("cos", int_dot("va", "vb").cast("double")
                    / (F.sqrt(F.col("na2").cast("double"))
                       * F.sqrt(F.col("nb2").cast("double"))))
        .where(F.col("cos") >= F.lit(threshold))
        .select("id_a", "id_b", "cos"))


def suggest_lsh_chunk_bits(n: int, target_bucket_pop: float = 4.0) -> int:
    """Band key width for a corpus of ``n`` vectors: 2^chunk buckets per
    band should hold ~``target_bucket_pop`` random vectors, keeping the
    random-collision candidate budget ~bands·n·pop/2 — linear in n.

    This is the knob the third-decade scale bench turned: fixed 12-bit
    chunks measured ×29 wall-time going 20k→200k vectors (bucket
    population ×10 → intra-bucket pairs ×100); resizing to the 16 bits
    this rule suggests for 200k restored ~linear cost (126.5 s → 21.7 s,
    same retrieval contract, ~0.97 planted recall — see SCALING.md).
    Recall per band shrinks as agreement^chunk, so when raising chunk
    bits also raise ``bands`` (or total bits) to hold the union recall.
    """
    import math
    return max(4, math.ceil(math.log2(max(2.0, n / target_bucket_pop))))


# ---------------------------------------------------------------------------
# Dimensionality reduction — PCA (exact-moment) and random projection.
# The 100-TB pre-step for the pairwise/ANN family: SemDeDup's in-cluster
# Gram and brute-force top-k both cost O(d) per pair, so projecting
# 64→16 dims cuts the dominant stage ~4× at a measured recall cost
# (evidence/SEMDEDUP_BENCH_r9.jsonl PCA legs; SCALING.md round-9 addendum 25).
# ---------------------------------------------------------------------------

PCA_GRID = 10_000  # 1e-4 element quantization for the exact moment pass


class PcaModel:
    """``pca_fit`` artifact: ``components`` is the (d, k) float64
    projection matrix (columns = top-k eigenvectors of the covariance,
    descending eigenvalue, sign-fixed so each column's largest-|.|
    element is positive), ``mean`` the (d,) training mean, ``n`` the
    row count, ``explained`` the k eigenvalues.  Everything driver-side
    and tiny (d ≤ a few thousand); broadcast happens at projection."""

    def __init__(self, components, mean, n: int, explained, *,
                 center: bool, grid: int):
        self.components = components
        self.mean = mean
        self.n = n
        self.explained = explained
        self.center = center
        self.grid = grid


def pca_fit(df: DataFrame, vec_col: str, out_dim: int, *,
            center: bool = True, grid: int = PCA_GRID) -> PcaModel:
    """Fit PCA over an embedding column with ONE exact-arithmetic pass.

    Scale shape: elements quantize to the ``grid`` (1e-4 default), each
    partition accumulates the count / first-moment vector / second-
    moment (Gram) matrix in INTEGER arithmetic (int64 per Arrow batch,
    arbitrary-precision Python int across batches — no overflow at any
    corpus size), and emits d + d² + 1 DECIMAL(38,0) cells; the driver
    combines the ≤ (d²+d+1)·partitions cells, forms the exact
    covariance numerator n·G − S·Sᵀ as Python ints, and runs one local
    ``eigh`` on the d×d float64 matrix.  The corpus never shuffles —
    the only moved bytes are the per-partition moment cells.  Integer
    sums are associative, so the model is bit-identical under any
    partitioning (pytest-pinned); determinism of ``eigh`` on identical
    input is LAPACK's.

    ``center=False`` skips mean subtraction (second-moment PCA) — use
    when downstream cosine semantics must not shift the origin.
    """
    head = df.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError("pca_fit: empty input")
    d = len(head[0])
    if not 1 <= out_dim <= d:
        raise ValueError(f"out_dim must be in [1, {d}]")
    n, s, g = _collect_moments(df, vec_col, d, grid)
    if n == 0:
        raise ValueError("pca_fit: empty input")
    return _model_from_moments(n, s, g, d, out_dim,
                               center=center, grid=grid)


def _moment_pass(vec_col: str, d: int, grid: int):
    """The per-partition exact-moment accumulator for mapInPandas:
    int64 per Arrow batch, arbitrary-precision Python int across
    batches, DECIMAL(38,0) cells out.  Cell ids: (−1,−1) = count,
    (i,−1) = Σ q_i, (i,j) = Σ q_i·q_j."""
    import decimal

    import numpy as np
    import pandas as pd

    def moments(it):
        n = 0
        s = [0] * d
        g = [[0] * d for _ in range(d)]
        for pdf in it:
            mat = np.stack([np.asarray(v, dtype=np.float64)
                            for v in pdf[vec_col]]) if len(pdf) else None
            if mat is None:
                continue
            q = np.floor(mat * grid).astype(np.int64)
            n += q.shape[0]
            bs = q.sum(axis=0, dtype=np.int64)
            bg = q.T @ q  # int64 exact: |q| ~ grid·|x|, batch-bounded
            for i in range(d):
                s[i] += int(bs[i])
                gi = g[i]
                bgi = bg[i]
                for j in range(d):
                    gi[j] += int(bgi[j])
        cells = [(-1, -1, decimal.Decimal(n))]
        cells += [(i, -1, decimal.Decimal(s[i])) for i in range(d)]
        cells += [(i, j, decimal.Decimal(g[i][j]))
                  for i in range(d) for j in range(d)]
        yield pd.DataFrame({"i": [c[0] for c in cells],
                            "j": [c[1] for c in cells],
                            "v": [c[2] for c in cells]})
    return moments


def _collect_moments(df: DataFrame, vec_col: str, d: int, grid: int):
    """One exact-moment pass → (n, s[d], g[d][d]) as Python ints.  The
    corpus never shuffles; only d²+d+1 cells per partition move."""
    rows = (df.select(vec_col)
            .mapInPandas(_moment_pass(vec_col, d, grid),
                         "i int, j int, v decimal(38,0)")
            .groupBy("i", "j").agg(F.sum("v").alias("v"))
            .collect())
    n = 0
    s = [0] * d
    g = [[0] * d for _ in range(d)]
    for r in rows:
        v = int(r["v"])
        if r["i"] == -1:
            n = v
        elif r["j"] == -1:
            s[r["i"]] = v
        else:
            g[r["i"]][r["j"]] = v
    return n, s, g


def _model_from_moments(n: int, s: list, g: list, d: int, out_dim: int, *,
                        center: bool, grid: int) -> PcaModel:
    """Exact integer numerator of the (co)variance, ONE float divide,
    one local eigh, sign-fixed components (largest-|.| element of each
    column positive — eigenvector sign is otherwise arbitrary)."""
    import numpy as np

    if center:
        num = [[n * g[i][j] - s[i] * s[j] for j in range(d)]
               for i in range(d)]
        den = float(n) * n * grid * grid
    else:
        num = g
        den = float(n) * grid * grid
    cov = np.array([[num[i][j] / den for j in range(d)]
                    for i in range(d)], dtype=np.float64)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:out_dim]
    comp = evecs[:, order]
    for c in range(comp.shape[1]):
        col = comp[:, c]
        piv = int(np.argmax(np.abs(col)))
        if col[piv] < 0:
            comp[:, c] = -col
    mean = np.array([s[i] / (float(n) * grid) for i in range(d)])
    return PcaModel(comp, mean, n, evals[order].copy(),
                    center=center, grid=grid)


def _fixed_order_project(mat, w):
    """(batch, d) @ (d, k) with a FIXED ascending-j summation order —
    independent of batch size / BLAS blocking, so projected rows are
    bit-identical under any partitioning."""
    import numpy as np
    out = np.zeros((mat.shape[0], w.shape[1]), dtype=np.float64)
    for j in range(w.shape[0]):
        out += mat[:, j:j + 1] * w[j:j + 1, :]
    return out


def pca_project(df: DataFrame, vec_col: str, model: PcaModel, *,
                out_col: str | None = None) -> DataFrame:
    """Project an embedding column through a ``pca_fit`` model —
    map-only (no shuffle), one Arrow batch at a time, the (d,k) matrix
    broadcast by closure.  Row results are bit-deterministic (fixed
    summation order; see ``_fixed_order_project``).  Replaces
    ``vec_col`` unless ``out_col`` names a new column."""
    import numpy as np
    import pandas as pd

    out = out_col or vec_col
    comp = model.components
    mean = model.mean if model.center else None
    cols = df.columns
    res_cols = cols if out in cols else cols + [out]
    schema = ", ".join(
        f"`{c}` array<double>" if c == out else _field_ddl(df, c)
        for c in res_cols)

    def project(it):
        for pdf in it:
            if len(pdf):
                mat = np.stack([np.asarray(v, dtype=np.float64)
                                for v in pdf[vec_col]])
                if mean is not None:
                    mat = mat - mean
                y = _fixed_order_project(mat, comp)
                pdf = pdf.copy()
                pdf[out] = [y[i].tolist() for i in range(y.shape[0])]
            elif out not in pdf.columns:
                pdf = pdf.copy()
                pdf[out] = pd.Series([], dtype=object)
            yield pdf[res_cols]

    return df.mapInPandas(project, schema)


def random_projection(df: DataFrame, vec_col: str, out_dim: int, *,
                      seed: int = 0, out_col: str | None = None) -> DataFrame:
    """Johnson-Lindenstrauss random projection: y = x · R with
    R[j,l] = ±1/√out_dim, the sign drawn from md5(seed:j:l) — fully
    deterministic, no fit pass, same map-only/fixed-order execution as
    ``pca_project``.  The zero-pass alternative when 1e2–1e3 input dims
    make the d² moment pass or the eigh unattractive; distances are
    preserved in expectation rather than optimally."""
    import hashlib

    import numpy as np
    import pandas as pd

    head = df.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError("random_projection: empty input")
    d = len(head[0])
    if out_dim < 1:
        raise ValueError("out_dim must be >= 1")
    scale = 1.0 / float(out_dim) ** 0.5
    r = np.empty((d, out_dim), dtype=np.float64)
    for j in range(d):
        for li in range(out_dim):
            h = hashlib.md5(f"{seed}:{j}:{li}".encode()).digest()
            r[j, li] = scale if h[0] & 1 else -scale

    out = out_col or vec_col
    cols = df.columns
    res_cols = cols if out in cols else cols + [out]
    schema = ", ".join(
        f"`{c}` array<double>" if c == out else _field_ddl(df, c)
        for c in res_cols)

    def project(it):
        for pdf in it:
            if len(pdf):
                mat = np.stack([np.asarray(v, dtype=np.float64)
                                for v in pdf[vec_col]])
                y = _fixed_order_project(mat, r)
                pdf = pdf.copy()
                pdf[out] = [y[i].tolist() for i in range(y.shape[0])]
            elif out not in pdf.columns:
                pdf = pdf.copy()
                pdf[out] = pd.Series([], dtype=object)
            yield pdf[res_cols]

    return df.mapInPandas(project, schema)


def _field_ddl(df: DataFrame, name: str) -> str:
    """DDL fragment for an existing column (used to rebuild mapInPandas
    schemas that pass other columns through unchanged)."""
    return f"`{name}` {df.schema[name].dataType.simpleString()}"


def save_pca(model: PcaModel, spark, path: str) -> None:
    """Persist a ``pca_fit`` model as ONE parquet (fit-once /
    project-anywhere, the ``bpe.save_merges`` artifact contract).
    Cell rows: (i≥0, j≥0) = components[i, j]; (i≥0, −1) = mean[i];
    (−2, j) = explained[j]; (−3, −3) = n; (−4, −4) = center flag;
    (−5, −5) = grid."""
    rows = []
    d, k = model.components.shape
    for i in range(d):
        for j in range(k):
            rows.append((i, j, float(model.components[i, j])))
        rows.append((i, -1, float(model.mean[i])))
    for j in range(k):
        rows.append((-2, j, float(model.explained[j])))
    rows += [(-3, -3, float(model.n)), (-4, -4, 1.0 if model.center else 0.0),
             (-5, -5, float(model.grid))]
    spark.createDataFrame(rows, "i int, j int, v double") \
        .coalesce(1).write.mode("overwrite").parquet(path)


def load_pca(spark, path: str) -> PcaModel:
    """Reload a ``save_pca`` artifact — bit-exact round trip (cells are
    the float64 values themselves)."""
    import numpy as np

    rows = spark.read.parquet(path).collect()
    cells = {(r["i"], r["j"]): r["v"] for r in rows}
    if (-3, -3) not in cells or (-5, -5) not in cells:
        raise ValueError(f"not a pca artifact (missing meta cells): {path}")
    d = 1 + max(i for i, _ in cells if i >= 0)
    k = 1 + max(j for i, j in cells if i >= 0 and j >= 0)
    comp = np.array([[cells[(i, j)] for j in range(k)] for i in range(d)])
    mean = np.array([cells[(i, -1)] for i in range(d)])
    expl = np.array([cells[(-2, j)] for j in range(k)])
    return PcaModel(comp, mean, int(cells[(-3, -3)]), expl,
                    center=bool(cells[(-4, -4)]), grid=int(cells[(-5, -5)]))
