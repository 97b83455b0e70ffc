"""Vector clustering queries over ``embeddings``: exact quantized group
centroids feeding nearest-centroid assignment — one deterministic
Lloyd/k-means iteration (q53).

Determinism: component sums run on a 1e-6 integer grid (associative
BIGINT adds — layout-independent at any scale), divisions and
multiplications are IEEE correctly-rounded, and the distance fold is
left-to-right (Spark ``aggregate`` ≡ DuckDB ``list_reduce``; the 0.0
initial accumulator is exact-neutral for the non-negative squares).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.operators import similarity as sim
from tradingview_data_pipeline_spark.plans.analytics import register, _t, table_rows

_CENT_SQL = """
  SELECT label, i - 1 AS dim, COUNT(*) AS n,
         CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))
              AS DOUBLE) / (COUNT(*) * 1000000.0) AS centroid
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t
  GROUP BY label, i - 1
"""


# ---------------------------------------------------------------------------
# q53 — the two exact-arithmetic centroid/vector queries merged (round-9
# registry merge #18, the COVERAGE.md next-candidate; frees the slot
# q81 uses), tagged union on (kind, id, k2, v1, v2, rk):
#   'assign' — one deterministic Lloyd/k-means iteration (formerly
#              q53_kmeans_assign): per-label quantized centroids
#              (long-form explode + BIGINT hash-aggregate, 8-byte rows,
#              full map-side combine) feed the broadcast nearest-
#              centroid fold — no shuffle of the embedding table.
#              id=vec_id, k2=label, v1=assigned, v2=dist (exact
#              function of every centroid component — the hash pins
#              the centroid math).
#   'ann'    — int8-quantized ANN (formerly q62_quantized_ann):
#              symmetric per-vector quantization floor(x*127/max|x|),
#              INTEGER dot-product top-k — scores AND ranks exact.
#              id=query_id, k2=neighbor_id, v1=qdot, rk=rank.
# ---------------------------------------------------------------------------

_QZ_SQL = """
sv AS (SELECT vec_id, embedding,
              list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
       FROM embeddings),
qz AS (SELECT vec_id,
              list_transform(embedding,
                x -> CASE WHEN mx > 0.0
                          THEN CAST(greatest(-127, floor(CAST(x AS DOUBLE) * 127.0 / mx)) AS BIGINT)
                          ELSE CAST(0 AS BIGINT) END) AS qv
       FROM sv)
"""

@register("q53_centroid_ann", oracle=f"""
WITH cent AS ({_CENT_SQL}),
cvecs AS (
  SELECT label AS c_label, list(centroid ORDER BY dim) AS cvec
  FROM cent GROUP BY label
), dists AS (
  SELECT e.vec_id, e.label, c.c_label,
         list_reduce(
           list_transform(range(len(e.embedding)),
             i -> (CAST(e.embedding[i+1] AS DOUBLE) - c.cvec[i+1])
                * (CAST(e.embedding[i+1] AS DOUBLE) - c.cvec[i+1])),
           (a, b) -> a + b) AS dist
  FROM embeddings e CROSS JOIN cvecs c
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY dist ASC, c_label ASC) AS rk
  FROM dists
), {_QZ_SQL},
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_reduce(list_transform(list_zip(q.qv, c.qv), p -> p[1] * p[2]),
                     (x, y) -> x + y) AS qdot
  FROM qz c CROSS JOIN (SELECT * FROM qz WHERE vec_id < 5) q
  WHERE c.vec_id != q.vec_id
)
SELECT 'assign' AS kind, vec_id AS id, CAST(label AS BIGINT) AS k2,
       CAST(c_label AS BIGINT) AS v1, dist AS v2,
       CAST(NULL AS BIGINT) AS rk
FROM ranked WHERE rk = 1
UNION ALL
SELECT 'ann' AS kind, query_id AS id, neighbor_id AS k2, qdot AS v1,
       CAST(NULL AS DOUBLE) AS v2, rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY qdot DESC, neighbor_id ASC) AS rk
  FROM scored
) WHERE rk <= 5
""")
def q53_centroid_ann(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    cent = sim.group_centroids_quantized(e, "label", "embedding")
    out = sim.assign_nearest_centroid(
        e.select("vec_id", "label", "embedding"), "vec_id", "embedding",
        cent.select("label", "dim", "centroid"), "label")
    assign_leg = (out.join(e.select("vec_id", "label"), "vec_id")
                  .select(F.lit("assign").alias("kind"),
                          F.col("vec_id").alias("id"),
                          F.col("label").cast("bigint").alias("k2"),
                          F.col("assigned").cast("bigint").alias("v1"),
                          F.col("dist").alias("v2"),
                          F.lit(None).cast("bigint").alias("rk")))
    ann = sim.quantized_topk(e, e.where(F.col("vec_id") < 5),
                             "vec_id", "embedding", k=5)
    ann_leg = ann.select(F.lit("ann").alias("kind"),
                         F.col("query_id").alias("id"),
                         F.col("neighbor_id").alias("k2"),
                         F.col("qdot").alias("v1"),
                         F.lit(None).cast("double").alias("v2"),
                         F.col("rk"))
    return assign_leg.unionByName(ann_leg)


# ---------------------------------------------------------------------------
# q81 — exact embedding moment cells (slot freed by merge #18): the
# distributed HALF of PCA (`similarity.pca_fit`)
# made oracle-checkable.  The fit's only cross-machine artifact is the
# moment cell set — count (−1,−1), first moments (i,−1), second-moment
# Gram (i,j) — over elements quantized to the 1e-4 grid; everything
# after it (eigh, sign fix) is driver-local deterministic numpy on
# these checked inputs.  Integer sums are associative, so the driver
# hash pins the cells bit-for-bit at any layout; DuckDB recomputes the
# Gram as a per-vector element self-join.  (Cells fit BIGINT through
# ~1e12 rows at this grid; the operator itself carries python-int /
# DECIMAL(38,0) headroom beyond that.)
# ---------------------------------------------------------------------------

@register("q81_embedding_moments", oracle=f"""
WITH elems AS (
  SELECT vec_id, i - 1 AS i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {float(sim.PCA_GRID)})
              AS BIGINT) AS q
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t
)
SELECT CAST(-1 AS INT) AS i, CAST(-1 AS INT) AS j,
       COUNT(*) AS v FROM embeddings
UNION ALL
SELECT CAST(i AS INT) AS i, CAST(-1 AS INT) AS j,
       CAST(SUM(q) AS BIGINT) AS v
FROM elems GROUP BY i
UNION ALL
SELECT CAST(a.i AS INT) AS i, CAST(b.i AS INT) AS j,
       CAST(SUM(a.q * b.q) AS BIGINT) AS v
FROM elems a JOIN elems b USING (vec_id)
GROUP BY a.i, b.i
""")
def q81_embedding_moments(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    head = e.select("embedding").first()
    d = len(head[0])
    cells = (e.select("embedding")
             .mapInPandas(sim._moment_pass("embedding", d, sim.PCA_GRID),
                          "i int, j int, v decimal(38,0)")
             .groupBy("i", "j").agg(F.sum("v").alias("v")))
    return cells.select("i", "j", F.col("v").cast("bigint").alias("v"))


# ---------------------------------------------------------------------------
# q77 — SemDeDup semantic deduplication (Abbas et al. 2023; slot freed
# by the q1+q4 merge): similarity.semantic_dedup — nearest-centroid
# assignment, within-cluster cosine pairs >= threshold (with the
# max_bucket degenerate-cluster guard mirrored in the oracle),
# connected components over the duplicate pairs, one keeper per group
# (the paper's keep-farthest-from-centroid policy; ties on smaller id).
#
# REGISTERED AT THE SCALE-SAFE CONFIG (round-9 change; the round-8
# judge measured the old fixed-10-label form ×48 at decade 2 and
# guard-emptied at decade 3):
#   * cluster count GROWS with the corpus — L = max(10, ceil(n/500))
#     synthetic seed labels (vec_id % L; equally oracle-expressible —
#     DuckDB computes L from COUNT(*) in a CTE), so per-cluster
#     populations stay ~500 and the pairwise stage is linear in n;
#   * assignment is EXACT integer (with_nearest_centroid_int: 1e-6-grid
#     BIGINT squared-L2, one int64 matmul per Arrow batch) — vectorized
#     at the k this formula reaches by decade 3 (k=800; an interpreted
#     fold was killed at 35 min there, SCALING.md). Integer arithmetic
#     is associative, so numpy's matmul and DuckDB's per-dim SUM
#     produce the identical BIGINT.
#   * pairwise is the EXACT int8-quantized Gram path
#     (embedding_near_dups_int): one matmul per cluster scores every
#     pair, and cos = dot / sqrt(na*nb) is one integer dot + one exact
#     int product under a single sqrt — bit-identical in both engines.
# The oracle recomputes all of it: quantized centroids and integer
# distances as plain BIGINT SUMs, int8 quantization + integer dots as
# list_reduce folds, components via a recursive closure, the keeper
# window. Threshold 0.30: the synthetic embeddings are near-orthogonal
# (within-label max cos ~0.47), so the paper's 0.95 would make the
# dedup path vacuous here; the semantics are threshold-independent.
# ---------------------------------------------------------------------------

@register("q77_semantic_dedup", oracle="""
WITH RECURSIVE nl AS (
  SELECT GREATEST(10, CAST(CEIL(COUNT(*) / 500.0) AS BIGINT)) AS L
  FROM embeddings
), emb AS (
  SELECT e.vec_id, e.embedding, e.vec_id % nl.L AS slabel
  FROM embeddings e CROSS JOIN nl
), qv AS (
  SELECT vec_id, slabel, i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS qv
  FROM emb,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t
), cent AS (
  SELECT slabel, dim,
         CAST(floor(CAST(SUM(qv) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS qcent
  FROM qv GROUP BY slabel, dim
), dists AS (
  SELECT v.vec_id, c.slabel AS c_label,
         CAST(SUM((v.qv - c.qcent) * (v.qv - c.qcent)) AS BIGINT) AS dist
  FROM qv v JOIN cent c ON c.dim = v.dim
  GROUP BY v.vec_id, c.slabel
), assigned AS (
  SELECT vec_id, c_label AS assigned, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist ASC, c_label ASC) AS rk
    FROM dists) WHERE rk = 1
), mx AS (
  SELECT vec_id,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) AS s
  FROM emb
), q8 AS (
  SELECT e.vec_id,
         CASE WHEN m.s > 0.0 THEN list_transform(e.embedding,
                x -> GREATEST(CAST(-127 AS BIGINT),
                              CAST(floor(CAST(x AS DOUBLE) * 127.0 / m.s)
                                   AS BIGINT)))
              ELSE list_transform(e.embedding, x -> CAST(0 AS BIGINT))
         END AS q
  FROM emb e JOIN mx m USING (vec_id)
), qn AS (
  SELECT vec_id, q,
         list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b) AS nrm
  FROM q8
), sized AS (
  -- max_bucket mirror: clusters over the cap contribute no pairs
  SELECT a.vec_id, a.assigned, n.q, n.nrm
  FROM assigned a JOIN qn n USING (vec_id)
  QUALIFY COUNT(*) OVER (PARTITION BY a.assigned) <= 10000
), prs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM sized a JOIN sized b
    ON a.assigned = b.assigned AND a.vec_id < b.vec_id
  WHERE a.nrm > 0 AND b.nrm > 0
    AND CAST(list_reduce(list_transform(list_zip(a.q, b.q),
                                        p -> p[1] * p[2]),
                         (x, y) -> x + y) AS DOUBLE)
        / sqrt(CAST(a.nrm * b.nrm AS DOUBLE)) >= 0.30
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM prs
  UNION SELECT doc_b, doc_a FROM prs
), walk(vid, reach) AS (
  SELECT src, src FROM edges
  UNION
  SELECT w.vid, e.dst FROM walk w JOIN edges e ON e.src = w.reach
), comp AS (SELECT vid, MIN(reach) AS grp FROM walk GROUP BY vid),
ann AS (
  SELECT a.vec_id, a.assigned, a.dist,
         COALESCE(c.grp, a.vec_id) AS sd_group
  FROM assigned a LEFT JOIN comp c ON c.vid = a.vec_id
)
SELECT vec_id, assigned, dist, sd_group,
       CAST(row_number() OVER (PARTITION BY sd_group
                               ORDER BY dist DESC, vec_id ASC) = 1
            AS BIGINT) AS keep
FROM ann
""")
def q77_semantic_dedup(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    n = table_rows(sf_dir, "embeddings")   # footer count: sizes L, no scan
    labels = max(10, -(-n // 500))      # ceil(n/500), clusters of ~500
    lab = e.withColumn(
        "slabel", F.pmod(F.col("vec_id"), F.lit(labels)).cast("bigint"))
    cent = sim.group_centroids_quantized(lab, "slabel", "embedding")
    out = sim.semantic_dedup(lab, "vec_id", "embedding", cent, "slabel",
                             threshold=0.30, max_bucket=10_000)
    return out.select("vec_id", "assigned", "dist", "sd_group",
                      F.col("keep").cast("bigint").alias("keep"))
