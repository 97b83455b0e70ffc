"""Graph centrality over edge frames: distributed PageRank.

Training-data curation uses centrality on document graphs (near-dup
graphs, citation/link graphs) to pick cluster representatives and
weight quality propagation — the iterative companion to the
connected-components / label-propagation operators in ``dedup``.

Execution model (the pattern every Spark iterative algorithm needs):

- one join + one aggregate per iteration, both keyed on the node id —
  the same partitioning reused every round;
- dangling mass (nodes with no out-edges) folded back uniformly via a
  single collected scalar per iteration (O(1) driver traffic);
- convergence by L1 delta (another O(1) scalar);
- ``localCheckpoint`` every few rounds truncates the lineage so the
  plan doesn't grow with the iteration count (the q29/CC lesson);
- a RuntimeError on non-convergence rather than silently returning a
  half-iterated result (mirrors ``dedup.connected_components``).

Scale: each iteration is one shuffle of the edge frame; wall time is
O(iterations × one-join-cost) with no driver-side graph state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.operators import pins


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst", *,
             damping: float = 0.85, tol: float = 1e-6,
             max_iter: int = 40) -> DataFrame:
    """PageRank over a directed edge frame → ``(node, rank)``.

    Ranks sum to 1. Nodes = distinct endpoints; parallel edges count
    once per occurrence (weight by repetition); dangling nodes donate
    their mass uniformly, the standard formulation. Edges with a NULL
    endpoint are dropped up front (a NULL key would silently leak rank
    mass through the inner joins — same policy as the MERGE sink's
    null-key filter).
    """
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    edges = edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
    nodes = (edges.select(F.col(src).alias("node"))
             .unionByName(edges.select(F.col(dst).alias("node")))
             .distinct())
    nodes = pins.checkpoint(nodes, storage_level=None)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = pins.checkpoint(
        edges.groupBy(F.col(src).alias("node"))
        .agg(F.count(F.lit(1)).alias("out_deg")), storage_level=None)
    e = pins.checkpoint(
        edges.select(F.col(src).alias("node"), F.col(dst).alias("to"))
        .join(out_deg, "node"), storage_level=None)

    pr = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    # dangling nodes never change; their count prices the initial mass
    n_dangling = nodes.join(out_deg, "node", "left_anti").count()
    dangling = n_dangling / n                # initial ranks are uniform
    for it in range(max_iter):
        contrib = (e.join(pr, "node")
                   .groupBy(F.col("to").alias("node"))
                   .agg(F.sum(F.col("rank") / F.col("out_deg"))
                        .alias("in_mass")))
        new_pr = (nodes.join(contrib, "node", "left")
                  .select("node",
                          (F.lit(base)
                           + F.lit(damping)
                           * (F.coalesce(F.col("in_mass"), F.lit(0.0))
                              + F.lit(dangling / n))).alias("rank")))
        # an action runs every round anyway (the stats aggregate), so
        # checkpointing every round is strictly cheaper than letting k
        # rounds of lineage recompute under each collect
        new_pr = pins.checkpoint(new_pr, storage_level=None)
        # ONE action per iteration: the L1 convergence delta and the
        # NEXT round's dangling mass come out of the same aggregate
        row = (new_pr.select("node", F.col("rank").alias("r2"))
               .join(pr.select("node", "rank"), "node")
               .join(out_deg, "node", "left")
               .agg(F.sum(F.abs(F.col("r2") - F.col("rank"))).alias("d"),
                    F.coalesce(F.sum(F.when(F.col("out_deg").isNull(),
                                            F.col("r2"))), F.lit(0.0))
                    .alias("dm"))
               .collect()[0])
        delta, dangling = row["d"], row["dm"]
        pr = new_pr
        if delta is not None and delta < tol:
            return pr
    raise RuntimeError(
        f"pagerank did not converge within {max_iter} iterations "
        f"(last L1 delta {delta:.2e} >= tol {tol:.0e}) — raise max_iter "
        f"or tol rather than trusting a half-iterated ranking")
