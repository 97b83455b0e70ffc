"""Measured scale-up bench for the dedup/ANN family (VERDICT r5 task 2).

Runs the dedup/ANN/text queries at multiple sf dirs in ONE session and
reports per-query wall time + the finalized-plan feature counts, so the
"sub-quadratic by construction" claims in SCALING.md are measured at a
10x step, not just argued.  Pair with tools/gen_scale.py:

    python tools/gen_scale.py .scale/gen_sf0.1 1
    python tools/gen_scale.py .scale/gen_sf1 10
    python tools/scale_bench.py .scale/gen_sf0.1 .scale/gen_sf1

Methodology notes (mirrored in SCALING.md):
- Each scale starts with a cleared q28-family candidate cache, so
  q28 pays the shared LSH materialization at every scale (comparable
  numbers); q42/q70 then measure their own work on top of it.
- Queries are materialized through the noop sink (full execution, no
  driver collect) after one un-timed warm-up of q1 per scale to absorb
  parquet-footer/JIT effects; an un-timed count() records output rows
  so output growth is visible next to time growth.  Cartesian products,
  including any upstream of an eager checkpoint, are caught by
  `tests/test_plan_shapes.py::test_no_cartesian_products_anywhere`.
- A fixed-work JVM calibration job is timed per scale for drift checks.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "q23_text_profile",
    "q28_lsh_near_dup",
    "q42_dedup_graph",   # merged cluster+graph legs (r8 merge #13)
    "q76_token_sequences",
    "q29_signature_neardup",   # merged text-SimHash + embedding-LSH (r9)
    "q30_ann_topk",      # merged fold+blas+ivf legs (r8 merge #16)
    "q80_url_dedup",     # round-9 addition (slot freed by q29+q32)
    "q53_centroid_ann",  # merged kmeans-assign + quantized-ANN (r9 #18)
    "q72_dup_spans",     # span profile + containment pairs (r9 leg)
    "q82_hybrid_retrieval",  # BM25 + ANN RRF fusion (r9, slot from q20+q56)
    "q46_corpus_prep",   # merged split+chunk query: times BOTH legs,
                         # so its curve is NOT comparable to the
                         # pre-merge q47 chunking-only numbers
    "q48_decontamination",
    "q49_corpus_terms",
]


def main() -> None:
    # --queries=a,b,c overrides the default dedup/ANN family — used for
    # the temporal/window scale curve over --events corpora.
    global QUERIES
    args = []
    for a in sys.argv[1:]:
        if a.startswith("--queries="):
            QUERIES = a.split("=", 1)[1].split(",")
        else:
            args.append(a)
    sf_dirs = [os.path.abspath(d) for d in args] or [
        os.path.abspath(".scale/gen_sf0.1"), os.path.abspath(".scale/gen_sf1")]

    import __spark_entry__ as entrymod
    from tradingview_data_pipeline_spark.session import get_spark
    from tradingview_data_pipeline_spark.operators import pins

    spark = get_spark("scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = entrymod.queries()
    out = []
    for sf_dir in sf_dirs:
        # q28 pays materialization per scale: free the prior scale's
        # session memos (and their checkpoint blocks) before this
        # scale's timed runs
        pins.forget()
        # size the session shuffle width by the scale point (the SURVEY
        # §6 doctrine: partitions ~ input volume, AQE coalesces the
        # tail) — the fixed small-data width leaves decade-4 sorts
        # over-packed even where no single operator explodes enough to
        # deserve its own hint (q29's concurrent union legs, addendum
        # 23 postscript). Runtime conf: applies per scale, no restart.
        n_docs_width = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")).count()
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(max(32, n_docs_width // 20_000)))
        qmap["q1_grouped_aggs"](spark, sf_dir) \
            .write.format("noop").mode("overwrite").save()    # warm-up
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, 32).selectExpr("sum(id * 3 % 7)").collect()
        calibration = round(time.perf_counter() - t0, 3)
        timings, rows, errors = {}, {}, {}
        for name in QUERIES:
            # per-query isolation (same round-4 lesson as bench.py): one
            # failure must not erase the scale point's other timings
            t0 = time.perf_counter()
            try:
                df = qmap[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                secs = round(time.perf_counter() - t0, 3)
                rows[name] = df.count()
                timings[name] = secs   # set with rows or not at all — the
                # ratio printer indexes rows by the timings keys
            except Exception as exc:  # noqa: BLE001 — harness must survive
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            # release operator DISK_ONLY pins between queries (outside
            # the timed block) — see operators/pins.py
            pins.release_all()
            pins.release_checkpoints()
        rec = {"sf_dir": sf_dir, "calibration_sec": calibration,
               "total_sec": round(sum(timings.values()), 3),
               "queries": timings, "rows": rows,
               **({"errors": errors} if errors else {})}
        out.append(rec)
        print(json.dumps(rec), flush=True)

    if len(out) == 2:
        print("\nratios (10x data -> time ratio; rows ratio):")
        for name in QUERIES:
            if name not in out[0]["queries"] or name not in out[1]["queries"]:
                continue
            a, b = out[0]["queries"][name], out[1]["queries"][name]
            ra, rb = out[0]["rows"][name], out[1]["rows"][name]
            print(f"  {name:28s} {a:7.2f}s -> {b:7.2f}s  "
                  f"x{b / a:5.2f}   rows {ra} -> {rb} (x{rb / max(ra, 1):.1f})")
    spark.stop()


if __name__ == "__main__":
    main()
