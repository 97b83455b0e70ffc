"""The query-registry pass that ends every traced run.

After the workload's unit and checks, a ``--trace 1`` run makes one pass
over the 50 queries of ``__spark_entry__.queries()`` on the fixed
sf0.001 test tables (a copy in ``registry_data/``; the seed does not
apply).
Per query, inside a span named after its plan module, it builds the
DataFrame (span ``registry.build``, eager work such as q28's LSH
substrate included) and collects its rows (``registry.exec``). It is the
registry's first pass in the JVM, so plan building and code generation
run cold, as in a fresh driver session. Every result is then checked
against ``__spark_entry__.oracle_sql()`` on DuckDB, outside the spans.

One pass takes 36-50 s on 4 cores after a workload's unit, about a
minute on a fresh JVM: more than the run budget leaves for a workload of
its own, so its figures are per-layer metrics (no bound), read from
traced runs.
"""

from __future__ import annotations

import os

from perfbench import trace as tr

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "registry_data")
MODULES = ("analytics", "corpus_queries", "events_queries", "multimodal_queries",
           "relational_extra", "temporal_queries", "timeseries_queries",
           "training_queries", "vector_queries")


def run_pass(spark, tracer) -> dict:
    """One pass in spans under a root span ``registry``; returns
    {query: (dtypes, rows)} and sets ``tracer.trace_id`` per query."""
    import __spark_entry__ as entry
    from tradingview_data_pipeline_spark.operators import pins
    results = {}
    tracer.trace_id = "registry"
    with tracer.span("registry"):
        for name, fn in entry.queries().items():
            tracer.trace_id = name
            module = fn.__module__.rsplit(".", 1)[-1]
            with tracer.span(f"registry.{module}"):
                with tracer.span("registry.build"):
                    df = fn(spark, DATA)
                with tracer.span("registry.exec"):
                    rows = [tuple(r) for r in df.collect()]
            results[name] = (df.dtypes, rows)
            # release each query's DISK_ONLY pins, as a driver session does
            pins.release_all()
            pins.release_checkpoints()
    return results


def check(results: dict) -> list[str]:
    """Row count, columns, types and value hash of every query against
    its DuckDB oracle on the same tables; returns the failures."""
    import __spark_entry__ as entry
    from tools.verify_oracle import _connect, _fetch_arrow_rows, type_lint, value_hash
    con = _connect(DATA)
    oracles = entry.oracle_sql()
    bad = []
    for name, (dtypes, rows) in results.items():
        if name not in oracles:
            bad.append(f"{name}: no oracle")
            continue
        rel = con.sql(oracles[name])
        cols = [c for c, _ in dtypes]
        drows = _fetch_arrow_rows(rel)
        problems = type_lint(dtypes, rel.columns, rel.types)
        if len(rows) != len(drows):
            problems.append(f"{len(rows)} rows vs {len(drows)}")
        if sorted(c.lower() for c in cols) != sorted(c.lower() for c in rel.columns):
            problems.append(f"columns {cols} vs {rel.columns}")
        elif value_hash(rows, [c.lower() for c in cols]) != \
                value_hash(drows, [c.lower() for c in rel.columns]):
            problems.append("value-hash mismatch")
        if problems:
            bad.append(f"{name}: {'; '.join(problems)}")
    con.close()
    return bad


def layers(spans: list[dict], folded: dict) -> dict:
    """registry.* per-layer metrics of the pass."""
    root = next(s["id"] for s in spans if s["parent"] is None and s["name"] == "registry")
    tot = tr.outermost_totals(spans)
    out = {f"registry.{m}_s": (tot.get((root, f"registry.{m}"), 0.0), "s") for m in MODULES}
    out["registry.build_s"] = (tot.get((root, "registry.build"), 0.0), "s")
    out["registry.exec_s"] = (tot.get((root, "registry.exec"), 0.0), "s")
    out["registry.total_s"] = (out["registry.build_s"][0] + out["registry.exec_s"][0], "s")
    spark = tr.spark_by_root(spans, folded)[root]
    out["registry.jobs"] = (spark["jobs"], "count")
    out["registry.stages"] = (spark["stages"], "count")
    out["registry.tasks"] = (spark["tasks"], "count")
    out["registry.task_cpu_s"] = (spark["task_cpu_s"], "s")
    out["registry.driver_s"] = (spark["driver_s"], "s")
    return out
