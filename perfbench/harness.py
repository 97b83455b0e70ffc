"""Run loop shared by the workloads: set-up, the timed loop, counters,
tracing, and the result line.

A workload object provides::

    name, unit_name           workload name; what its unit of work is
    generate(work, seed)      write the inputs (untimed, outside set-up)
    hooks()                   (owner, attr, span name) wrapped in traced runs
    warmup(spark, work)       readies the fresh session (part of setup_s)
    unit(spark)               the timed unit of work; returns its samples
    check(spark)              output checks, untimed; raise CheckFailed
    e2e(sample)               the workload's end-to-end metrics
    layers(sample, spans, root)     its per-layer metrics in a traced run
    extra                     info lines, set by e2e()

Set-up is the JVM launch, the session build and the workload's warm-up.
A run then times one unit of work on that fresh JVM, cold, the way a
batch job launched by a scheduler runs it; a second unit in the same
process would run warm and measure something else. A traced run then
makes one pass over the query registry (``registry.py``) in the same
JVM, after the unit's checks.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from perfbench import registry, stats
from perfbench import trace as tr

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class CheckFailed(Exception):
    """An output check failed: the run reports no result."""


def prepare_env(work: str) -> None:
    """Environment the engine reads at import and session build; every
    file Spark or Python workers create stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def build_session(work: str, event_log: str | None):
    from tradingview_data_pipeline_spark.session import get_spark
    jvm_opts = f"-Xss32m -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    conf = {
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.executor.extraJavaOptions": jvm_opts,
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it the Python
    workers it forked) to exit: the JVM quits when its stdin closes."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def run(workload, *, seed: int, traced: bool) -> dict:
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    prepare_env(work)
    tracer = tr.Tracer() if traced else tr.NullTracer()
    workload.tracer = tracer
    event_log = os.path.join(work, "eventlog") if traced else None
    spark = None
    try:
        workload.generate(os.path.join(work, "inputs"), seed)
        tracer.install(workload.hooks())

        t0 = time.perf_counter()
        spark = build_session(work, event_log)
        tracer.sc = spark.sparkContext if traced else None
        tracer.trace_id = "setup"
        with tracer.span("setup"):
            workload.warmup(spark, os.path.join(work, "state"))
        setup_s = time.perf_counter() - t0

        tracer.trace_id = workload.unit_name
        steal0, c0 = stats.cpu_steal(), stats.cgroup_cpu_s()
        with tracer.span(workload.unit_name):
            sample = workload.unit(spark)
        sample["unit_cpu_s"] = stats.cgroup_cpu_s() - c0
        steal = stats.cpu_steal()
        rss = stats.peak_rss_mb([os.getpid(), jvm_pid(spark)])

        workload.check(spark)
        tracer.uninstall()
        if traced:
            reg = registry.run_pass(spark, tracer)
        spark.stop()
        spark = None
        bad = registry.check(reg) if traced else []
        if bad:
            raise CheckFailed("registry vs DuckDB oracle: " + " | ".join(bad))

        e2e = {"setup_s": (setup_s, "s"), "cpu_s": (sample["unit_cpu_s"], "s"),
               **workload.e2e(sample)}
        attempted, failed = sample["attempted"], sample["failed"]
        res = {"workload": workload.name, "attempted": attempted, "failed": failed,
               "extra": {**workload.extra,
                         "peak_rss_mb": f"{rss:.1f} MB",
                         "host_steal_pct": f"{stats.steal_pct(steal0, steal):.1f} % of busy CPU",
                         "ops_failed_frac": f"{failed / attempted:.4f} ({failed}/{attempted})"},
               "e2e": e2e}
        if traced:
            folded = tr.fold_event_log(tr.event_logs(event_log))
            by_root = tr.spark_by_root(tracer.spans, folded)
            root = next(s["id"] for s in tracer.spans
                        if s["parent"] is None and s["name"] == workload.unit_name)
            layers = {f"spark.{k}": (v, "s" if k.endswith("_s") else
                                     "MB" if k.endswith("_mb") else "count")
                      for k, v in by_root[root].items()}
            layers.update(workload.layers(sample, tracer.spans, root))
            layers.update(registry.layers(tracer.spans, folded))
            layers.update({f"traced.{k}": v for k, v in e2e.items()})
            res["layers"] = layers
            stem = os.path.join(out_dir, f"{workload.name}-seed{seed}")
            for sp, self_s in zip(tracer.spans, tr.self_times(tracer.spans).values()):
                sp["self_s"] = self_s
            tracer.write(stem + ".spans.jsonl")
            with open(stem + ".spark.json", "w") as fh:
                json.dump({"by_span_name": tr.by_name(tracer.spans, folded),
                           "by_root": {str(k): v for k, v in by_root.items()}},
                          fh, indent=1)
            res["span_file"] = os.path.relpath(stem + ".spans.jsonl", ROOT)
        return res
    finally:
        tracer.uninstall()
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def emit(res: dict, per_layer: list[dict], end_to_end: list[dict], traced: bool) -> None:
    """Human-readable lines, then the one-line JSON result (last line)."""
    for k, (v, unit) in res["e2e"].items():
        print(f"e2e  {res['workload']:<14} {k:<22} {v:>14.4f} {unit}")
    for k, v in sorted(res.get("extra", {}).items()):
        print(f"info {res['workload']:<14} {k:<22} {v}")
    if traced:
        for k, (v, unit) in sorted(res["layers"].items()):
            print(f"layer {res['workload']:<13} {k:<34} {v:>14.4f} {unit}")
        print(f"spans written to {res['span_file']}")
    wanted = per_layer if traced else end_to_end
    source = res["layers"] if traced else res["e2e"]
    metrics = {m["name"]: {"value": float(source[m["name"]][0]), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": True, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
