"""Per-query micro-bench: time registered queries with the noop sink,
repeated N times on one warm session, reporting min/median of the repeats
plus the CGROUP CPU SECONDS each run consumed (r12): on a host with
bursty hypervisor steal (this round's sandbox showed multi-minute 2-4x
slowdowns; /proc/stat steal 8-22% under load), wall time of a single run
is meaningless — cpuacct.usage counts only cycles actually delivered, so
cpu_min is the steal-robust before/after signal and wall_min the
optimistic wall clock.

bench.py stays the driver-contract artifact (one cold pass over the whole
registry); this tool is for OPTIMIZATION deep dives — repeats isolate a
single query's steady-state cost from session warm-up and neighbors, and
`setJobDescription` labels make the UI/event-log attribution readable.
Each run also reports the classes Spark generated and compiled for it
and their Janino compile milliseconds (``codegen_classes``,
``compile_ms``, read from the JVM's codegen counters), and the HotSpot
JIT milliseconds the run cost (``jit_ms``); none of the reads runs a
Spark job, so a "compile less" claim can name its layer.

Usage:

    python tools/qbench.py [-n repeats] [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

_CPUACCT_V1 = "/sys/fs/cgroup/cpuacct/cpuacct.usage"
_CPUSTAT_V2 = "/sys/fs/cgroup/cpu.stat"


def _cpu_sec() -> float | None:
    """Cgroup CPU seconds (v1 cpuacct, else v2 cpu.stat usage_usec) or
    None when neither is readable — cpu_min must then report null, not a
    misleading 0.0 (r13 advisor catch)."""
    try:
        with open(_CPUACCT_V1) as fh:
            return int(fh.read()) / 1e9
    except OSError:
        pass
    try:
        with open(_CPUSTAT_V2) as fh:
            for line in fh:
                if line.startswith("usage_usec"):
                    return int(line.split()[1]) / 1e6
    except OSError:
        pass
    return None

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    repeats = 3
    if args and args[0] == "-n":
        repeats = int(args[1])
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    names = args[1:]

    from tradingview_data_pipeline_spark.session import codegen_counters, get_spark, jit_ms
    from tradingview_data_pipeline_spark.operators import pins
    import __spark_entry__ as entrymod

    spark = get_spark("qbench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    if names:
        queries = {n: queries[n] for n in names}

    # warm-up (JVM/JIT + parquet footer caches), same as bench.py
    from tradingview_data_pipeline_spark.plans import analytics
    analytics.QUERIES["q1_grouped_aggs"](spark, sf_dir) \
        .write.format("noop").mode("overwrite").save()

    out: dict[str, dict] = {}
    for name, fn in queries.items():
        runs = []
        cpu_runs = []
        classes, compile_ms, jit = [], [], []
        for i in range(repeats):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            c0 = _cpu_sec()
            k0, ms0 = codegen_counters(spark)
            j0 = jit_ms(spark)
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(round(time.perf_counter() - t0, 3))
                c1 = _cpu_sec()
                if c0 is not None and c1 is not None:
                    cpu_runs.append(round(c1 - c0, 3))
                k1, ms1 = codegen_counters(spark)
                classes.append(k1 - k0)
                compile_ms.append(round(ms1 - ms0, 1))
                jit.append(jit_ms(spark) - j0)
            except Exception as exc:  # noqa: BLE001
                out[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
                break
            finally:
                pins.release_all()
                pins.release_checkpoints()
                # session memos would make repeat 2+ measure a cache
                # hit, not the query — forget them between repeats
                pins.forget()
        if runs:
            srt = sorted(runs)
            out[name] = {"runs": runs, "min": srt[0],
                         "median": srt[len(srt) // 2],
                         "cpu_runs": cpu_runs,
                         "cpu_min": min(cpu_runs) if cpu_runs else None,
                         "codegen_classes": classes,
                         "compile_ms": compile_ms,
                         "jit_ms": jit}
        print(f"{name}: {out[name]}", flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
