"""SparkSession factory with local / cluster profiles.

The reference runs a single eager pandas process per cron job
(`/root/reference/run_technical.sh:13`); our engine is a long-lived Spark
application. Local profile is used by tests and bench; the cluster profile
documents the settings we'd ship to a 1000-executor deployment (AQE on,
shuffle partitions sized by data volume, Arrow enabled for the few
Pandas-UDF operators).

Small-plan posture. Spark compiles every plan it runs: whole-stage
codegen emits one Janino class per stage, and projections, predicates
and orderings get their own. A cold market day runs six jobs over
warehouse tables of at most ~2.3k rows, and compiled 309 classes for
them (9.2 s of Janino time, before the JVM's own JIT of the result).
``small_plan_posture(spark, rows)`` runs its body with
``spark.sql.codegen.factoryMode=NO_CODEGEN`` when ``rows`` is at most
``SMALL_PLAN_MAX_ROWS``: expressions are then evaluated by Spark's
interpreted path, and on Spark 4.1 the same setting also turns off
whole-stage codegen. Measured on 4 cores (``perfbench`` market_daily,
seed 1): 309 -> 28 classes a day, Janino time 9.2 -> 1.1 s. The market
job runners (``plans/jobs.py``) and the news stream's sink enter it,
gated on the footer row count of the table they read or maintain;
nothing else does, so the row-heavy corpus and registry plans stay
compiled.

Caveat: Spark marks ``factoryMode`` internal ("not supposed to be set by
end users"). It is still the only switch for interpreted evaluation,
and Spark's own expression suites run every expression in both modes.
``tests/test_session.py`` fails if an upgrade stops honouring it.

The bound is the measured crossover, not a guess: interpreted
evaluation costs more per row, compiling costs a fixed price per plan,
and ``SMALL_PLAN_MAX_ROWS`` records where the scoring jobs break even.
The setting is session-wide while the body runs, so a concurrent job
on the same session runs interpreted too.

JIT posture. Every market job runs on a cold JVM, and HotSpot's own
compiler threads used 38-39 s of a 90-92 s day's CPU (seed 1, 4 cores),
more than the driver (13 s) and task (11 s) threads together. The local
profile starts the driver JVM with ``-XX:CICompilerCount=2``, HotSpot's
tiered minimum: one C1 and one C2 thread instead of the 3 a 4-core host
gets by default. The second C2 thread mostly compiles code a cold unit
never reaches again. Executor JVMs keep HotSpot's defaults, so cluster
compute keeps its C2 throughput; in local mode, though, the driver JVM
runs the tasks too. The flag sits in ``spark.driver.defaultJavaOptions``,
next to ``-Xss32m``: Spark puts the default options ahead of
``extraJavaOptions``, so a caller that sets its own
``extraJavaOptions`` (``spark-submit --conf``, the benchmark harness)
adds to them instead of dropping them, and the flags reach the
benchmark's JVM with no harness change.

Measured on a 4-core host only (``perfbench``, interleaved pairs with
and without the change, steal < 1 %; runs in
``evidence/JIT_POSTURE_PAIRS.jsonl``). Market_daily seeds 11-22, 12
pairs: ``cpu_s`` median 97.5 -> 75.7 s (-22 %, all 12 pairs lower),
``unit_s`` +4.5 % (4 of 12 pairs lower, inside the quartile spread of
the runs without it); screener CPU per request 377 -> 186 ms with the
one-job screener read. Corpus_x10 seeds 11-16, 6 pairs: ``cpu_s``
-4 %, ``unit_s`` +4 % (1 of 6 pairs lower). Rejected in sizing runs:
``-XX:TieredStopAtLevel=1`` (``cpu_s`` -41 % but ``unit_s`` +13 %),
``-XX:+UseParallelGC`` and halved Tier3 thresholds (no gain over the
flag alone). A host with more cores gets more compiler threads by
default, so its saving may differ; it was not measured. ``jit_ms``
reads HotSpot's cumulative compile time to attribute a span.
"""

from __future__ import annotations

import os
import weakref
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _install_jvm_function_cache() -> None:
    """Memoize PySpark's per-call JVM function lookup (guide §7.3 — the
    plan-construction Python boundary).

    ``pyspark.sql.functions.builtin._get_jvm_function`` resolves
    ``getattr(sc._jvm, "org.apache.spark.sql.functions")`` and then the
    named static method on EVERY ``F.*`` call — two py4j reflection
    round trips (JVMView.__getattr__ / JavaClass.__getattr__ both send a
    REFLECTION_COMMAND, py4j java_gateway.py) before the actual CALL
    command. The returned static ``JavaMember`` is stable for the life
    of the gateway, so caching it per (SparkContext, name) removes 2 of
    the 3 round trips each expression node costs. Measured: ``F.lit``
    0.87 -> 0.31 ms/call; fundamental_scores plan construction
    2.25 -> 1.3 s. Executed plans are byte-identical — this touches only
    how the driver LOOKS UP the JVM-side functions object.

    Keyed weakly on the SparkContext: a stopped/rebuilt session drops
    its entries (a fresh context owns a fresh gateway, so stale members
    can never leak across sessions). Version-guarded: if the private
    helper moves, the engine silently runs at stock speed.
    """
    try:
        from pyspark.sql.functions import builtin as _builtin
        orig = _builtin._get_jvm_function
    except (ImportError, AttributeError):      # layout changed — stock speed
        return
    if getattr(orig, "__jvm_fn_cache__", False):
        return                                 # already installed
    cache: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

    def cached(name, sc):
        try:
            per_ctx = cache[sc]
        except KeyError:
            per_ctx = cache[sc] = {}
        fn = per_ctx.get(name)
        if fn is None:
            fn = per_ctx[name] = orig(name, sc)
        return fn

    cached.__jvm_fn_cache__ = True
    _builtin._get_jvm_function = cached


_install_jvm_function_cache()

# Defaults chosen for the harness container (local[N], 128 GiB, tiny data).
# At the 100 TB design point, spark.sql.shuffle.partitions is instead sized
# ~ (input bytes / 128 MiB) and AQE coalesces the tail.
_LOCAL_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # NOTE (round 10, measured): planning every shuffle wide via
    # adaptive.coalescePartitions.initialPartitionNum=512 and letting
    # AQE coalesce was tried as the session-wide width fix and
    # REGRESSED the sf0.1 suite ~2x (bench 100 -> 196 s) — local-mode
    # map-output overhead on hundreds of tiny shuffles is not free, and
    # AQE's coalescing does not recover it. Width therefore stays a
    # per-decade knob: callers running decade-scale jobs size
    # spark.sql.shuffle.partitions ~ input bytes / 128 MiB at session
    # build (SPARK_GRAFT_CPUS env or extra_conf), the posture the
    # module docstring documents for the 1000-executor profile.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # r12 (guide §2.1/§2.2 — shuffle file machinery): thread-dump
    # sampling during the q72 containment leg showed the hot executor
    # stacks in BypassMergeSortShuffleWriter's file plumbing
    # (DiskBlockObjectWriter.initialize, copyFileStreamNIO), not in
    # compute — the bypass writer opens one temp file PER REDUCE
    # PARTITION per map task (32x32 per exchange on this profile) and
    # then concatenates them. Threshold 1 routes every multi-partition
    # shuffle through the sort writer (ONE spill file per map task).
    # Measured (cgroup-CPU, min-of-4, interleaved with base): q72
    # 35->20 s CPU / 10.6->2.5 s wall, q74 13->6.4 s CPU, q42/q80/q10
    # each ~10-20% CPU down. Scale-aligned, not a local trick: shuffles
    # wider than the 200-partition default never bypassed anyway, so
    # production plans are unchanged; this only aligns the narrow-
    # shuffle path with the same single-file-per-map-task behavior.
    "spark.shuffle.sort.bypassMergeThreshold": "1",
    # r12 NEGATIVE RESULT (guide §2.2), measured then REVERTED: an 8 MB
    # coalescePartitions.minPartitionSize floor cut exchange-machinery
    # CPU on the tiny-shuffle dedup queries (q72 20->16 s, q74
    # 9.6->8.0 s cgroup-CPU) but serialized every window/Arrow stage
    # whose real per-row work needs the parallelism: q63 1.35->3.58 s,
    # q20 0.82->2.76 s, q18 0.81->1.97 s, q60 1.12->2.98 s wall
    # (interleaved min-of-4). Parallelism-first coalescing stays.
    # zstd over default snappy: ~30-40% smaller parquet at comparable
    # speed — at the 100 TB design point scan bytes are the dominant
    # cost, and every maintained table (MERGE/export) is
    # written through this session. Runtime bloom-filter join pruning
    # is already on by default in Spark 4.
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # r12 (guide §4/§7.3 — the Python boundary at PLAN-BUILD time):
    # PySpark 4 wraps every DataFrame/Column op to capture the user call
    # site for error context; each wrapped op costs ~4 extra py4j round
    # trips (conf.get + PySparkCurrentOrigin.set/clear) plus a Python
    # stack walk. Measured on composite_scores plan construction:
    # 2.8 s -> 1.2 s with capture off. Pure driver-side overhead — the
    # executed plan is byte-identical; only error messages lose the
    # "user code line" enrichment.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # wide scoring plans chain one WindowExec per (partition, order) spec;
    # the default 1m thread stack overflows around ~40 chained operators.
    # In defaultJavaOptions so a caller's extraJavaOptions cannot drop
    # them; the compiler count is the JIT posture (module docstring).
    "spark.driver.defaultJavaOptions": "-Xss32m -XX:CICompilerCount=2",
    "spark.executor.defaultJavaOptions": "-Xss32m",
    "spark.ui.enabled": "false",
}


def local_conf(extra_conf: dict[str, str] | None = None) -> dict[str, str]:
    """The local profile's session conf. ``SPARK_GRAFT_CPUS`` is read here,
    at session build, like ``master`` — a process that sets it after
    importing the package still gets a matching shuffle width."""
    conf = dict(_LOCAL_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if extra_conf:
        conf.update(extra_conf)
    return conf


def get_spark(app_name: str = "tradingview-data-pipeline-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    tests, bench, and the driver share one profile. On a real cluster the
    caller passes ``master=None`` with ``spark.master`` set by the submitter
    and overrides shuffle partitions to match data volume.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in local_conf(extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Largest table, in rows, whose plans run interpreted: the measured
# crossover. tools/scoring_scale_bench.py 16430 164300, 4 cores, one cold
# JVM per run, factoryMode forced on vs off, 2 runs each (compiled ->
# interpreted, seconds): at 16,430 rows composite 14.6/15.8 -> 9.6/10.8
# and fundamental 23.1/26.3 -> 25.2/27.1; at 164,300 rows composite
# 17.9/19.4 -> 14.3/16.9 and fundamental 85.1/97.4 -> 112.0/116.7. The
# pair still wins interpreted at 16k, but the fundamental job alone
# already loses there, so the bound sits at that job's crossover.
SMALL_PLAN_MAX_ROWS = 16_000

_FACTORY_MODE = "spark.sql.codegen.factoryMode"


@contextmanager
def small_plan_posture(spark: SparkSession, rows: int):
    """Run the body's plans interpreted when ``rows`` <= SMALL_PLAN_MAX_ROWS
    (module docstring); restore the prior setting on exit or error."""
    if rows > SMALL_PLAN_MAX_ROWS:
        yield
        return
    prior = spark.conf.get(_FACTORY_MODE, None)
    spark.conf.set(_FACTORY_MODE, "NO_CODEGEN")
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(_FACTORY_MODE)
        else:
            spark.conf.set(_FACTORY_MODE, prior)


def codegen_counters(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, compile ms) since the JVM started, read from
    Spark's ``CodegenMetrics`` and ``CodeGenerator.compileTime`` over
    py4j — no Spark job. Diff two reads to attribute a span."""
    jvm = spark.sparkContext._jvm
    metrics = getattr(jvm.org.apache.spark.metrics.source, "CodegenMetrics")
    gen = getattr(getattr(jvm.org.apache.spark.sql.catalyst.expressions.codegen,
                          "CodeGenerator$"), "MODULE$")
    return (int(metrics.METRIC_COMPILATION_TIME().getCount()),
            gen.compileTime() / 1e6)


def jit_ms(spark: SparkSession) -> int:
    """Milliseconds HotSpot's JIT compilers have spent since the driver
    JVM started (``CompilationMXBean.getTotalCompilationTime``), read
    over py4j — no Spark job. Diff two reads to attribute a span."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return int(mgmt.getCompilationMXBean().getTotalCompilationTime())
