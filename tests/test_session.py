"""Session profile and the small-plan posture (session.py): the conf is
built when the session is, the JVM flags reach the driver JVM, and the
posture really runs plans interpreted — a canary for the internal
``codegen.factoryMode`` setting that a Spark upgrade could stop
honouring."""

import re

from tradingview_data_pipeline_spark import session

_WHOLE_STAGE = re.compile(r"\*\(\d+\) ")      # WholeStageCodegenExec marker


def test_local_conf_reads_cpus_at_session_build(monkeypatch):
    # the package is imported by now; the variable is set afterwards
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = session.local_conf()
    assert conf["spark.sql.shuffle.partitions"] == "3"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert session.local_conf()["spark.sql.shuffle.partitions"] == "5"
    over = session.local_conf({"spark.sql.shuffle.partitions": "7"})
    assert over["spark.sql.shuffle.partitions"] == "7"


def test_jvm_flags_survive_a_callers_extra_java_options():
    conf = session.local_conf({"spark.driver.extraJavaOptions": "-Dx=1"})
    assert conf["spark.driver.extraJavaOptions"] == "-Dx=1"
    flags = conf["spark.driver.defaultJavaOptions"].split()
    assert "-Xss32m" in flags and "-XX:CICompilerCount=2" in flags
    assert "-Xss32m" in conf["spark.executor.defaultJavaOptions"].split()


def test_live_driver_jvm_runs_the_jit_posture(spark):
    """The flags reached the running driver JVM (read over py4j from
    HotSpot's diagnostic bean, no Spark job), and jit_ms reads its
    compile clock."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    assert bean.getVMOption("CICompilerCount").getValue() == "2"
    assert bean.getVMOption("ThreadStackSize").getValue() == "32768"
    first = session.jit_ms(spark)
    assert 0 < first <= session.jit_ms(spark)


def _small_plan(spark, k):
    # a fresh literal per call: the generated code differs, so the
    # codegen cache cannot hide a compile
    return (spark.range(200).selectExpr(f"id * {k} AS a", "id % 7 AS g")
            .groupBy("g").agg({"a": "sum"}))


def _run(df):
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_posture_runs_small_plans_interpreted(spark):
    with session.small_plan_posture(spark, 10):
        _run(_small_plan(spark, 1_000_003))        # first-use classes
        c0, _ = session.codegen_counters(spark)
        plan = _run(_small_plan(spark, 1_000_033))
        inside = session.codegen_counters(spark)[0] - c0
    assert inside == 0
    assert not _WHOLE_STAGE.search(plan)

    c0, ms0 = session.codegen_counters(spark)
    plan = _run(_small_plan(spark, 1_000_037))
    classes, ms = session.codegen_counters(spark)
    assert classes - c0 > 0 and ms > ms0
    assert _WHOLE_STAGE.search(plan)


def test_posture_restores_prior_setting(spark):
    key = "spark.sql.codegen.factoryMode"
    assert spark.conf.get(key, None) is None
    with session.small_plan_posture(spark, 10):
        assert spark.conf.get(key) == "NO_CODEGEN"
    assert spark.conf.get(key, None) is None       # unset again

    spark.conf.set(key, "FALLBACK")
    try:
        try:
            with session.small_plan_posture(spark, 10):
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert spark.conf.get(key) == "FALLBACK"
    finally:
        spark.conf.unset(key)


def test_posture_off_above_the_bound(spark, monkeypatch):
    key = "spark.sql.codegen.factoryMode"
    with session.small_plan_posture(spark, session.SMALL_PLAN_MAX_ROWS + 1):
        assert spark.conf.get(key, None) is None
    monkeypatch.setattr(session, "SMALL_PLAN_MAX_ROWS", 0)
    with session.small_plan_posture(spark, 30):
        assert spark.conf.get(key, None) is None
