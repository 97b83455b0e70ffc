"""Physical-plan regression tests: predicate pushdown, column pruning,
and join strategies are part of the engine contract (SCALING.md), so a
change that silently breaks them should fail here, not in a bench run."""

import __spark_entry__ as entry          # noqa: F401 — loads every query module
from tradingview_data_pipeline_spark.plans import analytics

SF = "/root/testdata/sf0.001"


def _mode(df):
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")


def explain(df) -> str:
    return df._jdf.queryExecution().explainString(_mode(df))


def test_scan_filter_pushdown_and_pruning(spark):
    p = explain(analytics._q2_scan_filter(spark, SF))
    assert "PushedFilters" in p
    assert "EqualTo(l_returnflag,R)" in p
    assert "GreaterThan(l_quantity,45.0)" in p
    # column pruning: projection of 5 output + 1 filter col, not all 11
    schema_line = next(ln for ln in p.splitlines() if "ReadSchema" in ln)
    assert "l_tax" not in schema_line and "l_discount" not in schema_line


def test_dim_joins_are_broadcast(spark):
    p = explain(analytics._q4_join_enrich(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_topk_is_take_ordered(spark):
    p = explain(analytics._q3_topk_orders(spark, SF))
    assert "TakeOrderedAndProject" in p     # no global sort


def test_aggregate_is_partial_then_final(spark):
    p = explain(analytics._q1_pricing_summary(spark, SF))
    # map-side combine: at least two HashAggregate levels around the exchange
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_no_cartesian_products_anywhere(spark, monkeypatch):
    """No query plan, and no substrate a query checkpoints while it is
    built, contains a cartesian product. An eager checkpoint cuts the
    lineage, so the query's own plan shows only a LogicalRDD stub where
    the substrate was; the wrapper records each checkpointed frame's
    executed plan before the cut hides it."""
    from tradingview_data_pipeline_spark.operators import pins
    from tradingview_data_pipeline_spark.plans import training_queries

    DataFrame = type(spark.range(1))    # the classic frame, not the ABC
    substrates = []                     # (query, executed plan)
    real = DataFrame.localCheckpoint

    def recording(self, *a, **kw):
        ck = real(self, *a, **kw)
        substrates.append(
            (name, self._jdf.queryExecution().executedPlan().toString()))
        return ck

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    # q28/q42/q70 share a memoised substrate: build it inside this test
    pins.forget()
    for name, fn in analytics.QUERIES.items():
        p = explain(fn(spark, SF))
        assert "CartesianProduct" not in p, name
    assert (training_queries.LSH_SUBSTRATE, SF) in pins.BUILD_SEC, \
        "q28 substrate not rebuilt"
    assert any(name == "q28_lsh_near_dup" for name, _ in substrates)
    assert substrates
    for name, sub in substrates:
        assert "CartesianProduct" not in sub, f"{name} substrate"


def test_region_pick_joins_are_broadcast(spark):
    for q in ("q10_rank_relational",):
        p = explain(analytics.QUERIES[q](spark, SF))
        assert "BroadcastHashJoin" in p, q


# ---------------------------------------------------------------------------
# Scale audit: a SinglePartition exchange is only acceptable when it
# carries aggregated (bounded) data — the partial->final step of a global
# aggregate, or a bucket-totals frame bounded by a constant. A
# SinglePartition exchange over NON-aggregated input means a full-table
# global sort/window running in one task — the 100 TB killer this guards
# against. q10 parity mode is the one documented exception (it exists to
# reproduce the reference bit-for-bit and has a tested mode="scale").
# ---------------------------------------------------------------------------

def _part_as_stocks(spark):
    """The part table dressed as a two-metric stock frame."""
    return (spark.read.parquet(f"{SF}/part.parquet")
            .selectExpr("p_name as symbol", "p_type as sector",
                        "p_brand as industry",
                        "cast(p_retailprice as double) as pe_ratio",
                        "cast(p_size as double) as return_on_equity_ttm"))


def test_fundamental_scores_with_hint_runs_no_action(spark):
    """The scoring job's percentile-mode gate must not spend a Spark
    action when the caller supplies a size hint (the job path passes
    ParquetTable.row_count(), computed from parquet footers): building
    the plan is action-free end to end."""
    from pyspark.sql import DataFrame

    from tradingview_data_pipeline_spark.plans import fundamental_score as fs

    df = _part_as_stocks(spark)

    def boom(self, *a, **kw):                  # any action = test failure
        raise AssertionError("Spark action during plan construction")

    actions = {n: getattr(DataFrame, n) for n in
               ("count", "collect", "take", "head", "first", "toPandas")}
    try:
        for n in actions:
            setattr(DataFrame, n, boom)
        scored = fs.fundamental_scores(df, size_hint_rows=2_000)
    finally:
        for n, real in actions.items():
            setattr(DataFrame, n, real)
    assert scored.where("fundamental_score is not null").count() > 0

    # row_count() itself must match an actual count without a job
    from tradingview_data_pipeline_spark.operators.merge import (
        parquet_footer_rows,
    )
    assert parquet_footer_rows([f"{SF}/part.parquet"]) \
        == spark.read.parquet(f"{SF}/part.parquet").count()


def test_fundamental_scores_small_and_set_modes_agree(spark):
    """The size hint picks the percentile operator's plan, never its
    numbers: the window form (small) equals the set-based form row for
    row."""
    from tradingview_data_pipeline_spark.plans import fundamental_score as fs

    df = _part_as_stocks(spark)
    small = fs.fundamental_scores(df, size_hint_rows=2_000).collect()
    large = fs.fundamental_scores(df, size_hint_rows=10**9).collect()
    assert len(small) == df.count()
    assert sorted(map(tuple, small)) == sorted(map(tuple, large))


def test_fundamental_scores_small_mode_plan_shape(spark):
    """Small mode ranks the melted frame with windows on the plan's own
    keys: the whole scoring plan holds at most 10 shuffle exchanges and 3
    broadcasts (the histogram/offset/total form planned 28 and 15)."""
    from tradingview_data_pipeline_spark.plans import fundamental_score as fs

    scored = fs.fundamental_scores(_part_as_stocks(spark), size_hint_rows=2_000)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    broadcasts = plan.count("BroadcastExchange")
    shuffles = plan.count("Exchange ") - broadcasts
    assert shuffles <= 10, plan
    assert broadcasts <= 3, plan


_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
_SINGLE_PARTITION_EXCEPTIONS = {"q10_rank_relational"}


def test_single_partition_exchanges_carry_only_aggregates(spark):
    for name, fn in analytics.QUERIES.items():
        if name in _SINGLE_PARTITION_EXCEPTIONS:
            continue
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            child = lines[i + 1] if i + 1 < len(lines) else ""
            assert any(a in child for a in _AGG_NODES), \
                f"{name}: full-table SinglePartition exchange\n{ln}\n{child}"


def test_repetition_gate_is_map_only(spark):
    """The repetition signals + limit filter must compile to a pure
    projection+filter over the scan — zero Exchange nodes — or the
    'gate adds no shuffle to the pipeline' claim in corpus_pipeline is
    broken."""
    from tradingview_data_pipeline_spark.operators import corpus as cp
    from tradingview_data_pipeline_spark.plans.corpus_pipeline import (
        _apply_repetition_limits)

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    gated = _apply_repetition_limits(docs, {"dup_line_frac": 0.3,
                                            "top_2gram_frac": 0.5})
    p = explain(gated)
    assert "Exchange" not in p, p
    # and the standalone profile stays zero-exchange after the
    # with_repetition_signals refactor
    p2 = explain(cp.repetition_profile(docs, "doc_id", "text"))
    assert "Exchange" not in p2, p2
    # the REGISTERED q75 (signals + line-dedup hash) must stay one
    # projection over the scan too — no doc_id self-join creep. The r12
    # scan spread adds AT MOST one round-robin exchange (parallelizing
    # the single-split scan, measured 1.56 -> 0.83 s); any
    # hash-partitioned exchange would mean a join/aggregate crept in.
    p3 = explain(analytics.QUERIES["q75_repetition_profile"](spark, SF))
    assert "hashpartitioning" not in p3, p3
    assert "rangepartitioning" not in p3, p3
