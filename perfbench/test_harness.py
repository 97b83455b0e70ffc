"""Unit tests of the benchmark's own helpers (no Spark session).

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import compare, registry, stats  # noqa: E402
from perfbench import trace as tr  # noqa: E402


# -- percentile support --------------------------------------------------------

def test_supported_percentile_needs_ten_samples_beyond():
    assert stats.supported_percentile(19) is None
    assert stats.supported_percentile(20) == 50.0
    assert stats.supported_percentile(39) == 50.0
    assert stats.supported_percentile(40) == 75.0
    assert stats.supported_percentile(99) == 75.0
    assert stats.supported_percentile(100) == 90.0
    assert stats.supported_percentile(200) == 95.0
    assert stats.supported_percentile(1000) == 99.0
    assert stats.supported_percentile(10_000) == 99.9


def test_summarize_tail_needs_support():
    vals = [float(i) for i in range(1, 101)]          # 1..100
    s = stats.summarize(vals)
    assert s["n"] == 100 and s["p50"] == 50.5
    assert s["tail_pct"] == 90.0 and s["tail"] == 90.0
    assert sum(v > s["tail"] for v in vals) == 10
    with pytest.raises(ValueError):
        stats.summarize([3.0, 1.0, 2.0])


# -- span self time --------------------------------------------------------------

def _span(sid, parent, start, end, name="x"):
    return {"id": sid, "name": name, "parent": parent, "trace": "t",
            "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [_span(1, None, 0.0, 10.0),
             _span(2, 1, 1.0, 4.0),
             _span(3, 1, 3.0, 5.0),            # overlaps span 2
             _span(4, 2, 1.5, 2.0),            # grandchild: not subtracted from 1
             _span(5, 1, 9.0, 12.0)]           # runs past its parent's end
    st = tr.self_times(spans)
    assert st[1] == 10.0 - (4.0 + 1.0)         # [1,5] and [9,10]
    assert st[2] == 3.0 - 0.5
    assert st[3] == 2.0 and st[4] == 0.5 and st[5] == 3.0


def test_tracer_records_parent_trace_and_restores_wrapped():
    class Box:
        def f(self, x):
            return x + 1

    t = tr.Tracer()
    t.install([(Box, "f", "box.f")])
    t.trace_id = "day1"
    with t.span("day"):
        assert Box().f(1) == 2
    t.uninstall()
    assert Box.f.__name__ == "f"
    day, call = t.spans
    assert call["parent"] == day["id"] and call["name"] == "box.f"
    assert call["trace"] == day["trace"] == "day1"
    assert day["start"] <= call["start"] <= call["end"] <= day["end"]


def test_outermost_totals_count_nested_calls_once():
    spans = [_span(1, None, 0.0, 10.0, "day"),
             _span(2, 1, 1.0, 5.0, "merge.read"),
             _span(3, 2, 2.0, 3.0, "merge.read"),     # nested: not added again
             _span(4, 1, 6.0, 8.0, "serving.lookup"),
             _span(5, 4, 6.5, 7.0, "merge.read")]
    tot = tr.outermost_totals(spans)
    assert tot[(1, "merge.read")] == 4.5
    assert tr.outermost_totals(spans, under="serving.")[(1, "merge.read")] == 0.5


def test_registry_layers_sum_build_and_exec_per_module():
    spans = [_span(1, None, 0.0, 100.0, "day"),
             _span(2, None, 100.0, 110.0, "registry"),
             _span(3, 2, 100.0, 104.0, "registry.analytics"),
             _span(4, 3, 100.0, 101.0, "registry.build"),
             _span(5, 3, 101.0, 104.0, "registry.exec"),
             _span(6, 2, 105.0, 110.0, "registry.corpus_queries"),
             _span(7, 6, 105.0, 107.0, "registry.build"),
             _span(8, 6, 107.0, 110.0, "registry.exec")]
    out = registry.layers(spans, {"jobs": [], "spans": {}})
    assert out["registry.build_s"][0] == 3.0 and out["registry.exec_s"][0] == 6.0
    assert out["registry.total_s"][0] == 9.0
    assert out["registry.analytics_s"][0] == 4.0
    assert out["registry.corpus_queries_s"][0] == 5.0
    assert out["registry.vector_queries_s"][0] == 0.0
    assert out["registry.jobs"][0] == 0 and out["registry.driver_s"][0] == 10.0
    assert {f"registry.{m}_s" for m in registry.MODULES} <= set(out)


# -- event-log fold ------------------------------------------------------------

def _events(app):
    """A tiny canned log: job 0 in span 2 (two stages, three tasks), job 1
    outside any span, one running job never finished."""
    def task(stage, run_ms, cpu_ns, gc_ms, sw, rr, lr, spill):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                                 "Shuffle Read Metrics": {"Remote Bytes Read": rr,
                                                          "Local Bytes Read": lr},
                                 "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}
    grp = {"spark.jobGroup.id": "span-2"}
    return [
        {"Event": "SparkListenerApplicationStart", "App ID": app},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000,
         "Stage IDs": [0, 1], "Properties": grp},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": grp},
        task(0, 100, 50_000_000, 10, 2**20, 0, 0, 0),
        task(0, 300, 150_000_000, 0, 2**20, 0, 0, 0),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": grp},
        task(1, 200, 100_000_000, 0, 0, 2**19, 2**19, 2**21),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4_000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
         "Properties": {}},
        task(2, 1_000, 0, 0, 0, 0, 0, 0),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5_000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5_500,
         "Stage IDs": [], "Properties": grp},
    ]


def test_fold_event_log_per_span_and_driver_time(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    ev = _events("local-1")
    (app / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in ev[:8]))
    (app / "events_2_local-1").write_text("".join(json.dumps(e) + "\n" for e in ev[8:]))
    (app / "appstatus_local-1").write_text("")
    apps = tr.event_logs(str(tmp_path))
    assert [[os.path.basename(p) for p in a] for a in apps] == [
        ["events_1_local-1", "events_2_local-1"]]
    folded = tr.fold_event_log(apps)
    s2 = folded["spans"][2]
    assert s2["jobs"] == 2 and s2["stages"] == 2 and s2["tasks"] == 3
    assert abs(s2["task_run_s"] - 0.6) < 1e-9 and abs(s2["task_cpu_s"] - 0.3) < 1e-9
    assert abs(s2["gc_s"] - 0.01) < 1e-9
    assert s2["shuffle_write_mb"] == 2.0 and s2["shuffle_read_mb"] == 1.0
    assert s2["spill_mb"] == 2.0
    assert folded["spans"][None]["jobs"] == 1 and folded["spans"][None]["tasks"] == 1

    # root 1 (0..10 s) holds span 2; job 0 covers 1..3 s, job 1 is ungrouped
    spans = [_span(1, None, 0.0, 10.0, "day"), _span(2, 1, 0.5, 6.0, "jobs.composite")]
    root = tr.spark_by_root(spans, folded)[1]
    assert root["jobs"] == 2 and root["tasks"] == 3
    assert abs(root["driver_s"] - 8.0) < 1e-9
    named = tr.by_name(spans, folded)
    assert named["jobs.composite"]["stages"] == 2
    assert named["jobs.composite"]["calls"] == 1 and named["day"]["self_s"] == 4.5


def test_job_ids_restart_per_application(tmp_path):
    for n in (1, 2):
        d = tmp_path / f"eventlog_v2_local-{n}"
        d.mkdir()
        (d / f"events_1_local-{n}").write_text(
            "".join(json.dumps(e) + "\n" for e in _events(f"local-{n}")))
    folded = tr.fold_event_log(tr.event_logs(str(tmp_path)))
    assert len(folded["jobs"]) == 6
    assert folded["spans"][2]["stages"] == 4


# -- compare ---------------------------------------------------------------------

def test_compare_verdicts():
    base = {s: 10.0 + 0.1 * (s % 3) for s in range(10)}
    same = {s: v * 1.01 for s, v in base.items()}
    slow = {s: v * 1.3 for s, v in base.items()}
    fast = {s: v * 0.8 for s, v in base.items()}
    noisy = {s: 10.0 * (1 + 0.5 * (s % 2)) for s in range(10)}
    assert compare.verdict(base, same, 0.1, "lower")[0] == "within bound"
    assert compare.verdict(base, slow, 0.1, "lower")[0] == "REGRESSION"
    v, wins, n = compare.verdict(base, fast, 0.1, "lower")
    assert (v, wins, n) == ("improved", 10, 10)
    assert compare.verdict(base, noisy, 0.1, "lower")[0] in ("unresolved", "REGRESSION")
    assert compare.verdict(base, {s: v * 1.05 for s, v in noisy.items()},
                           0.5, "lower")[0] == "within bound"
    assert compare.verdict(fast, base, 0.1, "higher")[0] == "improved"
