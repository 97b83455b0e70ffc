"""Spans around the engine's public functions, and the Spark event-log fold.

A traced run wraps the public entry points the workloads call (the
wrappers live here; the engine itself is not edited). Each span records
name, start, end, parent and trace id (``setup``, or the timed unit:
the trading day or the corpus build), and tags the Spark jobs it
launches with a job group ``span-<id>``. After the session stops, the uncompressed event log is
folded per job group into task metrics, so a span's Spark work and its
driver-only time (span wall time covered by no job) can be told apart.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class NullTracer:
    """Untraced runs: span boundaries cost one no-op context manager."""
    trace_id = None

    def span(self, name: str):
        return contextlib.nullcontext()

    def install(self, hooks) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.sc = None                 # SparkContext whose jobs get grouped
        self.trace_id = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans) + 1
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "trace": self.trace_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._group(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self._group(parent, self.spans[parent - 1]["name"])
            elif self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _group(self, sid: int, name: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{sid}", name)

    def install(self, hooks) -> None:
        """hooks: iterable of (owner, attribute, span name); wraps each
        callable so every call opens a span."""
        for owner, attr, name in hooks:
            orig = getattr(owner, attr)

            def wrapped(*a, __orig=orig, __name=name, **kw):
                with self.span(__name):
                    return __orig(*a, **kw)

            setattr(owner, attr, wrapped)
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# -- span arithmetic --------------------------------------------------------

def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by its
    direct children (children of one parent may overlap)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [(max(a, s["start"]), min(b, s["end"]))
                   for a, b in kids.get(s["id"], []) if b > s["start"] and a < s["end"]]
        out[s["id"]] = (s["end"] - s["start"]) - _union_length(clipped)
    return out


def descendants(spans: list[dict]) -> dict[int, set[int]]:
    """Span id -> ids of itself and every span below it."""
    by_parent: dict[int | None, list[int]] = defaultdict(list)
    for s in spans:
        by_parent[s["parent"]].append(s["id"])
    out: dict[int, set[int]] = {}

    def walk(sid: int) -> set[int]:
        acc = {sid}
        for k in by_parent.get(sid, []):
            acc |= walk(k)
        out[sid] = acc
        return acc

    for root in by_parent.get(None, []):
        walk(root)
    return out


def outermost_totals(spans: list[dict], under: str | None = None) -> dict[tuple[int, str], float]:
    """(root span id, span name) -> summed duration of the spans with that
    name that have no ancestor of the same name (a nested call is not
    counted twice). With ``under``, only spans below a span whose name
    starts with that prefix count."""
    by_id = {s["id"]: s for s in spans}
    out: dict[tuple[int, str], float] = defaultdict(float)
    for s in spans:
        root, nested, inside = s["id"], False, under is None
        anc = s["parent"]
        while anc is not None:
            a = by_id[anc]
            nested |= a["name"] == s["name"]
            inside |= under is not None and a["name"].startswith(under)
            root, anc = a["id"], a["parent"]
        if not nested and inside:
            out[(root, s["name"])] += s["end"] - s["start"]
    return dict(out)


# -- event log --------------------------------------------------------------

def _span_of(props: dict | None) -> int | None:
    g = (props or {}).get("spark.jobGroup.id") or ""
    return int(g[5:]) if g.startswith("span-") else None


def event_logs(log_dir: str) -> list[list[str]]:
    """Event files under log_dir, one list per application in roll order:
    Spark 4 writes a rolling ``eventlog_v2_<app>/events_<n>_<app>``
    directory per application."""
    apps = []
    for name in sorted(os.listdir(log_dir)):
        d = os.path.join(log_dir, name)
        if name.startswith("eventlog_v2_") and os.path.isdir(d):
            files = [f for f in os.listdir(d) if f.startswith("events_")]
            files.sort(key=lambda f: int(f.split("_")[1]))
            apps.append([os.path.join(d, f) for f in files])
    return [a for a in apps if a]


def fold_event_log(apps: list[list[str]]) -> dict:
    """Fold listener events into per-job and per-span-id records.

    ``apps`` holds one list of event files per application (job and
    stage ids restart in every application). Returns
    {"jobs": [{"span", "start", "end"}], "spans": {span_id or None:
    totals}}; totals hold jobs, stages, tasks, task_run_s, task_cpu_s,
    gc_s, shuffle_write_mb, shuffle_read_mb and spill_mb."""
    all_jobs: list[dict] = []
    tot: dict[int | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for files in apps:
        jobs: dict[int, dict] = {}
        stage_span: dict[int, int | None] = {}
        for path in files:
            with open(path) as fh:
                for line in fh:
                    _fold_event(json.loads(line), jobs, stage_span, tot)
        for j in jobs.values():
            if j["end"] is None:           # job still running at log end
                j["end"] = j["start"]
        all_jobs.extend(jobs.values())
    return {"jobs": all_jobs, "spans": {k: dict(v) for k, v in tot.items()}}


def _fold_event(ev: dict, jobs: dict, stage_span: dict, tot: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        sid = _span_of(ev.get("Properties"))
        jobs[ev["Job ID"]] = {"span": sid, "start": ev["Submission Time"] / 1e3,
                              "end": None}
        tot[sid]["jobs"] += 1
    elif kind == "SparkListenerJobEnd":
        if ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
    elif kind == "SparkListenerStageSubmitted":
        stage_span[ev["Stage Info"]["Stage ID"]] = _span_of(ev.get("Properties"))
    elif kind == "SparkListenerStageCompleted":
        tot[stage_span.get(ev["Stage Info"]["Stage ID"])]["stages"] += 1
    elif kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics") or {}
        t = tot[stage_span.get(ev["Stage ID"])]
        t["tasks"] += 1
        t["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
        t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
        t["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0)) / 2**20
        t["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                          + m.get("Disk Bytes Spilled", 0)) / 2**20


SPARK_KEYS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb")


def spark_by_root(spans: list[dict], folded: dict) -> dict[int, dict[str, float]]:
    """Root span id -> Spark totals of every job launched under it, plus
    driver_s: root wall time covered by none of its jobs."""
    desc = descendants(spans)
    roots = [s["id"] for s in spans if s["parent"] is None]
    owner = {sid: root for root in roots for sid in desc[root]}
    out = {root: {k: 0.0 for k in SPARK_KEYS} for root in roots}
    intervals: dict[int, list] = defaultdict(list)
    for sid, t in folded["spans"].items():
        root = owner.get(sid)
        if root is not None:
            for k in SPARK_KEYS:
                out[root][k] += t.get(k, 0.0)
    for j in folded["jobs"]:
        root = owner.get(j["span"])
        if root is not None:
            intervals[root].append((j["start"], j["end"]))
    for s in spans:
        if s["parent"] is None:
            clipped = [(max(a, s["start"]), min(b, s["end"]))
                       for a, b in intervals[s["id"]] if b > s["start"] and a < s["end"]]
            out[s["id"]]["driver_s"] = (s["end"] - s["start"]) - _union_length(clipped)
    return out


def by_name(spans: list[dict], folded: dict) -> dict[str, dict[str, float]]:
    """Span name -> calls, total and self seconds, and the Spark totals of
    jobs whose innermost span has that name (``<untraced>``: jobs run
    outside every span)."""
    names = {s["id"]: s["name"] for s in spans}
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        o = out[s["name"]]
        o["calls"] += 1
        o["total_s"] += s["end"] - s["start"]
        o["self_s"] += selfs[s["id"]]
    for sid, t in folded["spans"].items():
        for k, v in t.items():
            out[names.get(sid, "<untraced>")][k] += v
    return {k: dict(v) for k, v in sorted(out.items())}
