"""Compare two result sets written by ``sweep.py``.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

For every workload and end-to-end metric it prints each side's median
and quartiles and a verdict against the metric's bound in
BENCHMARK.json:

- ``REGRESSION``: the change's median is worse than the base's by more
  than the bound;
- ``unresolved``: a side's own spread (interquartile range over median)
  is wider than the bound, and the runs do not separate completely;
- ``improved``: the change wins at least 9 of 10 seed-paired runs and
  its median is better by more than the base's own spread;
- ``within bound`` otherwise.

Paired wins count, over the seeds both sides ran, the runs where the
change is strictly better. Traced runs (trace 1) are compared per layer
as median deltas, and each side's tracing overhead is its traced
end-to-end median minus its untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> dict:
    """(workload, trace) -> metric -> {seed: value}."""
    out: dict = defaultdict(lambda: defaultdict(dict))
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            metrics = {k: v["value"] for k, v in rec["result"]["metrics"].items()}
            metrics.update(rec.get("layers", {}))
            for k, v in metrics.items():
                out[(rec["workload"], rec["trace"])][k][rec["seed"]] = v
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values: list[float]) -> float:
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def verdict(base: dict[int, float], change: dict[int, float], bound: float,
            better: str) -> tuple[str, int, int]:
    """(verdict, paired wins of the change, pairs)."""
    sign = 1.0 if better == "lower" else -1.0
    b, c = list(base.values()), list(change.values())
    pairs = sorted(set(base) & set(change))
    wins = sum(1 for s in pairs if sign * (change[s] - base[s]) < 0)
    mb, mc = statistics.median(b), statistics.median(c)
    worse = sign * (mc - mb) / mb if mb else 0.0
    if worse > bound:
        return "REGRESSION", wins, len(pairs)
    # every run of the change better than every run of the base
    separated = max(c) < min(b) if better == "lower" else min(c) > max(b)
    if max(spread(b), spread(c)) > bound and not separated:
        return "unresolved", wins, len(pairs)
    if pairs and wins >= 0.9 * len(pairs) and -worse > spread(b):
        return "improved", wins, len(pairs)
    return "within bound", wins, len(pairs)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    base, change = load(args.base), load(args.change)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    regressions = 0
    for w in [w["name"] for w in spec["workloads"]]:
        b0, c0 = base.get((w, 0), {}), change.get((w, 0), {})
        if b0 and c0:
            print(f"\n{w}: end to end (median [q1, q3]; bound; paired wins)")
        for name, m in e2e.items():
            if name not in b0 or name not in c0:
                continue
            bq, cq = quartiles(list(b0[name].values())), quartiles(list(c0[name].values()))
            v, wins, n = verdict(b0[name], c0[name], m["bound"], m["better"])
            regressions += v == "REGRESSION"
            delta = (cq[1] - bq[1]) / bq[1] * 100 if bq[1] else 0.0
            print(f"  {name:<14} {bq[1]:>12.4f} [{bq[0]:.4f}, {bq[2]:.4f}] -> "
                  f"{cq[1]:>12.4f} [{cq[0]:.4f}, {cq[2]:.4f}] {delta:+6.1f}%  "
                  f"bound {m['bound']:.0%}  wins {wins}/{n}  {v}")
        b1, c1 = base.get((w, 1), {}), change.get((w, 1), {})
        if b1 and c1:
            print(f"{w}: per layer, traced runs (median -> median)")
            for name in sorted(set(b1) & set(c1)):
                mb = statistics.median(b1[name].values())
                mc = statistics.median(c1[name].values())
                if mb == mc == 0:
                    continue
                rel = f"{(mc - mb) / mb * 100:+6.1f}%" if mb else "   new"
                print(f"  {name:<34} {mb:>12.4f} -> {mc:>12.4f} {rel}")
        for label, sets in (("base", base), ("change", change)):
            t0, t1 = sets.get((w, 0), {}), sets.get((w, 1), {})
            over = {n: statistics.median(t1[f"traced.{n}"].values())
                    - statistics.median(t0[n].values())
                    for n in e2e if n in t0 and f"traced.{n}" in t1}
            if over:
                print(f"{w}: tracing overhead ({label}, traced - untraced): "
                      + ", ".join(f"{k} {v:+.4f}" for k, v in over.items()))
    return 1 if regressions else 0


if __name__ == "__main__":
    sys.exit(main())
