"""Benchmark entry point.

    python3 perfbench/run.py --workload market_daily --seed 1 --seconds 40 --trace 0

Runs one workload on local[<cores>] against the engine in this checkout,
checks its outputs, prints every metric by name with its unit, and
prints one JSON result as the last line of standard output. With
``--trace 1`` it reports the per-layer metrics of BENCHMARK.json instead
of the end-to-end ones and writes the span file under ``.perfbench/out``.
A failed output check prints ``"correct": false`` and exits 1.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import harness  # noqa: E402


WORKLOADS = {"market_daily": ("perfbench.wl_market", "MarketDaily"),
             "corpus_x10": ("perfbench.wl_corpus", "CorpusPrep")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # a run times one cold unit of work; run_seconds in BENCHMARK.json
    # is that unit's typical length, so the budget sizes nothing here
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    try:
        importlib.import_module("tradingview_data_pipeline_spark")
    except ImportError as e:
        print(f"the engine is not in this checkout: {e}", file=sys.stderr)
        return 2
    module, cls = WORKLOADS[args.workload]
    workload = getattr(importlib.import_module(module), cls)()
    try:
        res = harness.run(workload, seed=args.seed, traced=bool(args.trace))
    except harness.CheckFailed as e:
        print(f"CHECK FAILED: {e}")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    harness.emit(res, spec["per_layer"], spec["end_to_end"], bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
