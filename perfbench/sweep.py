"""Run the benchmark over several seeds and collect the result lines.

    python3 perfbench/sweep.py OUT.jsonl --workload market_daily --seeds 1-10 [--trace 0]

Each run is the command from BENCHMARK.json with ``--seconds
run_seconds``; every result is appended to OUT.jsonl as
{"workload", "seed", "trace", "wall_s", "result"}. Runs are sequential:
the benchmark owns every core while it measures.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = 0
    for w in args.workload:
        for seed in seeds(args.seeds):
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]),
                                     "--trace", str(args.trace)]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                failures += 1
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stdout[-2000:]}"
                      f"{p.stderr[-2000:]}", file=sys.stderr)
                continue
            info = dict(ln.split(None, 3)[2:] for ln in lines
                        if ln.startswith("info ") and len(ln.split(None, 3)) == 4)
            layers = {f[2]: float(f[3]) for f in (ln.split() for ln in lines)
                      if f[0] == "layer" and len(f) == 5}
            rec = {"workload": w, "seed": seed, "trace": args.trace,
                   "wall_s": round(wall, 2), "info": info, "layers": layers,
                   "result": json.loads(lines[-1])}
            with open(args.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            vals = {k: round(v["value"], 4) for k, v in rec["result"]["metrics"].items()}
            print(f"{w} seed {seed} wall {wall:.1f}s {vals if not args.trace else ''}",
                  flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
