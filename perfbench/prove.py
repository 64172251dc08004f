"""Run one workload on several seeds and report each end-to-end metric's
median and run-to-run spread against its bound in BENCHMARK.json.

    python3 perfbench/prove.py --workload query_mix --seeds 1 2 3 4 5 \
        [--out perfbench/results/query_mix.json]

Run from the repository root. The spread is the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of the median. ``--out`` writes every run's metrics with the
host stamp (nproc, Spark version, boot id) the runs printed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    runs = []
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stdout[-3000:]}{proc.stderr[-3000:]}")
            return 1
        result = json.loads(lines[-1])
        stamp = json.loads(lines[1][2:])
        values = {k: v["value"] for k, v in result["metrics"].items()}
        runs.append({"seed": seed, "wall_s": wall, "stamp": stamp, "attempted": result["attempted"],
                     "failed": result["failed"], "metrics": values})
        shown = " ".join(f"{k}={v:.4g}" for k, v in values.items() if k in bounds)
        print(f"seed {seed}: wall {wall:.1f}s attempted {result['attempted']} {shown}", flush=True)

    summary = {}
    if len(runs) >= 2:
        for name, bound in bounds.items():
            vals = [r["metrics"][name] for r in runs]
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / q2
            summary[name] = {"median": q2, "spread": spread, "bound": bound}
            flag = "ok" if spread < bound / 3 else "WIDE" if spread > bound else "over 1/3"
            print(f"{name:14s} median {q2:12.5g} spread {spread:7.2%} bound {bound:.0%}  {flag}")
    if args.out:
        os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "run_seconds": spec["run_seconds"],
                       "summary": summary, "runs": runs}, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
