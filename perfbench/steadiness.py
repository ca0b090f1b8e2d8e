#!/usr/bin/env python3
"""Run the benchmark several times per workload, each with another seed,
and report each end-to-end metric's median and its spread: the distance
between the first and third quartile as a share of the median, next to
the metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --runs 10 [--workload star_analytics] [--first-seed 1]

Runs are sequential, one process each. The raw results go to
``.perfbench/steadiness-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from statistics import median

from stats import iqr_share

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append", choices=[w["name"] for w in spec["workloads"]])
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for workload in args.workload or [w["name"] for w in spec["workloads"]]:
        results = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.monotonic()
            out = subprocess.run(
                [sys.executable, *spec["command"][1:], "--workload", workload,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=300,
            )
            if out.returncode != 0:
                print(out.stderr[-2000:], file=sys.stderr)
                return 1
            *_, record, result = out.stdout.strip().splitlines()
            results.append({**json.loads(result), "record": json.loads(record)})
            print(workload, seed, f"run_wall={time.monotonic() - t0:.1f}s",
                  {k: round(v["value"], 4) for k, v in results[-1]["metrics"].items()},
                  flush=True)
        summary = {}
        for name, bound in bounds.items():
            values = [r["metrics"][name]["value"] for r in results]
            spread = iqr_share(values) if len(values) > 1 else 0.0
            summary[name] = {"median": median(values), "spread": spread, "bound": bound}
            flag = "" if name == "setup_s" or spread < bound / 3 else "  <-- above bound/3"
            ok &= bool(flag == "")
            print(f"{workload:16s} {name:14s} median={summary[name]['median']:10.4f} "
                  f"spread={spread:.4f} bound={bound}{flag}")
        print(workload, "all correct:", all(r["correct"] for r in results))
        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        with open(os.path.join(ROOT, ".perfbench", f"steadiness-{workload}.json"), "w") as fh:
            json.dump({"summary": summary, "results": results}, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
