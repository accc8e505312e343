#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload tpch_scale --seeds 1 2 3 4 5

Runs ``run.py`` once per seed (untraced, ``run_seconds`` from
BENCHMARK.json), then prints for every metric in the report its median
and its inter-quartile distance as a share of the median, next to the
metric's bound when BENCHMARK.json gates it, plus the wall time each run
took.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", nargs="+", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for workload in args.workload:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in args.seeds:
            cmd = bench["command"] + [
                "--workload", workload, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ]
            t = time.perf_counter()
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
            walls.append(time.perf_counter() - t)
            lines = out.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            if not result["correct"]:
                print(f"{workload} seed {seed}: INCORRECT {result}")
            # "# metric <workload> <name> = <value> <unit> (n=<count>)"
            for line in lines:
                if line.startswith("# metric "):
                    name, value = line.split()[3], float(line.split()[5])
                    values.setdefault(name, []).append(value)
                elif line.startswith("# perfbench "):
                    steal = json.loads(line[len("# perfbench "):])["measure_steal_pct"]
            print(f"{workload} seed {seed}: {walls[-1]:.1f} s steal {steal:.1f}% "
                  + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
        for name, vals in values.items():
            spread = stats.quartile_spread(vals) if len(vals) > 1 else 0.0
            bound = bounds.get(name, "reported only")
            print(f"{workload} {name}: median {statistics.median(vals):.4g} "
                  f"spread {spread:.3f} bound {bound}")
        print(f"{workload} wall per run: median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
