"""Run one workload under several seeds and report each metric's spread.

    python3 perfbench/spread.py <workload> <seed> [<seed> ...] [--trace 1]

Prints, per metric, the median and the quartile spread (Q3 - Q1) as a share
of the median, with the quartiles taken as statistics.quantiles(n=4) gives
them; compare the spread with the metric's bound in BENCHMARK.json.  Each
run's result line is appended to .perfbench_results/spread-<workload>.jsonl.
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


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload")
    ap.add_argument("seeds", type=int, nargs="+")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    os.makedirs(os.path.join(ROOT, ".perfbench_results"), exist_ok=True)
    log = os.path.join(ROOT, ".perfbench_results", f"spread-{args.workload}.jsonl")
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "rc": p.returncode, "wall_s": wall, "result": result}) + "\n")
        print(f"seed {seed}: rc={p.returncode} wall={wall:.1f}s "
              + (" ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()) if result else ""),
              flush=True)
        if result is None or not result["correct"]:
            return 1
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if len(args.seeds) < 2:
        return 0
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        share = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(k)
        flag = "" if bound is None else f" bound={bound} {'ok' if share <= bound / 3 else 'WIDE'}"
        print(f"{k:28s} median={med:.4g} spread={share:.3f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
