"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Prints, as its last line, one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
of BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
A run's full record (every sample, the checks, host probes and, when
traced, the spans) goes to `.perfbench_results/` in the repository root.
Exits non-zero, without a result line, when the engine cannot be imported.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The host yardsticks' (probes.yardsticks_s) readings on a quiet host.  Each
# operation a workload times with `Run.add_time` (project_compile's) is
# scaled by its yardstick's HOST_REF_S / that yardstick's readings around
# it, so that the host's speed, which drifts up to 2x between runs, cancels
# out; a change to the engine does not move the yardsticks.
HOST_REF_S = {"cpu": 0.075, "files": 0.17}


def _median(values: list[float]) -> float:
    return float(statistics.median(values))


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    import lakehouse_plumber_spark  # fails the run when the engine is absent

    if not os.path.abspath(lakehouse_plumber_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"engine imported from {lakehouse_plumber_spark.__file__}, not from {ROOT}")

    from workloads import WORKLOADS, Run

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    run = Run(args.seed, args.seconds, bool(args.trace), tmp, T0)
    try:
        WORKLOADS[args.workload](run)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        # let the file system finish the deletion now, not during the next run
        os.sync()

    failed_checks = [c for c in run.checks if not c[1]]
    raw = {k: _median(v) for k, v in run.e2e.values.items()}
    scaled = run.scaled_times(HOST_REF_S)
    e2e = {**raw, **{k: _median(v) for k, v in scaled.items()}}
    if args.trace:
        wanted = spec["per_layer"]
        got = {k: _median(v) for k, v in run.layer.values.items()}
        for kind in HOST_REF_S:
            got[f"host.yardstick_{kind}_s"] = _median([h[kind] for h in run.host_s])
    else:
        wanted, got = spec["end_to_end"], e2e
    missing = [m["name"] for m in wanted if m["name"] not in got and not args.trace]
    metrics = {
        # a layer the workload never enters did no work: 0, not absent
        m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted
    }
    correct = not failed_checks and not missing
    result = {
        "correct": correct,
        "attempted": run.ops + len(run.checks),
        "failed": len(failed_checks),
        "metrics": metrics,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "result": result, "end_to_end": e2e, "raw_end_to_end": raw,
        "host_s": run.host_s, "samples": run.e2e.values, "scaled_samples": scaled, "layer_samples": run.layer.values,
        "checks": run.checks, "missing_metrics": missing, **run.details,
    }
    if args.trace:
        record["spans"] = run.tracer.spans
    out = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for name, _, detail in failed_checks:
        print(f"check failed: {name}: {detail}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
