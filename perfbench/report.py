"""Summarize traced runs: per-layer self time, counters and tracing overhead.

    python3 perfbench/report.py <workload> <seed> [<seed> ...]

Reads .perfbench_results/<workload>-seed<n>-trace1.json (and the
-trace0.json of the same seeds), and prints markdown tables: span self time
per layer along the blocking path, the per-layer metric medians, the pooled
per-round latency of the untraced runs, and traced minus untraced for each
end-to-end metric (the tracing overhead).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from probes import self_times  # noqa: E402


def _load(workload: str, seed: int, trace: int) -> dict | None:
    p = os.path.join(ROOT, ".perfbench_results", f"{workload}-seed{seed}-trace{trace}.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _op_self_times(rec: dict, phase: str) -> list[dict[str, float]]:
    """Self time per span name for every operation of one phase."""
    by_trace: dict[int, list[dict]] = {}
    for s in rec["spans"]:
        by_trace.setdefault(s["trace"], []).append(s)
    ops = [s["trace"] for s in rec["spans"] if s["name"] == "op" and s.get("phase") == phase]
    return [self_times(by_trace[t]) for t in ops]


def main(argv: list[str]) -> int:
    workload, seeds = argv[0], [int(s) for s in argv[1:]]
    traced = [r for r in (_load(workload, s, 1) for s in seeds) if r]
    if not traced:
        print("no traced records", file=sys.stderr)
        return 1
    for phase in ("first", "work", "rerun"):
        per_op = [st for r in traced for st in _op_self_times(r, phase)]
        if not per_op:
            continue
        names = sorted({n for st in per_op for n in st})
        total = statistics.median(sum(st.values()) for st in per_op)
        print(f"\n### {workload} — {phase}: span self time per operation "
              f"(median of {len(per_op)} operations; op total {total:.3f} s)\n")
        print("| span | self s | share |\n| --- | ---: | ---: |")
        rows = [(n, statistics.median(st.get(n, 0.0) for st in per_op)) for n in names]
        for n, v in sorted(rows, key=lambda r: -r[1]):
            print(f"| {n} | {v:.3f} | {v / total:.1%} |")
    print(f"\n### {workload} — per-layer metrics (median over {len(traced)} traced runs)\n")
    print("| metric | value |\n| --- | ---: |")
    keys = traced[0]["result"]["metrics"].keys()
    for k in keys:
        vals = [r["result"]["metrics"][k]["value"] for r in traced]
        unit = traced[0]["result"]["metrics"][k]["unit"]
        print(f"| {k} | {statistics.median(vals):.4g} {unit} |")
    untraced = [r for r in (_load(workload, s, 0) for s in seeds) if r]
    # rounds are timed in plain seconds (only compile times are host-scaled)
    rounds = sorted(x for r in untraced for x in r["samples"].get("work_p50_s", [])) \
        if workload == "incremental_update" else []
    if rounds:
        # the highest percentile with at least ten samples above it
        k = len(rounds) - 10
        tail = f"p{100 * k / len(rounds):.0f} = {rounds[k - 1]:.3f} s" if k > 0 else "none (n < 11)"
        print(f"\n### {workload} — pooled round latency over {len(untraced)} untraced runs\n")
        print(f"n = {len(rounds)}, p50 = {statistics.median(rounds):.3f} s, tail: {tail}")
    pairs = [(r, _load(workload, r["seed"], 0)) for r in traced]
    pairs = [(t, u) for t, u in pairs if u]
    if pairs:
        print(f"\n### {workload} — tracing overhead (traced − untraced, same seeds, n={len(pairs)})\n")
        print("| metric | traced | untraced | overhead |\n| --- | ---: | ---: | ---: |")
        for k in pairs[0][1]["end_to_end"]:
            t = statistics.median(p[0]["end_to_end"][k] for p in pairs)
            u = statistics.median(p[1]["end_to_end"][k] for p in pairs)
            print(f"| {k} | {t:.4g} | {u:.4g} | {t - u:+.4g} ({(t - u) / u:+.1%}) |")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
