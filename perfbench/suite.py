#!/usr/bin/env python3
"""Run every workload ten times and summarize.

    python3 perfbench/suite.py

Each run is a fresh ``run.py`` process with tracing off, at seeds 1..10;
one more run per workload with tracing on, at seed 1, gives the
per-layer record and the tracing overhead (traced cold pass minus the
untraced median). Prints, per
workload, every end-to-end metric with its unit, sample count, median,
quartiles and quartile spread against its bound, plus ``failed_frac``
(failed queries and oracle mismatches over queries attempted). The full
summary goes to ``perfbench/.work/suite-<time>.json``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUNS = 10
sys.path.insert(0, BENCH)

import stats  # noqa: E402


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    result.update(seed=seed, trace=trace, rc=proc.returncode, wall_s=wall)
    if proc.returncode != 0:
        print(f"  seed {seed} trace {trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m for m in spec["end_to_end"]}

    summary = {"run_seconds": seconds, "runs": RUNS, "workloads": {}}
    ok = True
    for workload in spec["workloads"]:
        w = workload["name"]
        print(f"== {w}: {workload['why']}", flush=True)
        runs = [one_run(w, seed, seconds, 0) for seed in range(1, RUNS + 1)]
        entry = {"runs": runs, "metrics": {}}
        for name, m in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
            s = stats.summary(vals)
            entry["metrics"][name] = {"unit": m["unit"], "bound": m["bound"], **s}
            if s["n"]:
                print(f"  {name:<12} {m['unit']:<4} n={s['n']:<3} median={s['median']:.4f} "
                      f"q1={s['q1']:.4f} q3={s['q3']:.4f} spread={s['spread']:.3f} bound={m['bound']}")
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        entry["failed_frac"] = failed / attempted if attempted else 1.0
        entry["wall_s"] = stats.summary([r["wall_s"] for r in runs])
        print(f"  failed_frac  {entry['failed_frac']:.4f} ({failed}/{attempted} query runs and oracle checks)")
        print(f"  run wall     median {entry['wall_s'].get('median', 0):.1f} s")
        ok &= failed == 0 and all(r["rc"] == 0 for r in runs)
        traced = one_run(w, 1, seconds, 1)
        ok &= traced["rc"] == 0
        with open(os.path.join(BENCH, ".work", "results", f"{w}_s1_t1.json"), encoding="utf-8") as f:
            rec = json.load(f)
        overhead = rec["per_layer"]["trace.cold_s"] - entry["metrics"]["cold_s"]["median"]
        entry["trace"] = {"overhead_cold_s": overhead, "per_layer": rec["per_layer"], "per_query": rec["per_query"]}
        print(f"  tracing overhead on cold_s: {overhead:+.3f} s")
        summary["workloads"][w] = entry
    out = os.path.join(BENCH, ".work", f"suite-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(out, "w", encoding="utf-8") as f:
        json.dump(summary, f, indent=1)
    print(f"summary written to {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
