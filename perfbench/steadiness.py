"""Steadiness record: repeated untraced runs, one seed each, per workload.

    python3 perfbench/steadiness.py --runs 10 --out perfbench/STEADINESS.json

For every end-to-end metric of ``BENCHMARK.json`` it reports the median and
the spread, the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, beside the
metric's bound.  Each run keeps the session's JIT and GC totals and the load
average before and after it, so a later "regression" can be matched to a JIT
or host mode.
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


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--out", required=True)
    ap.add_argument("--traced", action="store_true",
                    help="also keep the per-layer metrics of one traced run per workload")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"run_seconds": bench["run_seconds"], "cores": len(os.sched_getaffinity(0)),
              "workloads": {}}
    ok = True
    for name in names:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.time()
            proc = subprocess.run(
                [*bench["command"], "--workload", name, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            result = json.loads(proc.stdout.strip().splitlines()[-1]) if proc.stdout.strip() else {}
            rec_path = os.path.join(ROOT, ".bench_build", "perfbench", "runs",
                                    f"{name}-seed{seed}-trace0.json")
            with open(rec_path) as fh:
                rec = json.load(fh)
            runs.append({
                "seed": seed,
                "exit_code": proc.returncode,
                "run_wall_s": round(time.time() - t0, 1),
                "correct": result.get("correct"),
                "attempted": result.get("attempted"),
                "failed": result.get("failed"),
                "metrics": {k: v["value"] for k, v in result.get("metrics", {}).items()},
                "setup_samples_s": rec["setup_samples_s"],
                "passes_s": rec["passes_s"],
                "jvm_jit_s": rec["jvm_jit_s"],
                "jvm_gc_s": rec["jvm_gc_s"],
                "loadavg_start": rec["loadavg_start"],
                "loadavg_end": rec["loadavg_end"],
                "steal_s": rec["steal_s"],
                "quiet_wait_s": rec["quiet_wait_s"],
            })
            print(json.dumps(runs[-1]), flush=True)
        summary = {}
        for metric, bound in bounds.items():
            med, sp = spread([r["metrics"][metric] for r in runs])
            summary[metric] = {"median": med, "spread": sp, "bound": bound,
                               "within_third_of_bound": sp < bound / 3}
            ok &= metric == "setup_s" or sp <= bound
        ok &= all(r["exit_code"] == 0 and r["correct"] for r in runs)
        record["workloads"][name] = {"runs": runs, "summary": summary,
                                     "layout": rec["layout"]}
        if args.traced:
            proc = subprocess.run(
                [*bench["command"], "--workload", name, "--seed", str(args.first_seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "1"],
                cwd=ROOT, capture_output=True, text=True,
            )
            traced = json.loads(proc.stdout.strip().splitlines()[-1])
            record["workloads"][name]["traced"] = {
                "seed": args.first_seed, "exit_code": proc.returncode, **traced
            }
            ok &= proc.returncode == 0 and traced["correct"]
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    for name, w in record["workloads"].items():
        for metric, s in w["summary"].items():
            print(f"{name:12s} {metric:12s} median {s['median']:10.4f}  "
                  f"spread {s['spread']:.4f}  bound {s['bound']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
