"""Smoke test of the benchmark: tiny inputs, a short window, both modes.

    python3 perfbench/smoke.py

For every workload of ``BENCHMARK.json``, runs ``run.py`` untraced and
traced at a tenth of the workload's scale with ``--seconds 0`` (the cold
pass plus three steady passes; two more traced ones in the traced run) and
checks that it exits 0, that the oracle gate passed (``correct``, no failed
operation) and that every metric named in ``BENCHMARK.json`` printed, with
its unit.  Takes about four minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    for w in bench["workloads"]:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            cmd = [*bench["command"], "--workload", w["name"], "--seed", "7",
                   "--seconds", "0", "--trace", str(trace), "--scale", "0.1"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            where = f"{w['name']} trace={trace}"
            if proc.returncode != 0 or not proc.stdout.strip():
                problems.append(f"{where}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
                problems.append(f"{where}: gate or pass failed: {result}")
            for m in declared:
                got = result["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(
                    got.get("value"), (int, float)
                ):
                    problems.append(f"{where}: metric {m['name']} printed as {got}")
            extra = set(result["metrics"]) - {m["name"] for m in declared}
            if extra:
                problems.append(f"{where}: undeclared metrics {sorted(extra)}")
            print(f"{where}: ok, {len(result['metrics'])} metrics", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
