"""Repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload fusion_etl --seed 1 --seconds 8 --trace 0

Generates the workload's inputs from ``--seed`` (excluded from every
metric), then starts two fresh Spark sessions one after another, each in
its own ``worker.py`` process.  The first one runs the cold pass, the steady
passes for ``--seconds`` and the oracle gate, and reports the peak resident
memory of its process tree (Python driver, JVM, Python workers); the
second one only sets up, so ``setup_s`` is the median of two set-ups.  A
third set-up would not fit the time budget of the whole benchmark: the 48
runs of two workloads must end within 3,420 s, and on a slow host a run
with three set-ups took up to 77 s.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The exit code is
not 0 when a pass failed or an output did not match its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "etl_for_ecol_fusion_database_spark")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SETUP_SAMPLES = 2
WORKER_TIMEOUT_S = 150
SETUP_TIMEOUT_S = 60
#: a session starts only once other guests of the host take less than this
#: share of this machine's CPU time (hypervisor steal), waiting at most
#: QUIET_WAIT_S: runs measured while steal was 10% of CPU time read up to
#: 1.9 times slower than the others
QUIET_STEAL = 0.02
QUIET_WAIT_S = 30


def _pgroup_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def _stop_group(pgid: int) -> None:
    """Kill what is left of a worker's process group (its JVM and Python
    workers) and wait until it is gone.  Nothing there needs a clean
    shutdown: the run directory is deleted afterwards."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    while _pgroup_alive(pgid):
        time.sleep(0.05)


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def wait_for_quiet_host(cores: int) -> float:
    """Seconds waited until the steal share over half a second fell below
    ``QUIET_STEAL`` (or ``QUIET_WAIT_S`` ran out)."""
    t0 = time.monotonic()
    while True:
        before = _steal_s()
        time.sleep(0.5)
        if (_steal_s() - before) / (0.5 * cores) < QUIET_STEAL:
            break
        if time.monotonic() - t0 > QUIET_WAIT_S:
            break
    return time.monotonic() - t0


def run_worker(argv: list[str], env: dict, log: str, timeout: float) -> int:
    """Run one worker process and everything it starts; return its exit code."""
    with open(log, "ab") as fh:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *argv],
            env=env, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True,
        )
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    finally:
        _stop_group(proc.pid)
    return proc.returncode


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies the workload's scale factor (the smoke test uses a small one)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if not os.path.isdir(PACKAGE):
        print(f"error: {PACKAGE} not found; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import gen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(inputs)
    os.makedirs(tmp)
    layout = gen.generate(inputs, list(wl.tables), wl.sf * args.scale, args.seed, wl.single_file)

    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(cores),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    log = os.path.join(run_dir, "worker.log")
    common = ["--workload", args.workload, "--inputs", inputs, "--out", run_dir]
    waited = wait_for_quiet_host(cores)
    load_start = os.getloadavg()
    steal_start = _steal_s()
    main_result = os.path.join(run_dir, "result-0.json")
    trace_file = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
    code = run_worker(
        [*common, "--result", main_result, "--seconds", str(args.seconds),
         "--trace", str(args.trace), "--trace-file", trace_file],
        env, log, WORKER_TIMEOUT_S,
    )
    if code != 0 or not os.path.exists(main_result):
        print(f"error: worker exited with {code}; see {log}", file=sys.stderr)
        return 1
    with open(main_result) as fh:
        res = json.load(fh)
    setups = [res["setup_s"]]
    for k in range(1, SETUP_SAMPLES):
        path = os.path.join(run_dir, f"result-{k}.json")
        waited += wait_for_quiet_host(cores)
        code = run_worker([*common, "--result", path, "--setup-only"],
                          env, log, SETUP_TIMEOUT_S)
        if code != 0 or not os.path.exists(path):
            print(f"error: set-up sample {k} exited with {code}; see {log}", file=sys.stderr)
            return 1
        with open(path) as fh:
            setups.append(json.load(fh)["setup_s"])

    e2e = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": res["cold_pass_s"],
        "pass_s": res["pass_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    values, declared = (res["layers"], "per_layer") if args.trace else (e2e, "end_to_end")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in bench[declared]}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "layout": layout, "setup_samples_s": setups,
        "import_s": res["import_s"], "start_s": res["start_s"], "end_to_end": e2e,
        "passes_s": res["passes_s"], "jvm_jit_s": res["jvm_jit_s"],
        "jvm_gc_s": res["jvm_gc_s"], "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(), "steal_s": _steal_s() - steal_start,
        "quiet_wait_s": waited,
        "gate": res["gate"], "errors": res["errors"],
        "fail_ratio": res["failed"] / res["attempted"],
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", os.path.basename(run_dir) + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    for err in res["errors"]:
        print(f"failure: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
