"""One fresh Spark session of a benchmark run (started by ``run.py``).

Sets up (imports the package, starts the session through
``session.get_spark``, registers the inputs), then, unless ``--setup-only``:
runs the cold pass, runs steady passes for ``--seconds``, checks the last
outputs against the DuckDB oracles and writes everything it measured to
``--result`` as JSON.  With ``--trace 1`` it alternates untraced and traced
passes and also writes the spans to ``--trace-file``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

#: driver heap; -Xms is pinned to it and the heap pre-touched, so GC sizing
#: does not decide peak RSS.  The JIT stops at its first tier: with the full
#: tiered JIT, compilation kept pass times falling for longer than a run.
HEAP = "2g"


def _since_process_start() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _canon_check(root: str):
    sys.path.insert(0, root)
    from tests.parity import driver_canon_hash

    def check(sdf, duck, oracle: str) -> str | None:
        """None when the Spark result hash-equals the oracle's."""
        spdf = sdf.toPandas()
        opdf = duck.execute(oracle).df()
        scols = sorted(c.lower() for c in spdf.columns)
        ocols = sorted(c.lower() for c in opdf.columns)
        if scols != ocols:
            return f"columns {scols} != oracle {ocols}"
        if len(spdf) != len(opdf):
            return f"{len(spdf)} rows, oracle {len(opdf)}"
        if len(spdf) == 0:
            return "empty result"
        if driver_canon_hash(spdf) != driver_canon_hash(opdf):
            return "value hash differs from the oracle"
        return None

    return check


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--trace-file")
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args()

    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    sys.path.insert(0, here)
    from workloads import GATES, LANDED, PASSES, WORKLOADS, Ctx

    t = time.perf_counter()
    # the registry is complete once its extension modules are imported
    from etl_for_ecol_fusion_database_spark import catalog, registry_ext, registry_tpch  # noqa: F401
    from etl_for_ecol_fusion_database_spark.session import get_spark

    import_s = time.perf_counter() - t
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tmp = os.environ["TMPDIR"]
    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(args.out, "warehouse"),
        },
    )
    start_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    wl = WORKLOADS[args.workload]
    for name in wl.tables:
        catalog.load_table(spark, args.inputs, name)
    res = {"setup_s": _since_process_start(), "import_s": import_s, "start_s": start_s}
    if args.setup_only:
        return _finish(args.result, res)

    import tracing as tr

    tracer = tr.Tracer(spark) if args.trace else None
    probe = tr.Probe(spark, cores) if args.trace else None
    ctx = Ctx(spark, args.inputs, args.out, tracer)
    run_pass = PASSES[args.workload]
    attempted = failed = 0
    errors: list[str] = []

    def one_pass(i: int, traced: bool) -> float | None:
        nonlocal attempted, failed
        attempted += 1
        if traced:
            tracer.pass_id = i
            tracer.install()
            ctx.traced(True)
            ctx.plan_stats = []
            before = probe.start_pass()
            job_lo = tracer.jobs_submitted()
        t0 = time.perf_counter()
        try:
            run_pass(ctx)
            wall = time.perf_counter() - t0
        except Exception as e:  # a failed pass is counted, and the run goes on
            failed += 1
            errors.append(f"pass {i}: {e!r}"[:500])
            wall = None
        finally:
            if traced:
                tracer.uninstall()
                ctx.traced(False)
                rec = probe.end_pass(before)
        if traced and wall is not None:
            rec.update(probe.executor(job_lo, tracer.jobs_submitted(), wall))
            rec["catalyst.exchanges"] = sum(e for e, _ in ctx.plan_stats)
            rec["catalyst.scans"] = sum(s for _, s in ctx.plan_stats)
            rec.update(LANDED[args.workload](ctx))
            traced_passes.append((i, wall, rec))
        return wall

    traced_passes: list[tuple[int, float, dict]] = []
    cold = one_pass(0, False)
    steady: list[float] = []
    t_end = time.perf_counter() + args.seconds
    i = 1
    # at least three untraced steady passes, and two traced ones in a traced
    # run; passes alternate so JIT and heap state drift alike on both kinds
    while not (
        time.perf_counter() >= t_end
        and len(steady) >= 3
        and (not args.trace or len(traced_passes) >= 2)
    ):
        if time.perf_counter() > t_end + 60:
            break  # passes keep failing; the gate below still runs
        traced = bool(args.trace) and i % 2 == 0
        wall = one_pass(i, traced)
        if wall is not None and not traced:
            steady.append(wall)
        i += 1

    import duckdb

    from gen import table_glob

    duck = duckdb.connect()
    for name in wl.tables:
        path = table_glob(args.inputs, name)
        duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    try:
        checks = GATES[args.workload](ctx, duck, _canon_check(root))
    except Exception as e:  # the gate itself could not run: one failed check
        checks = [("gate", repr(e)[:500])]
    for check, problem in checks:
        attempted += 1
        if problem is not None:
            failed += 1
            errors.append(f"gate {check}: {problem}")

    res.update({
        "cold_pass_s": cold,
        "passes_s": steady,
        "pass_s": statistics.median(steady) if steady else None,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "gate": {c: p or "ok" for c, p in checks},
    })
    from tracing import tree_peak_rss_bytes

    res["peak_rss_mb"] = tree_peak_rss_bytes(os.getpid()) / (1024 * 1024)
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    res["jvm_jit_s"] = mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0
    res["jvm_gc_s"] = sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()) / 1000.0
    if args.trace:
        res["layers"] = _layers(tracer, traced_passes, res)
        with open(args.trace_file, "w") as fh:
            json.dump({
                "layers": res["layers"],
                "untraced_passes_s": steady,
                "traced_passes": [
                    {"pass": i, "wall_s": w, "counters": rec} for i, w, rec in traced_passes
                ],
                "spans": tracer.spans,
            }, fh, indent=1)
    return _finish(args.result, res)


def _finish(path: str, res: dict) -> int:
    """Write the result, kill the session's processes and exit at once,
    which is quicker than a graceful ``spark.stop()``."""
    from tracing import kill_descendants

    with open(path, "w") as fh:
        json.dump(res, fh)
    sys.stdout.flush()
    kill_descendants(os.getpid())
    os._exit(0)


def _layers(tracer, traced_passes, res) -> dict:
    """Per-layer metrics: the median over traced passes of each pass's value."""
    tracer.self_times()
    per_pass = []
    for i, wall, rec in traced_passes:
        m = dict(rec)

        def total(name):
            return sum(s["dur_s"] for s in tracer.pass_spans(i, name))

        def jobs(name):
            return sum(s["jobs_end"] - s["jobs_start"] for s in tracer.pass_spans(i, name))

        m["catalog.reads"] = len(tracer.pass_spans(i, "catalog.read"))
        m["catalog.read_s"] = total("catalog.read")
        m["catalog.read_jobs"] = jobs("catalog.read")
        m["registry.build_s"] = total("registry.build")
        m["registry.build_jobs"] = jobs("registry.build")
        m["catalyst.plan_s"] = total("catalyst.plan")
        m["executor.exec_s"] = total("executor.exec")
        m["plans.cohort_s"] = total("plans.cohort")
        m["plans.transform_s"] = total("plans.transform")
        m["sources.write_s"] = total("sources.write")
        m["pass_s"] = wall
        per_pass.append(m)
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    out["session.import_s"] = res["import_s"]
    out["session.start_s"] = res["start_s"]
    out["trace.overhead_s"] = out.pop("pass_s") - res["pass_s"]
    return out


if __name__ == "__main__":
    sys.exit(main())
