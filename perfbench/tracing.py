"""Spans and counters recorded from outside the package.

A ``Tracer`` keeps spans in memory: name, start, end, parent span and the
counters read at both boundaries (Spark jobs submitted, driver CPU).  Self
time is a span's duration minus the time its child spans cover.  Wrappers
are installed around the package's public functions for the traced passes
only and removed again for the untraced ones, so an untraced pass runs the
package's own functions.

``Probe`` reads the rest of the counters once per pass: Spark's status store
(stages and tasks of the pass's jobs), the JVM's management beans (JIT, GC,
heap), ``/proc`` for JVM and Python-worker CPU and memory, and a
``StreamingQueryListener`` for micro-batch progress.
"""

from __future__ import annotations

import contextlib
import os
import signal
import sys
import threading
import time

PACKAGE = "etl_for_ecol_fusion_database_spark"
MB = 1024 * 1024
_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self.pass_id = None

    def jobs_submitted(self) -> int:
        return int(self._dag.nextJobId())

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["jobs_start"] = self.jobs_submitted()
        rec["cpu_start"] = time.process_time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu_end"] = time.process_time()
            rec["jobs_end"] = self.jobs_submitted()
            self._stack.pop()

    def _patch(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, original))

    def install(self) -> None:
        """Wrap ``catalog.load_table`` (and every module-level alias of it)
        and ``ParquetSink.overwrite``."""
        from etl_for_ecol_fusion_database_spark import catalog
        from etl_for_ecol_fusion_database_spark.sources.writers import ParquetSink

        original = catalog.load_table
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(PACKAGE) and getattr(mod, "load_table", None) is original:
                self._patch(mod, "load_table", "catalog.read")
        self._patch(ParquetSink, "overwrite", "sources.write")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def self_times(self) -> None:
        """Add ``self_s`` (duration minus children's durations) to every span."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - child[s["id"]]

    def pass_spans(self, pass_id: int, name: str) -> list[dict]:
        return [s for s in self.spans if s["pass"] == pass_id and s["name"] == name]


def descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def kill_descendants(root: int) -> None:
    """SIGKILL every descendant of ``root`` (the JVM and the Python worker
    daemon, which runs in a process group of its own) and wait until each
    has ended."""
    pids = descendants(root)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in pids:
        while _alive(pid):  # a killed process that is a zombie has ended
            time.sleep(0.02)


def proc_cpu_s(pid: int, with_children: bool = False) -> float:
    """utime+stime of ``pid`` (plus reaped children's), in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if with_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK


def proc_rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree_peak_rss_bytes(root: int) -> int:
    """Sum of each live process's own peak resident set (VmHWM) over
    ``root`` and its descendants."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def progress_listener():
    """A ``StreamingQueryListener`` that keeps (input rows, trigger seconds,
    state rows) of every ``onQueryProgress`` event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.events = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.events.append((
                    int(p.numInputRows),
                    float(p.durationMs.get("triggerExecution", 0)) / 1000.0,
                    sum(int(s.numRowsTotal) for s in p.stateOperators),
                ))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


class Probe:
    """Per-pass counters from the status store, the JVM and ``/proc``."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._jvm = sc._jvm
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        mf = sc._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]
        self.jvm_pid = int(mf.getRuntimeMXBean().getPid())
        self.listener = progress_listener()
        spark.streams.addListener(self.listener)
        self._rss_peak = 0
        self._stop = threading.Event()
        self._poller = None

    # -- JVM and processes -------------------------------------------------
    def jit_s(self) -> float:
        return self._comp.getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self._gcs) / 1000.0

    def heap_live_mb(self) -> float:
        """Heap that survived a collection: old-generation use plus the
        survivor spaces as the last young collection left them."""
        live = 0
        for p in self._pools:
            name = p.getName()
            if "Old" in name or "Tenured" in name:
                live += p.getUsage().getUsed()
            elif "Survivor" in name and p.getCollectionUsage() is not None:
                live += p.getCollectionUsage().getUsed()
        return live / MB

    def pyworkers(self) -> list[int]:
        return [p for p in descendants(self.jvm_pid) if p != self.jvm_pid]

    def pyworker_cpu_s(self) -> float:
        return sum(proc_cpu_s(p, with_children=True) for p in self.pyworkers())

    def _poll(self) -> None:
        while not self._stop.wait(0.05):
            rss = sum(proc_rss_bytes(p) for p in self.pyworkers())
            self._rss_peak = max(self._rss_peak, rss)

    def start_pass(self) -> dict:
        self._rss_peak = 0
        self._stop.clear()
        self._poller = threading.Thread(target=self._poll, daemon=True)
        self._poller.start()
        with self.listener.lock:
            n_events = len(self.listener.events)
        return {
            "jvm_cpu": proc_cpu_s(self.jvm_pid),
            "jit": self.jit_s(),
            "gc": self.gc_s(),
            "pyw_cpu": self.pyworker_cpu_s(),
            "py_cpu": time.process_time(),
            "events": n_events,
        }

    def end_pass(self, start: dict) -> dict:
        self._stop.set()
        self._poller.join(timeout=5)
        self._sc.listenerBus().waitUntilEmpty()
        with self.listener.lock:
            events = self.listener.events[start["events"]:]
        return {
            "jvm.cpu_s": proc_cpu_s(self.jvm_pid) - start["jvm_cpu"],
            "jvm.jit_s": self.jit_s() - start["jit"],
            "jvm.gc_s": self.gc_s() - start["gc"],
            "jvm.heap_live_mb": self.heap_live_mb(),
            "driver.py_cpu_s": time.process_time() - start["py_cpu"],
            "operators.pyworker_cpu_s": self.pyworker_cpu_s() - start["pyw_cpu"],
            "operators.pyworker_rss_mb": self._rss_peak / MB,
            "streaming.batches": len(events),
            "streaming.input_rows": sum(e[0] for e in events),
            "streaming.batch_s": sum(e[1] for e in events),
            "streaming.state_rows": sum(e[2] for e in events),
        }

    # -- Spark status store ------------------------------------------------
    def executor(self, job_lo: int, job_hi: int, wall_s: float) -> dict:
        """Stage and task totals of jobs ``job_lo`` .. ``job_hi - 1``."""
        self._sc.listenerBus().waitUntilEmpty()
        stage_ids = set()
        for j in range(job_lo, job_hi):
            seq = self._store.job(j).stageIds()
            stage_ids.update(int(seq.apply(k)) for k in range(seq.size()))
        tot = dict.fromkeys(
            ("tasks", "run_ms", "cpu_ns", "gc_ms", "sr", "sw", "spill", "failed"), 0
        )
        peak_mem = 0
        skew_max = skew_med = 0.0
        stages = 0
        for sid in sorted(stage_ids):
            try:
                s = self._store.lastStageAttempt(sid)
            except Exception:  # a skipped stage has no attempt
                continue
            if s.numTasks() == 0 or s.status().toString() == "SKIPPED":
                continue
            stages += 1
            tot["tasks"] += s.numTasks()
            tot["run_ms"] += s.executorRunTime()
            tot["cpu_ns"] += s.executorCpuTime()
            tot["gc_ms"] += s.jvmGcTime()
            tot["sr"] += s.shuffleReadBytes()
            tot["sw"] += s.shuffleWriteBytes()
            tot["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["failed"] += s.numFailedTasks()
            peak_mem = max(peak_mem, s.peakExecutionMemory())
            summary = self._store.taskSummary(sid, s.attemptId(), self._quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                skew_med += run.apply(0)
                skew_max += run.apply(1)
        run_s = tot["run_ms"] / 1000.0
        return {
            "executor.jobs": job_hi - job_lo,
            "executor.stages": stages,
            "executor.tasks": tot["tasks"],
            "executor.task_run_s": run_s,
            "executor.task_cpu_s": tot["cpu_ns"] / 1e9,
            "executor.core_busy": run_s / (wall_s * self.cores) if wall_s > 0 else 0.0,
            "executor.task_skew": skew_max / skew_med if skew_med > 0 else 1.0,
            "executor.gc_s": tot["gc_ms"] / 1000.0,
            "executor.shuffle_read_bytes": tot["sr"],
            "executor.shuffle_write_bytes": tot["sw"],
            "executor.spill_bytes": tot["spill"],
            "executor.peak_exec_mem_mb": peak_mem / MB,
            "executor.failed_tasks": tot["failed"],
        }
