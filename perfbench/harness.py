"""Shared pieces of the benchmark: Spark session, spans, process-tree CPU,
JVM heap and GC, host noise, percentiles and the result line.

Nothing here starts a thread or process at import time; ``Session`` owns
the Spark JVM and ``close()`` stops it and waits for every process of its
tree to end.
"""

from __future__ import annotations

import gc
import json
import math
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext
from typing import Any, Iterable, Optional

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, "perfbench", ".out")
CLK_TCK = os.sysconf("SC_CLK_TCK")
CORES = min(2, os.cpu_count() or 1)


# ---------------------------------------------------------------- timing


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms
    ticks), so set-up time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / CLK_TCK


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (the ``inclusive`` method of
    ``statistics.quantiles``); q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def slope(ys: list[float]) -> float:
    """Least-squares growth of ``ys`` per step (x = 0, 1, 2, ...)."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    num = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den


def warm_up(run_pass, min_passes: int = 2, max_passes: int = 3,
            tol: float = 0.05) -> list[float]:
    """Run untimed passes until the per-pass time stops falling (a pass
    no faster than ``1 - tol`` of the one before), at least
    ``min_passes`` and at most ``max_passes``.  A pass's time is its wall
    time, or, when ``run_pass`` returns a float, that many seconds (a pass
    whose wall time a schedule sets reports its busy time).  Returns the
    pass times."""
    times: list[float] = []
    while len(times) < max_passes:
        t0 = time.perf_counter()
        busy = run_pass()
        times.append(busy if isinstance(busy, float)
                     else time.perf_counter() - t0)
        if len(times) >= min_passes and times[-1] >= times[-2] * (1 - tol):
            break
    return times


# ---------------------------------------------------------------- spans


class Tracer:
    """Spans recorded around the benchmark's calls into each layer:
    ``(name, start_ns, end_ns, parent_index, op_id)``, kept in memory and
    written out by :meth:`dump`.  Disabled, :meth:`span` is a shared
    null context, so untraced runs pay one attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._null = nullcontext()

    def span(self, name: str, op_id: Any = None):
        if not self.enabled:
            return self._null
        return self._span(name, op_id)

    @contextmanager
    def _span(self, name: str, op_id: Any):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter_ns(), None,
                               stack[-1] if stack else None, op_id])
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx][2] = time.perf_counter_ns()

    def self_ms(self) -> dict[str, list[float]]:
        """Self time per span name: duration minus the time its child
        spans cover (children of one span run one after another)."""
        child_ns = [0] * len(self.spans)
        for name, start, end, parent, _op in self.spans:
            if parent is not None and end is not None:
                child_ns[parent] += end - start
        out: dict[str, list[float]] = {}
        for i, (name, start, end, _parent, _op) in enumerate(self.spans):
            if end is not None:
                out.setdefault(name, []).append(
                    (end - start - child_ns[i]) / 1e6)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for name, start, end, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start_ns": start,
                                    "end_ns": end, "parent": parent,
                                    "op": op}) + "\n")


def median_or_zero(xs: Iterable[float]) -> float:
    """Median of ``xs``; 0 when the layer did no work on this workload."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- /proc


def _proc_stats() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, own ticks, reaped-children ticks) for live pids."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited between listdir and open
            continue
        out[int(entry)] = (int(fields[1]), int(fields[11]) + int(fields[12]),
                           int(fields[13]) + int(fields[14]))
    return out


def descendants(root: int, stats: Optional[dict] = None) -> list[int]:
    stats = stats if stats is not None else _proc_stats()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _own, _reaped) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def host_cpu() -> tuple[int, int]:
    """(steal ticks, total ticks) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


# ---------------------------------------------------------------- Spark


class Session:
    """Spark in local mode, with every scratch path inside ``work``."""

    def __init__(self, work: str):
        self.work = work
        os.makedirs(work, exist_ok=True)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # Python workers import the package from the checkout, and every
        # temporary file (pyspark's, the JVM's, RocksDB's) stays inside it
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tmp
        from pyspark.sql import SparkSession

        self.spark = (
            SparkSession.builder.master(f"local[{CORES}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(CORES))
            .config("spark.driver.memory", "1g")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            # small, fixed status-store retention: the live heap would
            # otherwise grow with the number of jobs a run happened to make
            .config("spark.ui.retainedJobs", "100")
            .config("spark.ui.retainedStages", "200")
            .config("spark.sql.ui.retainedExecutions", "20")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.local.dir", os.path.join(work, "local"))
            .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:CompileThresholdScaling=0.1")
            .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        jvm = self.spark._jvm
        self.jvm_pid = int(jvm.ProcessHandle.current().pid())
        self._mx = jvm.java.lang.management.ManagementFactory
        self._gateway = self.sc._gateway

    # -- JVM

    def live_heap_mb(self) -> float:
        """Heap in use after forced full GCs, once it has settled.

        Releases happen in rounds, each asynchronous: a JVM GC hands
        unreachable RDDs, shuffles and broadcasts to Spark's
        ContextCleaner, and collects the py4j proxies of finished
        ``foreachBatch`` callbacks, after which py4j drops the Python
        function (and the DataFrames its closure holds) on the Python side.
        So each cycle runs Python's GC and then a JVM GC, 0.4 s apart: at
        least 4 cycles, then until two readings agree within 1 MB, at most
        10.  The lowest reading is the live heap."""
        mem = self._mx.getMemoryMXBean()
        readings: list[float] = []
        while len(readings) < 10:
            gc.collect()
            mem.gc()
            readings.append(mem.getHeapMemoryUsage().getUsed() / 2 ** 20)
            if len(readings) >= 4 and abs(readings[-1] - readings[-2]) < 1.0:
                break
            time.sleep(0.4)
        return min(readings)

    def gc_ms(self) -> float:
        return float(sum(g.getCollectionTime()
                         for g in self._mx.getGarbageCollectorMXBeans()))

    def drain_listener_bus(self) -> None:
        """Let the status store catch up with finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, executed stages, executed tasks) of a job group, exact
        from the status tracker; skipped stages are not counted."""
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                sinfo = st.getStageInfo(sid)
                if sinfo is not None and sinfo.numCompletedTasks > 0:
                    stages += 1
                    tasks += sinfo.numCompletedTasks
        return jobs, stages, tasks

    # -- process tree

    def cpu_ticks(self, exclude: Iterable[int] = ()) -> dict[str, int]:
        """CPU ticks (user + system) of the driver, the JVM and the Python
        workers under the JVM.  Workers' reaped children are included via
        their parents' children-time; ``exclude`` removes whole subtrees
        (the load generator is not part of the system under test)."""
        stats = _proc_stats()
        skip = set()
        for pid in exclude:
            skip.add(pid)
            skip.update(descendants(pid, stats))
        me = os.getpid()
        jvm = stats.get(self.jvm_pid, (0, 0, 0))
        workers = jvm[2]
        for pid in descendants(self.jvm_pid, stats):
            if pid not in skip:
                workers += stats[pid][1] + stats[pid][2]
        return {"driver": stats[me][1], "jvm": jvm[1], "worker": workers}

    def close(self) -> None:
        """Stop Spark, shut the gateway JVM down and wait for its whole
        process tree (JVM, Python worker daemon) to end."""
        tree = [self.jvm_pid] + descendants(self.jvm_pid)
        proc = getattr(self._gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            try:
                self._gateway.shutdown()
            except Exception:  # the gateway may already be down
                pass
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
            deadline = time.monotonic() + 30
            for pid in tree:
                while _alive(pid) and time.monotonic() < deadline:
                    time.sleep(0.05)
                if _alive(pid):
                    os.kill(pid, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---------------------------------------------------------------- window


class Window:
    """CPU, GC and host-steal counters over a measured window."""

    def __init__(self, session: Session, exclude: Iterable[int] = ()):
        self.s = session
        self.exclude = list(exclude)

    def __enter__(self):
        self.cpu0 = self.s.cpu_ticks(self.exclude)
        self.gc0 = self.s.gc_ms()
        self.steal0, self.total0 = host_cpu()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.elapsed = time.perf_counter() - self.t0
        cpu1 = self.s.cpu_ticks(self.exclude)
        self.cpu_ms = {k: (cpu1[k] - self.cpu0[k]) * 1000 / CLK_TCK
                       for k in cpu1}
        self.gc_ms = self.s.gc_ms() - self.gc0
        steal1, total1 = host_cpu()
        self.steal_pct = (100.0 * (steal1 - self.steal0)
                          / max(1, total1 - self.total0))
        self.loadavg_1m = os.getloadavg()[0]
        return False


# ---------------------------------------------------------------- output


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(correct: bool, attempted: int, failed: int,
         metrics: dict[str, dict]) -> None:
    """The result line: the last line of standard output."""
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}),
          flush=True)


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
