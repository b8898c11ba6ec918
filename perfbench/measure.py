"""Host and Spark measurement for the benchmark: process-tree CPU, RSS and
disk writes from ``/proc``, host steal, and a tracer that tags each public
call with a Spark job group and reads its jobs and stages back from the
status store."""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024.0 * 1024.0


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the Spark JVM is a child of the
    Python driver; PySpark workers are children of the JVM)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid = int(_stat_fields(int(name))[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the process tree, reaped children
    included, so a delta over an interval is the tree's CPU cost."""
    ticks = 0
    for pid in process_tree(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 of /proc/<pid>/stat
        ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


def tree_write_bytes(root: int) -> int:
    """Bytes the process tree caused to be written to storage."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's peak resident set (VmHWM) from its current
    RSS (``clear_refs`` code 5)."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def host_steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor since boot."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / CLK_TCK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def latency_summary(xs: list[float]) -> tuple[float, float, int]:
    """(median, tail, tail percentile) of op latencies. The tail is the
    highest whole percentile (nearest rank) with at least ten samples
    beyond it; with fewer than 40 samples, with a quarter of them beyond
    it, or the maximum (100) when that would not lie above the median."""
    n = len(xs)
    if not n:
        return 0.0, 0.0, 100
    s = sorted(xs)
    beyond = min(10, max(1, n // 4))
    pct = 100
    for p in range(99, 49, -1):
        rank = -(-n * p // 100)
        if n - rank >= beyond:
            pct = p if rank > -(-n // 2) else 100
            break
    return statistics.median(s), s[-(-n * pct // 100) - 1], pct


@dataclass
class Host:
    """Counters of the driver process tree over one interval."""

    jvm_pid: int
    root: int = field(default_factory=os.getpid)

    def sample(self) -> dict[str, float]:
        return {
            "t": time.perf_counter(),
            "cpu_s": tree_cpu_s(self.root),
            "write_b": tree_write_bytes(self.root),
            "steal_s": host_steal_s(),
        }

    @staticmethod
    def delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
        return {
            "wall_s": b["t"] - a["t"],
            "cpu_s": b["cpu_s"] - a["cpu_s"],
            "disk_write_mb": (b["write_b"] - a["write_b"]) / MB,
            "steal_s": b["steal_s"] - a["steal_s"],
        }

    def reset_peak_rss(self) -> None:
        reset_peak_rss([self.root, self.jvm_pid])

    def peak_rss_mb(self) -> float:
        return peak_rss_mb([self.root, self.jvm_pid])


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    op_id: int
    jobs: int = 0
    driver_gap_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_records: int = 0


class Tracer:
    """Spans around public calls. With ``enabled`` false ``call`` only
    runs the function, so untraced runs pay nothing for it. ``self_s``
    sums the tracer's own time around the calls (the job-group switches):
    the cost tracing adds to the timed phase.

    A traced call runs under its own job group ``perfbench-<op id>``
    (description ``<layer>.<call>``); during the call the tracer only
    notes the start and end. ``finish`` runs after the timed phase: it
    waits until the listener bus has delivered every event to the status
    store, then reads each span's job ids from the status tracker and
    its per-stage metrics from the JVM status store. Stages the store
    evicted or never ran raise ``NoSuchElementException`` and are
    skipped."""

    def __init__(self, spark, enabled: bool, parent: str | None = None):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.self_s = 0.0  # time the tracer itself spent around the calls
        self._parent: str | None = parent

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        t0 = time.perf_counter()
        op_id = len(self.spans) + 1
        self.sc.setJobGroup(f"perfbench-{op_id}", name)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(name, start, end, self._parent, op_id))
            self.self_s += (start - t0) + (time.perf_counter() - end)

    def finish(self) -> None:
        """Read every span's jobs and stages (after the timed phase)."""
        if not self.spans:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        for span in self.spans:
            self._read_jobs(span, f"perfbench-{span.op_id}")

    def _read_jobs(self, span: Span, group: str) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        span.jobs = len(job_ids)
        intervals = []
        for jid in job_ids:
            try:
                job = store.job(jid)
            except Py4JJavaError:
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                self._add_stage(span, store, sid)
        span.driver_gap_s = max(0.0, (span.end - span.start) - _covered(intervals))

    @staticmethod
    def _add_stage(span: Span, store, sid: int) -> None:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:
            return
        if str(st.status()) != "COMPLETE":
            return
        span.executor_cpu_s += st.executorCpuTime() / 1e9
        span.shuffle_write_mb += st.shuffleWriteBytes() / MB
        span.spill_mb += st.diskBytesSpilled() / MB
        span.input_records += st.inputRecords()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
