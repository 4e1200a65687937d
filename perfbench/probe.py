"""Measurement from outside the program: /proc, Spark's status store, spans.

Nothing here reaches into ``aggo_spark``. Process CPU and memory come from
``/proc`` for this process and every descendant (the JVM that PySpark
starts and the Python workers under it); host contention comes from
``/proc/stat``; Spark work comes from the driver's status store, read by
job-id range at the boundaries of each call.
"""

from __future__ import annotations

import json
import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _cpu_s(fields: list[str]) -> float:
    # utime, stime, cutime, cstime: reaped children (Python workers the
    # pyspark daemon forked and waited for) are charged to their parent
    return sum(int(x) for x in fields[11:15]) / CLK_TCK


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class CpuSample:
    """Process-tree CPU seconds at one instant, split by role."""

    __slots__ = ("total", "python", "workers")

    def __init__(self, total: float, python: float, workers: float):
        self.total, self.python, self.workers = total, python, workers

    def __sub__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(self.total - other.total, self.python - other.python,
                         self.workers - other.workers)


class ProcTree:
    """CPU and peak RSS of this process and its descendants.

    ``sample()`` is cheap enough (a /proc walk, a few ms) to take at every
    operation boundary. Python workers are told apart once by command line
    and remembered, since the daemon's pid outlives its workers.
    """

    def __init__(self) -> None:
        self.me = os.getpid()
        self._workers: set[int] = set()
        self._known: set[int] = set()

    def _pids(self) -> list[int]:
        pids = process_tree(self.me)
        for pid in pids:
            if pid not in self._known:
                self._known.add(pid)
                if pid != self.me and _is_python_worker(pid):
                    self._workers.add(pid)
        return pids

    def sample(self) -> CpuSample:
        total = python = workers = 0.0
        for pid in self._pids():
            fields = _stat_fields(pid)
            if fields is None:
                continue
            cpu = _cpu_s(fields)
            total += cpu
            if pid == self.me:
                # this process's own CPU, without its reaped children
                python = sum(int(x) for x in fields[11:13]) / CLK_TCK
            elif pid in self._workers:
                workers += cpu
        return CpuSample(total, python, workers)

    def peak_rss_mb(self) -> float:
        kb = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return kb / 1024.0


def host_cpu() -> dict[str, float]:
    """Host-wide CPU seconds from /proc/stat (summed over all CPUs).

    ``busy`` is what the guest sees as busy (user+nice+system+irq+softirq);
    ``steal`` is time the hypervisor gave to someone else while this guest
    wanted to run, which no guest-side idle check can see.
    """
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = vals[:8]
    return {"busy": (user + nice + system + irq + softirq) / CLK_TCK,
            "steal": steal / CLK_TCK}


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's own record."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / CLK_TCK


# ---------------------------------------------------------------------------
# Spark status store, by job-id range
# ---------------------------------------------------------------------------

SPARK_COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks",
                  "spark.task_cpu_s", "spark.task_gc_s",
                  "spark.shuffle_write_mb", "spark.shuffle_read_mb",
                  "spark.spill_mb", "spark.input_mb")


class SparkJobs:
    """Counts Spark work by job-id range.

    ``mark()`` returns the id the next job will get; the jobs of a call are
    the ids between the marks taken at its two ends. The status store keeps
    only the last ``spark.ui.retainedJobs`` jobs (1000), so ranges are read
    at every call boundary, never at the end of a run. Job groups are not
    used, so labels the library may set on its own jobs change nothing.
    """

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def mark(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until listener events of finished jobs reach the store."""
        self._sc.listenerBus().waitUntilEmpty()

    def counters(self, first: int, end: int) -> dict[str, float]:
        """Totals over jobs ``first <= id < end`` (call ``drain`` first)."""
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        seen: set[int] = set()
        for jid in range(first, end):
            try:
                job = self._store.job(jid)
            except Exception:  # py4j: evicted or never stored
                continue
            out["spark.jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = int(stage_ids.apply(k))
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # py4j: evicted or never stored
                    continue
                if st.status().toString() != "COMPLETE":
                    continue  # skipped stages reuse earlier shuffle output
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numCompleteTasks()
                out["spark.task_cpu_s"] += st.executorCpuTime() / 1e9
                out["spark.task_gc_s"] += st.jvmGcTime() / 1e3
                out["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spark.shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                out["spark.spill_mb"] += st.diskBytesSpilled() / 2**20
                out["spark.input_mb"] += st.inputBytes() / 2**20
        return out


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """One span per public call, kept in memory and written at the end.

    A span records name, start, end, parent, operation id and the counters
    taken at its boundaries. Self time is the span's duration minus the
    part of it its child spans cover. With ``enabled=False`` every method
    is a no-op apart from the wall clock, so an untraced run pays nothing
    for the tracer.
    """

    def __init__(self, enabled: bool, spark_jobs: SparkJobs | None = None,
                 proc: ProcTree | None = None) -> None:
        self.enabled = enabled
        self.jobs = spark_jobs
        self.proc = proc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, op: int | None = None, **attrs):
        return _Span(self, name, op, attrs)

    def write(self, path: str) -> None:
        by_parent: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                by_parent.setdefault(s["parent"], []).append(s)
        for i, s in enumerate(self.spans):
            kids = sorted(by_parent.get(i, []), key=lambda c: c["start"])
            covered, reach = 0.0, s["start"]
            for c in kids:
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            s["self_s"] = (s["end"] - s["start"]) - covered
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


class _Span:
    def __init__(self, tracer: Tracer, name: str, op, attrs) -> None:
        self.t, self.name, self.op, self.attrs = tracer, name, op, attrs
        self.counters: dict[str, float] = {}

    def __enter__(self) -> "_Span":
        t = self.t
        if t.enabled:
            self.parent = t._stack[-1] if t._stack else None
            self.idx = len(t.spans)
            t.spans.append(None)  # reserve the slot so children point here
            t._stack.append(self.idx)
            self.j0 = t.jobs.mark() if t.jobs else None
            self.c0 = t.proc.sample() if t.proc else None
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        self.wall = self.end - self.start
        t = self.t
        if not t.enabled:
            return
        t._stack.pop()
        if t.jobs is not None:
            j1 = t.jobs.mark()
            t.jobs.drain()
            self.counters.update(t.jobs.counters(self.j0, j1))
            self.counters["jobs"] = j1 - self.j0
        if t.proc is not None:
            d = t.proc.sample() - self.c0
            self.counters.update({"cpu_s": d.total, "python.cpu_s": d.python,
                                  "python_workers.cpu_s": d.workers})
        t.spans[self.idx] = {
            "name": self.name, "op": self.op, "parent": self.parent,
            "start": self.start, "end": self.end, **self.attrs,
            "counters": self.counters}


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def tail_percentile(values: list[float], beyond: int = 10,
                    min_n: int = 40) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that still has at
    least ``beyond`` samples above it, or None for fewer than ``min_n``
    samples, where that percentile would be no tail.

    With n sorted samples, the value at rank r (1-based) has n - r samples
    above it, so the answer is rank n - beyond, i.e. percentile
    100 * (n - beyond) / n.
    """
    n = len(values)
    if n < min_n:
        return None
    rank = n - beyond
    return 100.0 * rank / n, sorted(values)[rank - 1]
