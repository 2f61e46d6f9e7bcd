"""Measurement probes: process-tree RSS and CPU, host noise, layer spans
and Spark status-store stage counters.

Everything here observes the program from outside; nothing patches it.
"""

from __future__ import annotations

import os
import threading
import time

from py4j.protocol import Py4JJavaError

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _HZ


class ProcTree:
    """The JVM and its descendants (the Python worker daemon and its
    forked workers): resident memory and CPU time summed over the tree,
    and a sampler thread that keeps the peak memory while it is armed."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_procs = 0
        self._armed = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                fields = _stat_fields(int(name))
                if fields is not None:
                    children.setdefault(int(fields[1]), []).append(int(name))
        out, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def rss_bytes(self) -> tuple[int, int]:
        """(resident bytes of the tree, number of processes in it).
        Proportional set size, so the pages that forked Python workers
        share with their daemon count once, not once per worker."""
        total = n = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
                n += 1
            except OSError:
                pass  # exited between listing and reading
        return total, n

    def cpu_s(self) -> float:
        """user+system time of the live tree plus that of its reaped
        children (a reaped worker's time moves into its parent's)."""
        ticks = 0
        for pid in self.pids():
            fields = _stat_fields(pid)
            if fields is not None:
                ticks += sum(int(x) for x in fields[11:15])
        return ticks / _HZ

    def arm(self) -> None:
        self._armed = True

    def disarm(self) -> None:
        self._armed = False

    def _sample(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self._armed:
                rss, n = self.rss_bytes()
                self.peak_bytes = max(self.peak_bytes, rss)
                self.peak_procs = max(self.peak_procs, n)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _cpu_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def calibrate() -> float:
    """Fixed single-thread work unit in seconds: stable to a few percent
    on a quiet host, inflated by CPU steal."""
    import numpy as np

    a = np.arange(1_500_000, dtype=np.float64)
    t0 = time.perf_counter()
    for _ in range(40):
        a = np.sqrt(a * 1.000001 + 1.0)
    return time.perf_counter() - t0


class HostNoise:
    """Fixed-work calibration at both ends of a run plus the /proc/stat
    steal share over it, so a run that caught a steal burst can be told
    apart from a slow program."""

    def __init__(self):
        self.cal_s = [calibrate()]
        self._stat0 = _cpu_stat()

    def finish(self) -> dict:
        self.cal_s.append(calibrate())
        delta = [b - a for a, b in zip(self._stat0, _cpu_stat())]
        return {
            "steal_pct": 100.0 * delta[7] / max(sum(delta), 1),
            "cal_s": self.cal_s,
        }


class StageCounters:
    """Per-stage counters of the jobs that ran since the last call, read
    from the SparkContext's status store (filled by the listener bus
    whether or not the UI runs)."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._seen = self._max_job_id()

    def _max_job_id(self) -> int:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def take(self, task_times: bool = False) -> dict:
        """Counters summed over the stages of every job started since the
        previous call; task_times adds each task's duration."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        stage_ids: set[int] = set()
        groups: set[str] = set()
        n_jobs, last = 0, self._seen
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._seen:
                break
            n_jobs += 1
            last = max(last, job.jobId())
            if job.jobGroup().isDefined():
                groups.add(job.jobGroup().get())
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        self._seen = last
        out = _zero_counters()
        out["jobs"], out["job_groups"] = n_jobs, sorted(groups)
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # listed by its job but never submitted
                continue
            if st.numCompleteTasks() == 0:
                continue  # skipped (its shuffle output was reused)
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["spill_mb"] += st.diskBytesSpilled() / 2**20
            out["memory_spill_mb"] += st.memoryBytesSpilled() / 2**20
            if task_times:
                tasks = self._store.taskList(sid, st.attemptId(), 100000)
                for k in range(tasks.size()):
                    dur = tasks.apply(k).duration()
                    if dur.isDefined():
                        out["task_s"].append(dur.get() / 1e3)
        return out


class Tracer:
    """Layer spans (name, start, end, parent, pass id).  Each span also
    gets the stage counters of the jobs that ran while it was the
    innermost open span, and the process-tree CPU time over it.  Spans
    stay in memory; `spans` is written out once, when the run ends."""

    def __init__(self, spark, tree: ProcTree):
        self.spark = spark
        self.tree = tree
        self.counters = StageCounters(spark)
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self.pass_id = 0

    def span(self, name: str, task_times: bool = False):
        return _Span(self, name, task_times)

    def _attribute(self, task_times: bool = False) -> None:
        taken = self.counters.take(task_times)
        if not self._open:
            return  # jobs outside any span are not part of a trace
        own = self._open[-1]["stages"]
        for k, v in taken.items():
            if k == "job_groups":
                own[k] = sorted(set(own[k]) | set(v))
            else:
                own[k] += v


def _zero_counters() -> dict:
    return {
        "jobs": 0, "job_groups": [], "stages": 0, "tasks": 0, "run_s": 0.0,
        "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
        "spill_mb": 0.0, "memory_spill_mb": 0.0, "task_s": [],
    }


class _Span:
    def __init__(self, tracer: Tracer, name: str, task_times: bool):
        self.t = tracer
        self.name = name
        self.task_times = task_times

    def __enter__(self) -> dict:
        t = self.t
        t._attribute()
        self.record = {
            "name": self.name,
            "pass": t.pass_id,
            "parent": t._open[-1]["name"] if t._open else None,
            "start": time.perf_counter(),
            "stages": _zero_counters(),
        }
        self._cpu0 = t.tree.cpu_s()
        t.spans.append(self.record)
        t._open.append(self.record)
        t.spark.sparkContext.setJobGroup(self.name, self.name)
        return self.record

    def __exit__(self, *exc) -> None:
        t = self.t
        self.record["end"] = time.perf_counter()
        self.record["s"] = self.record["end"] - self.record["start"]
        self.record["cpu_s"] = t.tree.cpu_s() - self._cpu0
        t._attribute(self.task_times)
        t._open.pop()
        sc = t.spark.sparkContext
        if t._open:
            sc.setJobGroup(t._open[-1]["name"], t._open[-1]["name"])
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
