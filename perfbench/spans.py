"""Measurement from outside the engine.

* ``Tracer`` tags every operation's Spark jobs with a job group and,
  when tracing is on, reads the jobs and stages of those groups back
  from Spark's own status store (job call sites, executor run/CPU/GC
  time, input, output, shuffle and spill bytes, task counts).
* ``ProcWatch`` samples the memory of the benchmark's child processes
  (the driver JVM and its Python workers) and reads the Python
  workers' CPU time from /proc.
* ``host_ticks`` / ``steal_share`` measure how much CPU time the
  hypervisor took from this virtual machine during an interval.

Nothing here touches the package: spans are opened around calls into
its public functions.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes", "outputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


def host_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of the virtual machine so far; busy
    counts every state but idle and iowait, steal included."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6] + f[7], f[7]


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the busy CPU time between two ``host_ticks`` readings
    that the hypervisor gave to other guests.  On a shared host a run
    is slowed by that share whatever the engine does, so the
    end-to-end timings report wall time times (1 - share); on a
    dedicated host the share is 0."""
    busy, stolen = t1[0] - t0[0], t1[1] - t0[1]
    return stolen / busy if busy > 0 else 0.0


class Op:
    """One timed operation: wall time plus, when traced, its jobs."""

    def __init__(self, kind: str):
        self.kind = kind
        self.wall_s = 0.0
        self.phase_s: dict[str, float] = {}
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.worker_cpu_s = 0.0
        self.steal = 0.0  # share of the host's busy CPU time the hypervisor took
        self.extra: dict = {}

    @property
    def unstolen_s(self) -> float:
        """Wall time less the hypervisor's share of it (see steal_share)."""
        return self.wall_s * (1.0 - self.steal)

    def totals(self, jobs: list[dict] | None = None) -> dict[str, float]:
        """Spark work of ``jobs`` (default: all of this op's jobs),
        counting each executed stage once."""
        jobs = self.jobs if jobs is None else jobs
        seen = {s for j in jobs for s in j["stageIds"]}
        ran = [self.stages[s] for s in seen if self.stages[s]["status"] != "SKIPPED"]
        t = {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": sum(s["numTasks"] for s in ran),
            "executor_run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
            "jvm_gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
            "input_bytes": sum(s["inputBytes"] for s in ran),
            "output_bytes": sum(s["outputBytes"] for s in ran),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in ran),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran),
            "job_wall_s": sum(j["wall_s"] for j in jobs),
        }
        return t


class Tracer:
    """Job-group spans around package calls.  While ``active`` is
    false the spans only time the call and Spark is left untouched;
    ``enabled`` says whether the run may activate tracing at all."""

    def __init__(self, spark, procs: "ProcWatch", enabled: bool):
        self.sc = spark.sparkContext
        self.procs = procs
        self.enabled = enabled
        self.active = False
        self._n = 0
        self._groups: list[tuple[str, str]] = []  # (group id, phase) of the open op
        if enabled:
            jvm = self.sc._jvm
            self._store = self.sc._jsc.sc().statusStore()
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            self._mapper.registerModule(scala_module.__getattr__("MODULE$"))

    def _set_group(self, gid: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextmanager
    def op(self, kind: str):
        """Time one operation; when tracing, run it in its own job group
        and attach its jobs and stages once it has finished."""
        rec = Op(kind)
        traced = self.active
        if traced:
            self._n += 1
            gid = f"perfbench-{self._n}"
            self._groups = [(gid, "")]
            self._set_group(gid)
            cpu0 = self.procs.worker_cpu_s()
        host0 = host_ticks()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec.wall_s = time.perf_counter() - t0
            rec.steal = steal_share(host0, host_ticks())
            if traced:
                rec.worker_cpu_s = self.procs.worker_cpu_s() - cpu0
                self._set_group(None)
                self._collect(rec)

    @contextmanager
    def phase(self, rec: Op | None, name: str):
        """Time a part of ``rec``; when tracing, its jobs carry ``name``."""
        traced = self.active and rec is not None
        if traced:
            gid = f"{self._groups[0][0]}-{name}-{len(self._groups)}"
            self._groups.append((gid, name))
            self._set_group(gid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if rec is not None:
                rec.phase_s[name] = rec.phase_s.get(name, 0.0) + time.perf_counter() - t0
            if traced:
                self._set_group(self._groups[0][0])

    def _json(self, objs) -> list[dict]:
        lst = self.sc._jvm.java.util.ArrayList()
        for o in objs:
            lst.add(o)
        return json.loads(self._mapper.writeValueAsString(lst))

    def _collect(self, rec: Op) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for gid, phase in self._groups:
            ids = sorted(tracker.getJobIdsForGroup(gid))
            for j in self._json(self._store.job(i) for i in ids):
                j["phase"] = phase
                j["wall_s"] = ((j.get("completionTime") or 0) - (j.get("submissionTime") or 0)) / 1e3
                rec.jobs.append(j)
        stage_ids = sorted({s for j in rec.jobs for s in j["stageIds"]})
        for s in self._json(self._store.lastStageAttempt(i) for i in stage_ids):
            rec.stages[s["stageId"]] = {
                "status": s["status"], "numTasks": s["numTasks"], "name": s["name"],
                **{f: s[f] for f in STAGE_FIELDS},
            }
        self._groups = []


class ProcWatch:
    """Peak memory of this process's descendants (the driver JVM and
    its Python workers), sampled every ``period`` seconds, and CPU
    accounting from /proc."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_bytes = 0
        self._tick = os.sysconf("SC_CLK_TCK")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "ProcWatch":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _stats(self) -> dict[int, tuple[int, str, list[str]]]:
        out = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue  # exited while listing
            comm_end = raw.rindex(")")
            fields = raw[comm_end + 2 :].split()
            out[int(d)] = (int(fields[1]), raw[raw.index("(") + 1 : comm_end], fields)
        return out

    def _descendants(self, stats) -> list[int]:
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = [], [os.getpid()]
        while todo:
            for c in kids.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    def children(self) -> list[int]:
        return self._descendants(self._stats())

    def pss_bytes(self) -> int:
        """Proportional set size of the descendants: pages shared by
        forked Python workers are split between them, not counted once
        per worker."""
        total = 0
        for pid in self.children():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue  # exited meanwhile
        return total

    def worker_cpu_s(self) -> float:
        """User+system CPU of the Python worker processes, including
        workers that already exited (their time moves to the parent)."""
        stats = self._stats()
        ticks = 0
        for pid in self._descendants(stats):
            _, comm, f = stats[pid]
            if comm.startswith("python"):
                ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        return ticks / self._tick

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.pss_bytes())
            self._stop.wait(self.period)
