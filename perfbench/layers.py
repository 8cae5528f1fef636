"""Measurement from outside the program: spans around public calls,
per-process CPU from ``/proc``, and job/stage metrics from the Spark
status store. Nothing here changes what the package does.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------- spans

@dataclass
class Span:
    name: str
    op: str
    start: float  # epoch seconds (Spark's job times are epoch ms)
    end: float = 0.0
    parent: int | None = None
    sid: int = 0

    def as_dict(self) -> dict:
        return {"sid": self.sid, "name": self.name, "op": self.op,
                "start": self.start, "end": self.end, "parent": self.parent}


@dataclass
class Tracer:
    """Spans kept in memory, written out once at the end.
    ``overhead_s`` sums the time spent in the tracing code itself."""
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, op: str):
        return _SpanCtx(self, name, op)

    def children(self, parent: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == parent.sid]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: str):
        self.tracer, self.name, self.op = tracer, name, op

    def __enter__(self) -> Span:
        c = time.perf_counter()
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        self.s = Span(self.name, self.op, time.time(), parent=parent,
                      sid=len(t.spans))
        t.spans.append(self.s)
        t._stack.append(self.s.sid)
        t.overhead_s += time.perf_counter() - c
        return self.s

    def __exit__(self, *exc) -> None:
        c = time.perf_counter()
        self.s.end = time.time()
        self.tracer._stack.pop()
        self.tracer.overhead_s += time.perf_counter() - c


# ---------------------------------------------------------------- /proc

def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped-children cpu s) of one process."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            raw = fh.read()
    except OSError:  # exited between listing and reading
        return None
    f = raw[raw.rindex(")") + 2:].split()
    return (int(f[1]), (int(f[11]) + int(f[12])) / CLK_TCK,
            (int(f[13]) + int(f[14])) / CLK_TCK)


@dataclass
class ProcTree:
    """CPU of the benchmark's process tree: this (driver) Python
    process, the driver JVM it launched, and everything below the JVM
    (the pyspark daemon and its Python workers)."""
    root: int = field(default_factory=os.getpid)
    jvm: int | None = None

    def _tree(self) -> dict[int, tuple[int, float, float]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        keep, frontier = {}, [self.root]
        while frontier:
            pid = frontier.pop()
            if pid in stats and pid not in keep:
                keep[pid] = stats[pid]
                frontier.extend(p for p, s in stats.items() if s[0] == pid)
        return keep

    def sample(self) -> dict[str, float]:
        """Cumulative CPU seconds: ``tree`` (live processes plus the
        reaped children they waited for), ``driver_py`` and ``jvm``
        (own time only) and ``pyworkers`` (the rest of the tree)."""
        tree = self._tree()
        total = sum(own + reaped for _, own, reaped in tree.values())
        drv = tree.get(self.root, (0, 0.0, 0.0))[1]
        jvm = tree.get(self.jvm, (0, 0.0, 0.0))[1] if self.jvm else 0.0
        py = [p for p in tree if p not in (self.root, self.jvm)]
        return {"tree": total, "driver_py": drv, "jvm": jvm,
                "pyworkers": total - drv - jvm, "pids": py}

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the driver JVM")


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from ``/proc/stat``:
    time the hypervisor gave the VM's CPUs to other guests."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def cpu_delta(a: dict, b: dict) -> dict[str, float]:
    return {k: b[k] - a[k] for k in ("tree", "driver_py", "jvm",
                                      "pyworkers")}


# --------------------------------------------------------- status store

STAGE_FIELDS = ("numCompleteTasks", "executorRunTime", "executorCpuTime",
                "jvmGcTime", "inputBytes", "inputRecords", "outputBytes",
                "outputRecords", "shuffleReadBytes", "shuffleWriteBytes",
                "memoryBytesSpilled", "diskBytesSpilled")


class StatusStore:
    """Jobs and stages from ``SparkContext.statusStore()``, serialised
    to JSON inside the JVM so one py4j call returns a whole list."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        scala_mod = getattr(getattr(jvm.com.fasterxml.jackson.module.scala,
                                    "DefaultScalaModule$"), "MODULE$")
        self._mapper = (jvm.com.fasterxml.jackson.databind.ObjectMapper()
                        .registerModule(scala_mod))
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()

    def jobs(self, t0: float, t1: float) -> list[dict]:
        """Jobs submitted within ``[t0, t1]`` (epoch s). The listener bus
        is drained first, so the last job's end has reached the store."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = json.loads(self._mapper.writeValueAsString(
            self._store.jobsList(None)))
        return [j for j in jobs
                if t0 * 1000 - 1 <= j["submissionTime"] <= t1 * 1000 + 1]

    def stage(self, stage_id: int) -> dict:
        return json.loads(self._mapper.writeValueAsString(
            self._store.lastStageAttempt(stage_id)))

    def stages_of(self, jobs: list[dict]) -> list[dict]:
        """Each stage the jobs ran, once; stages skipped because an
        earlier job's shuffle output was reused count nothing."""
        ids = sorted({s for j in jobs for s in j["stageIds"]})
        out = []
        for sid in ids:
            st = self.stage(sid)
            if st["status"] == "COMPLETE":
                out.append({k: st[k] for k in ("stageId",) + STAGE_FIELDS})
        return out


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
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
