"""Measurement primitives of the benchmark: the median, spans, Spark
per-stage counters attributed by job-id range, and process-tree CPU.

Nothing here imports pyspark; the Spark counters talk to the JVM status
store through the py4j handles they are given, so the attribution logic
is testable with a fake store.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from typing import Iterator

def median(values: list[float]) -> float:
    """Middle value of ``values`` (mean of the two middle ones when
    their number is even)."""
    s = sorted(values)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written out
    once at the end of a traced run. ``enabled=False`` makes every span
    a no-op so untraced runs pay nothing but an attribute test."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, under: str | None = None) -> list[float]:
        """Seconds of every span called ``name`` (whose parent span is
        called ``under``, when given)."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and (
                    under is None or (s["parent"] is not None and
                                      self.spans[s["parent"]]["name"] == under))]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = (out.get(s["name"], 0.0)
                              + (s["end"] - s["start"]) - child[i])
        return out


STAGE_FIELDS = (
    "tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes", "input_rows",
    "shuffle_read_bytes", "shuffle_write_bytes", "output_bytes",
    "output_rows",
)


def jobs_since(store: object, lo: int) -> list[int]:
    """Ids of the jobs numbered ``lo`` or higher that ``store`` knows.

    Job ids come from one counter per SparkContext, so with a single
    client the jobs a call started are exactly the ids from the first
    one not yet seen when the call began. This keeps attribution
    independent of job groups, which product code may set itself.
    ``store.jobsList(None)`` lists jobs newest first."""
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        jid = int(jobs.apply(i).jobId())
        if jid < lo:
            break
        out.append(jid)
    return sorted(out)


def stage_counters(store: object, job_ids: list[int]) -> dict[str, float]:
    """Summed per-stage metrics of the stages these jobs ran (a stage
    skipped because its shuffle output was reused is not counted)."""
    tot = dict.fromkeys(STAGE_FIELDS, 0.0)
    tot["jobs"] = float(len(job_ids))
    tot["stages"] = 0.0
    seen: set[int] = set()
    for jid in job_ids:
        sids = store.job(jid).stageIds()
        for i in range(sids.size()):
            sid = int(sids.apply(i))
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if str(st.status().toString()) == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            tot["run_ms"] += st.executorRunTime()
            tot["cpu_ms"] += st.executorCpuTime() / 1e6
            tot["gc_ms"] += st.jvmGcTime()
            tot["input_bytes"] += st.inputBytes()
            tot["input_rows"] += st.inputRecords()
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["output_bytes"] += st.outputBytes()
            tot["output_rows"] += st.outputRecords()
    return tot


class SparkCounters:
    """Per-call Spark counters: note the next job id before the call,
    then read every job from that id on once the listener bus drained."""

    def __init__(self, spark: object) -> None:
        sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._bus.waitUntilEmpty(30_000)
        done = jobs_since(self._store, 0)
        self.next_id = (max(done) + 1) if done else 0

    def take(self) -> dict[str, float]:
        """Counters of every job started since the previous ``take``."""
        self._bus.waitUntilEmpty(30_000)
        ids = jobs_since(self._store, self.next_id)
        if ids:
            self.next_id = ids[-1] + 1
        return stage_counters(self._store, ids)


def tree_cpu_s(pid: int | None = None) -> dict[str, float]:
    """User+system CPU seconds of a process tree, read from /proc, split
    into the Spark JVM (``jvm``), the Python workers it forked
    (``workers``) and the rest (``driver``: this process and any other
    child). Each process counts with its reaped children."""
    pid = os.getpid() if pid is None else pid
    tick = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[str, list[str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read().decode()
        except OSError:
            continue
        comm = raw[raw.find("(") + 1:raw.rfind(")")]
        fields = raw[raw.rfind(")") + 2:].split()
        p = int(name)
        stats[p] = (comm, fields)
        children.setdefault(int(fields[1]), []).append(p)
    total = {"driver": 0, "jvm": 0, "workers": 0}
    todo = [(pid, "driver")]
    while todo:
        p, kind = todo.pop()
        if p not in stats:
            continue
        comm, f = stats[p]
        if kind == "driver" and comm == "java":
            kind = "jvm"
        # utime, stime, cutime, cstime: fields 14-17 of stat (1-based)
        total[kind] += sum(int(x) for x in f[11:15])
        below = "workers" if kind != "driver" else "driver"
        todo.extend((c, below) for c in children.get(p, []))
    return {k: v / tick for k, v in total.items()}
