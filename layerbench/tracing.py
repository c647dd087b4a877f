"""Spans and counters for the traced run, taken from outside the program.

Spans wrap the benchmark's own calls into the package's public functions
(``session.get_spark``, a query spec's builder, plan forcing, the noop
write, ``run_fraud_stream``, the ``foreachBatch`` sink, ``snapshot.read``)
and are kept in memory until the run writes them out at exit.

A span's self time is its duration minus the time its child spans cover,
so the self times of one unit's spans sum to the unit's wall time.

Counters come from Spark's status store (jobs, stages, tasks, shuffle and
spill bytes, task run time), the JVM's management beans (GC time), the
block manager (bytes still cached), and ``/proc`` (CPU time of the Python
worker processes under the JVM, peak resident memory).
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    unit: int
    name: str
    start: float  # epoch seconds, comparable with Spark's job submission times
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Stands in for a tracer in untraced runs: spans cost one call."""

    enabled = False

    def span(self, name: str, **attrs):
        return nullcontext()


class Tracer:
    """In-memory span recorder. Spans nest by call order on one thread;
    ``foreachBatch`` callbacks run on a Py4J callback thread while the
    caller's ``run_fraud_stream`` span is open, so nesting is tracked by
    an explicit stack rather than per thread."""

    enabled = True

    def __init__(self, sample=None) -> None:
        """``sample()``, when given, is read at each span's start and end
        and stored in its attrs as ``at_start``/``at_end``."""
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.unit = -1
        self.sample = sample

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        if self.sample is not None:
            attrs["at_start"] = self.sample()
        s = Span(len(self.spans), parent, self.unit, name, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sample is not None:
                s.attrs["at_end"] = self.sample()

    def unit_spans(self, unit: int) -> list[Span]:
        return [s for s in self.spans if s.unit == unit]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self seconds per span name over one unit's spans."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.duration
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += s.duration - child[s.id]
    return dict(out)


def innermost(spans: list[Span], t: float) -> Span | None:
    """The deepest span open at epoch time ``t`` (spans are properly
    nested, so the latest-starting covering span is the deepest)."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


# -- Spark status store -------------------------------------------------------


def _seq(scala_seq) -> list:
    n = scala_seq.size()
    return [scala_seq.apply(i) for i in range(n)]


class SparkCounters:
    """Reads jobs and stages from the application status store.

    ``jobs_since(job_id)`` attributes work to spans by each job's
    submission time, which also covers jobs that a streaming query runs
    on its own thread under its own job group."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.jsc = sc._jsc.sc()
        self.jvm = sc._jvm

    def drain_events(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds final metrics for finished jobs."""
        self.jsc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        jobs = _seq(self.store().jobsList(None))
        return max((j.jobId() for j in jobs), default=-1)

    def store(self):
        return self.jsc.statusStore()

    def jobs_since(self, job_id: int) -> list[dict]:
        out = []
        store = self.store()
        for j in _seq(store.jobsList(None)):
            if j.jobId() <= job_id:
                continue
            sub = j.submissionTime()
            t = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
            stages = []
            for sid in _seq(j.stageIds()):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # py4j wraps NoSuchElementException for skipped stages
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                stages.append(
                    {
                        "tasks": sd.numCompleteTasks() + sd.numFailedTasks(),
                        "failed_tasks": sd.numFailedTasks(),
                        "run_s": sd.executorRunTime() / 1000.0,
                        "gc_s": sd.jvmGcTime() / 1000.0,
                        "shuffle_write": sd.shuffleWriteBytes(),
                        "shuffle_read": sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead(),
                        "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    }
                )
            out.append({"job": j.jobId(), "submitted": t, "stages": stages})
        return out

    def gc_seconds(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1000.0

    def cached_bytes(self) -> int:
        infos = self.jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)


# -- /proc --------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()  # fields from 'state' on


def descendants(root: int) -> list[int]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = proc_stat(int(d))
            if st is not None:
                kids[int(st[1])].append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_seconds(pids: list[int]) -> float:
    """utime+stime of each process plus that of its reaped children."""
    total = 0
    for p in pids:
        st = proc_stat(p)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return None if gw is None else gw.proc.pid
