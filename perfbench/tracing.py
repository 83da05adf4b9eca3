"""Spans around calls into the engine's layers, measured from outside.

A span times one call into a layer's public function, runs the Spark jobs
it submits under a job group of its own, and on exit reads those jobs'
stage metrics from the live status store (this works with the UI
disabled). Python-worker CPU and resident memory come from /proc. Spans
stay in memory and are written as JSON lines when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20
RSS_INTERVAL_S = 0.25

# Stage metrics summed over a span's jobs; peak_exec_mem_mb is a max.
STAGE_KEYS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "peak_exec_mem_mb",
    "tasks_failed",
)


class ProcessTree:
    """The driver JVM started by this process and its Python workers."""

    def __init__(self):
        self.root_pid = os.getpid()

    @staticmethod
    def _stat(pid: int):
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            return None
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2 :].split()
        # rest[0] is field 3 (state): ppid=4, utime..cstime=14..17, rss=24
        return comm, int(rest[1]), sum(int(x) for x in rest[11:15]), int(rest[21])

    def processes(self) -> dict[int, tuple[str, int, int, int]]:
        """pid -> (comm, ppid, cpu ticks incl. reaped children, rss pages)
        for every descendant of the root process."""
        table = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = self._stat(int(name))
                if st is not None:
                    table[int(name)] = st
        keep, frontier = {}, [self.root_pid]
        while frontier:
            parent = frontier.pop()
            for pid, st in table.items():
                if st[1] == parent and pid not in keep:
                    keep[pid] = st
                    frontier.append(pid)
        return keep

    def sample(self) -> tuple[float, float]:
        """(Python-worker CPU seconds so far, JVM + worker RSS in MB)."""
        procs = self.processes()
        jvm = {p for p, st in procs.items() if st[0] == "java"}
        cpu = rss = 0.0
        for pid, (comm, ppid, ticks, pages) in procs.items():
            if pid in jvm:
                rss += pages * _PAGE_MB
            elif "python" in comm and self._under(pid, jvm, procs):
                cpu += ticks / _CLK_TCK
                rss += pages * _PAGE_MB
        return cpu, rss

    @staticmethod
    def _under(pid, ancestors, procs) -> bool:
        while pid in procs:
            pid = procs[pid][1]
            if pid in ancestors:
                return True
        return False


class RssSampler:
    """Background sampler of the JVM + Python-worker resident set."""

    def __init__(self, tree: ProcessTree):
        self.tree = tree
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.tree.sample()[1])
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    thread: str = ""
    jobs: int = 0
    python_cpu_s: float = 0.0
    attrs: dict = field(default_factory=dict)
    stage: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer adds nothing to a call."""

    _LOCAL_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

    def __init__(self, spark, tree: ProcessTree, enabled: bool):
        self.sc = spark.sparkContext
        self.tree = tree
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: int | None = None
        self._seen_stages: set[int] = set()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # spans opened on a thread the engine started (the pipeline's dim
        # branch, a stream's foreachBatch callback) hang off the open root
        parent = stack[-1].span_id if stack else self._root
        sp = Span(name, next(self._ids), parent, 0.0, thread=threading.current_thread().name)
        sp.group = f"perfbench-{sp.span_id}"
        saved = [self.sc.getLocalProperty(k) for k in self._LOCAL_PROPS]
        self.sc.setJobGroup(sp.group, name, False)
        is_root = parent is None
        if is_root:
            self._root = sp.span_id
        stack.append(sp)
        cpu0 = self.tree.sample()[0]
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.python_cpu_s = self.tree.sample()[0] - cpu0
            stack.pop()
            for k, v in zip(self._LOCAL_PROPS, saved):
                self.sc.setLocalProperty(k, v)
            if is_root:
                self._root = None
            self._collect(sp)
            with self._lock:
                self.spans.append(sp)

    def _collect(self, sp: Span) -> None:
        """Stage metrics of the jobs run under the span's own group."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        job_ids = tracker.getJobIdsForGroup(sp.group)
        sp.jobs = len(job_ids)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        acc = dict.fromkeys(STAGE_KEYS, 0.0)
        for sid in sorted(stage_ids):
            with self._lock:
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stages never reach the store
                continue
            acc["executor_run_s"] += st.executorRunTime() / 1e3
            acc["executor_cpu_s"] += st.executorCpuTime() / 1e9
            acc["gc_s"] += st.jvmGcTime() / 1e3
            acc["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            acc["spill_mb"] += st.diskBytesSpilled() / 2**20
            acc["peak_exec_mem_mb"] = max(acc["peak_exec_mem_mb"], st.peakExecutionMemory() / 2**20)
            acc["tasks_failed"] += st.numFailedTasks()
        sp.stage = acc

    @contextlib.contextmanager
    def wrapped(self, owner, method: str, name_of, after=None):
        """Patch owner.method so each call runs inside span name_of(*args);
        after(span, *args) may annotate the span once the call returns."""
        if not self.enabled:
            yield
            return
        original = getattr(owner, method)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name_of(*args, **kwargs)) as sp:
                out = original(*args, **kwargs)
                if after is not None:
                    after(sp, *args, **kwargs)
                return out

        setattr(owner, method, traced)
        try:
            yield
        finally:
            setattr(owner, method, original)

    # -- queries over recorded spans ---------------------------------------
    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def subtree(self, sp: Span) -> list[Span]:
        out, frontier = [], [sp]
        while frontier:
            cur = frontier.pop()
            out.append(cur)
            frontier.extend(self.children(cur))
        return out

    def totals(self, sp: Span) -> dict:
        """Stage metrics and jobs of a span and its descendants, and the
        span's own Python CPU. Worker CPU is read process-wide, so the
        Python CPU of a span includes that of every span running beside
        it (nested or concurrent); descendants' are not added again."""
        tot = dict.fromkeys(STAGE_KEYS, 0.0)
        jobs = 0
        for s in self.subtree(sp):
            jobs += s.jobs
            for k in STAGE_KEYS:
                if k == "peak_exec_mem_mb":
                    tot[k] = max(tot[k], s.stage.get(k, 0.0))
                else:
                    tot[k] += s.stage.get(k, 0.0)
        tot["jobs"] = jobs
        tot["python_cpu_s"] = sp.python_cpu_s
        tot["wall_s"] = sp.wall_s
        return tot

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(sp)) + "\n")


def covered_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
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
