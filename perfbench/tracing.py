"""Spans, layer wrappers and Spark's own accounting, all from outside the
engine.

The benchmark never edits the engine to measure it. A traced run swaps
public functions of the engine's modules for wrappers that record a span
(name, start, end, parent, operation id) and restores them afterwards.
Spark's accounting is read from its status stores after each operation:
jobs, stages and task metrics from the application status store, and the
Python nodes' SQL metrics from the SQL status store.
"""

from __future__ import annotations

import contextlib
import functools
import os
import re
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JError


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    jobs: int = 0


@dataclass
class Tracer:
    """In-memory span recorder. Spans opened on a thread with no open span
    (the grid-sweep pool threads, for instance) hang off the current
    operation's root span."""
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, int] = field(default_factory=dict)
    enabled: bool = True
    #: returns the number of Spark jobs submitted so far; spans record how
    #: many jobs started while they were open
    job_mark: object = None
    op: int | None = None
    op_root: int | None = None
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)
    _undo: list = field(default_factory=list)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self.op_root
        with self._lock:
            span = Span(len(self.spans), name, time.perf_counter(), 0.0,
                        parent, self.op)
            self.spans.append(span)
        if self.job_mark is not None:
            span.jobs = -self.job_mark()
        stack.append(span.id)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        if self.job_mark is not None:
            span.jobs += self.job_mark()
        self._stack().pop()

    def span(self, name: str):
        """Context manager recording one span; a no-op when disabled."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def count(self, name: str) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + 1

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper that records a span and a
        call count, everywhere the engine's modules hold a reference to it
        (``from x import f`` at module level binds a second name)."""
        original = getattr(module, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            tracer.count(name)
            with tracer._span(name):
                return original(*args, **kwargs)

        for mod in list(sys.modules.values()):
            mod_name = getattr(mod, "__name__", "") or ""
            if mod is module or mod_name.startswith("spark_sentiment_spark"):
                for key, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, key, wrapper)
                        self._undo.append((mod, key, original))

    def unwrap_all(self) -> None:
        while self._undo:
            mod, key, original = self._undo.pop()
            setattr(mod, key, original)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    children cover (children of one parent may overlap when they ran on
    pool threads, so their union is subtracted, not their sum)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = (s.end - s.start) - covered
    return out


def outermost_total(spans: list[Span], match) -> float:
    """Summed duration of the spans selected by ``match`` that have no
    selected ancestor, so nested calls of one layer count once."""
    by_id = {s.id: s for s in spans}

    def has_matching_ancestor(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if match(by_id[p]):
                return True
            p = by_id[p].parent
        return False

    return sum(s.end - s.start for s in spans
               if match(s) and not has_matching_ancestor(s))


# --- Spark accounting -------------------------------------------------------

class SparkAccounting:
    """Reads Spark's own accounting through the JVM status stores. Job,
    stage and SQL execution ids grow monotonically and one operation runs
    at a time, so an operation's share is the id range it opened."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters

    def job_mark(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def exec_mark(self) -> int:
        """Position of the next SQL execution in the store's list (a run
        stays far below ``spark.sql.ui.retainedExecutions``, so none is
        evicted and positions are stable)."""
        return int(self._sql.executionsCount())

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs_between(self, j0: int, j1: int) -> dict[str, float]:
        """Job, stage and task accounting for jobs ``j0 <= id < j1``."""
        out = dict.fromkeys(
            ("jobs", "stages", "stages_skipped", "tasks", "task_failures",
             "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_disk_bytes", "input_bytes",
             "output_bytes"), 0.0)
        seen: set[int] = set()
        for jid in range(j0, j1):
            try:
                job = self._store.job(jid)
            except Py4JError:  # evicted or never registered
                continue
            out["jobs"] += 1
            for sid in self._conv.asJava(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JError:  # a skipped stage may have no attempt
                    out["stages_skipped"] += 1
                    continue
                if st.status().toString() == "SKIPPED":
                    out["stages_skipped"] += 1
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_failures"] += st.numFailedTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_disk_bytes"] += st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
        return out

    def python_nodes_between(self, e0: int, e1: int) -> dict[str, float]:
        """Rows and bytes through the Python nodes of the SQL executions at
        positions ``e0 <= i < e1``. A node is a Python node when it carries the
        "data sent to Python workers" metric; its rows sent are its child's
        output rows (its own output rows when the child has none)."""
        out = {"rows_sent": 0.0, "bytes_sent": 0.0, "bytes_received": 0.0}
        if e1 <= e0:
            return out
        # A cached relation's plan shows up under every scan of the cache
        # with the same accumulators: count each Python node once.
        seen: set[int] = set()
        for ex in self._conv.asJava(self._sql.executionsList(e0, e1 - e0)):
            eid = ex.executionId()
            graph = self._sql.planGraph(eid)
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            nodes = {n.id(): n for n in self._conv.asJava(graph.allNodes())}
            child_of: dict[int, list[int]] = {}
            for e in self._conv.asJava(graph.edges()):
                child_of.setdefault(e.toId(), []).append(e.fromId())

            def metrics(node) -> dict[str, str]:
                return {m.name(): values.get(m.accumulatorId())
                        for m in self._conv.asJava(node.metrics())}

            for nid, node in nodes.items():
                sent = next((m.accumulatorId() for m in self._conv.asJava(
                    node.metrics()) if m.name() == "data sent to Python workers"),
                    None)
                if sent is None or sent in seen:
                    continue
                seen.add(sent)
                ms = metrics(node)
                out["bytes_sent"] += parse_metric(
                    ms["data sent to Python workers"])
                out["bytes_received"] += parse_metric(
                    ms.get("data returned from Python workers"))
                rows = None
                for cid in child_of.get(nid, []):
                    cm = metrics(nodes[cid])
                    raw = cm.get("number of output rows") or cm.get(
                        "records read")
                    if raw is not None:
                        rows = (rows or 0.0) + parse_metric(raw)
                if rows is None:
                    rows = parse_metric(ms.get("number of output rows"))
                out["rows_sent"] += rows
        return out


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_METRIC_RE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """The total of one SQL metric as Spark renders it: ``"100,000"``,
    ``"1.2 MiB"`` or ``"total (min, med, max ...)\\n1.2 MiB (...)"``.
    Sizes come back in bytes, durations in seconds."""
    if not text:
        return 0.0
    line = text.split("\n")[1] if "\n" in text else text
    m = _METRIC_RE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1)


# --- memory -----------------------------------------------------------------

class PeakRss:
    """Samples the peak RSS (``VmHWM``) of this process and every
    descendant from /proc, and reports sums of the per-process peaks in MiB
    for two groups: the JVM, and the Python processes (this driver, the
    Python daemon and its workers). Other descendants (the launcher shell,
    and a JVM child caught between fork and exec, which briefly maps the
    whole JVM heap) belong to neither group."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peaks: dict[int, int] = {}
        self.kinds: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return False

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    @staticmethod
    def _exe(pid: int) -> str:
        try:
            return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
        except OSError:
            return ""

    def sample(self) -> None:
        root = os.getpid()
        parents: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may hold spaces; fields resume after ")"
            parents[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {root}, [root]
        while frontier:
            p = frontier.pop()
            for pid, ppid in parents.items():
                if ppid == p and pid not in tree:
                    tree.add(pid)
                    frontier.append(pid)
        for pid in tree:
            exe = self._exe(pid)
            if exe == "java" and self._exe(parents.get(pid, 0)) != "java":
                kind = "jvm"
            elif exe.startswith("python"):
                kind = "python"
            else:
                continue
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb = next(int(line.split()[1]) for line in f
                              if line.startswith("VmHWM:"))
            except (OSError, StopIteration):
                continue
            self.kinds[pid] = kind
            self.peaks[pid] = max(self.peaks.get(pid, 0), kb)

    def mib(self, jvm: bool) -> float:
        """Summed peaks of the JVM (``jvm=True``) or of the Python
        processes."""
        kind = "jvm" if jvm else "python"
        return sum(kb for pid, kb in self.peaks.items()
                   if self.kinds[pid] == kind) / 1024.0

    def by_process(self) -> dict[str, float]:
        """Peak MiB of each measured process, keyed ``<group>:<pid>``."""
        return {f"{self.kinds[pid]}:{pid}": kb / 1024.0
                for pid, kb in sorted(self.peaks.items())}
