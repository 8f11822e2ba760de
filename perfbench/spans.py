"""Tracing from outside the engine: spans around public calls, Spark job
records per span, UDF profiler totals, and the process tree's peak RSS.

Nothing here edits ``lucene_spark``. ``Tracer.install`` swaps each listed
public function for a wrapper that records a span and tags the Spark jobs
the call starts with a job group named after the span. The event log,
read after the session stops, maps each job back to its span. With
tracing off, ``span`` is a no-op and nothing is installed.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import pstats
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional


@dataclass
class Span:
    sid: int
    name: str
    parent: Optional[int]
    op: Optional[int]
    start: float
    end: float = 0.0
    udf_s: float = 0.0  # profiled Python UDF time of jobs in this span

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class Job:
    job_id: int
    group: Optional[str]
    call_site: str
    execution: Optional[str]  # the SQL execution (one DataFrame action)
    submitted_ms: int
    completed_ms: int = 0
    stages: List[int] = field(default_factory=list)

    @property
    def dur_s(self) -> float:
        return max(0, self.completed_ms - self.submitted_ms) / 1000.0


@dataclass
class StageRec:
    tasks: int
    input_bytes: int
    shuffle_write_bytes: int


class Tracer:
    """Spans kept in memory; Spark records attached after the run."""

    def __init__(self, enabled: bool, prof_dir: str):
        self.enabled = enabled
        self.prof_dir = prof_dir
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self._undo: List[Callable[[], None]] = []
        self._spark = None
        self.op: Optional[int] = None

    # --- spans ----------------------------------------------------------

    def bind(self, spark) -> None:
        """Start attaching job groups and UDF profiles (after get_spark)."""
        self._spark = spark if self.enabled else None
        if self._spark is not None:
            self._spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, self.op,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.udf_s += self._drain_udf_profile()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Optional[Span]) -> None:
        if self._spark is None:
            return
        sc = self._spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"pb-{s.sid}", s.name)

    def _drain_udf_profile(self) -> float:
        """Profiled UDF seconds accumulated since the last drain."""
        if self._spark is None:
            return 0.0
        prof = self._spark.profile
        for f in glob.glob(os.path.join(self.prof_dir, "*")):
            os.remove(f)
        prof.dump(self.prof_dir, type="perf")
        prof.clear(type="perf")
        total = 0.0
        for f in glob.glob(os.path.join(self.prof_dir, "*.pstats")):
            total += pstats.Stats(f).total_tt
        return total

    # --- wrapping public calls -----------------------------------------

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def install(self, targets) -> None:
        """``targets``: (span name, module or class, attribute). The
        attribute itself is replaced, so engine code that calls it through
        the module or class is traced too."""
        if not self.enabled:
            return
        for name, owner, attr in targets:
            raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            if isinstance(raw, classmethod):
                new = classmethod(self.wrap(name, raw.__func__))
            else:
                new = self.wrap(name, raw)
            setattr(owner, attr, new)
            self._undo.append(functools.partial(setattr, owner, attr, raw))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    # --- derived numbers ------------------------------------------------

    def self_time(self) -> Dict[int, float]:
        """Span id -> duration minus the part its child spans cover."""
        out = {s.sid: s.dur for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.dur
        return out

    def named(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, root: Span) -> List[Span]:
        kids: Dict[int, List[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, ()))
        return out

    def write(self, path: str, jobs: Dict[int, "Job"]) -> None:
        """Spans, then the Spark jobs attached to them, as JSON lines."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "span": s.sid, "name": s.name, "parent": s.parent, "op": s.op,
                    "start": s.start, "end": s.end, "udf_s": s.udf_s,
                }) + "\n")
            for j in sorted(jobs.values(), key=lambda j: j.job_id):
                f.write(json.dumps({
                    "job": j.job_id, "group": j.group, "call_site": j.call_site,
                    "execution": j.execution, "dur_s": j.dur_s, "stages": j.stages,
                }) + "\n")


def read_event_log(event_dir: str):
    """(jobs, stages) from a finished Spark event log."""
    jobs: Dict[int, Job] = {}
    stages: Dict[int, StageRec] = {}
    for path in glob.glob(os.path.join(event_dir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], props.get("spark.jobGroup.id"),
                        props.get("callSite.short", ""),
                        props.get("spark.sql.execution.id"), ev["Submission Time"],
                        stages=list(ev["Stage IDs"]),
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].completed_ms = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                    stages[info["Stage ID"]] = StageRec(
                        info["Number of Tasks"],
                        int(acc.get("internal.metrics.input.bytesRead", 0) or 0),
                        int(acc.get("internal.metrics.shuffle.write.bytesWritten", 0) or 0),
                    )
    return jobs, stages


def jobs_by_span(jobs: Dict[int, Job]) -> Dict[int, List[Job]]:
    out: Dict[int, List[Job]] = {}
    for j in sorted(jobs.values(), key=lambda j: j.job_id):
        if j.group and j.group.startswith("pb-"):
            out.setdefault(int(j.group[3:]), []).append(j)
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver, the JVM it launched and the Python workers), read from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.stop()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.samples += 1
        self.peak_bytes = max(self.peak_bytes, total)


def process_tree(root: int) -> set:
    """``root`` and all its live descendants, from /proc."""
    kids: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    tree, todo = set(), [root]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(kids.get(p, ()))
    return tree
