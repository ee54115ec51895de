"""Measurement primitives shared by every workload: percentile summaries,
spans with self time, peak RSS, the Spark session and the Spark status
REST API.  Nothing here imports pyspark at module import time, so the unit
tests run without a JVM."""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Iterator

# Candidate tail percentiles, highest first.  A percentile is reported only
# when at least TAIL_MIN_BEYOND samples lie beyond it.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' definition)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest candidate percentile with at least ten samples beyond it."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= TAIL_MIN_BEYOND - 1e-9:  # 99.9% of 10k is 10 beyond
            return p
    return None


def summarize(values: list[float]) -> dict[str, Any]:
    """Median, plus the highest supported tail percentile, with the count."""
    out: dict[str, Any] = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    p = tail_percentile(len(values))
    if p is not None:
        out["tail_pct"] = p
        out["tail"] = percentile(values, p)
    return out


# --------------------------------------------------------------- spans
@dataclass
class Span:
    sid: int
    name: str
    layer: str
    trace: int
    parent: int | None
    start: float
    end: float | None = None
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of intervals covers."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration - covered(kids.get(s.sid, []), s.start, s.end or s.start)
        for s in spans
    }


class Tracer:
    """In-memory span recorder.  Disabled, ``span()`` records nothing and
    touches no Spark state, so untraced runs pay one generator frame per
    call.  Enabled, each span tags the Spark jobs it launches with a job
    group named after the span (restoring the caller's group on exit)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = None  # the SparkContext whose jobs spans tag, once set up
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def last_trace(self) -> int | None:
        """Trace id of the span this thread closed last."""
        last = getattr(self._local, "last", None)
        return last.trace if last is not None else None

    @contextmanager
    def span(
        self, name: str, layer: str, new_trace: bool = False, trace: int | None = None
    ) -> Iterator[Span | None]:
        """``trace`` joins an earlier root span's trace (same commit, other call)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        if trace is None:
            trace = sid if (new_trace or parent is None) else parent.trace
        s = Span(sid, name, layer, trace, parent.sid if parent else None, time.perf_counter())
        with self._lock:
            self.spans.append(s)
        prev = None
        if self.sc is not None:
            prev = (
                self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"),
            )
            self.sc.setJobGroup(job_group(s), name)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()
            self._local.last = s
            if self.sc is not None:
                if prev and prev[0] is not None:
                    self.sc.setJobGroup(prev[0], prev[1] or "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def layer_self_times(self) -> dict[str, float]:
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + st[s.sid]
        return out

    def dump(self, path: str, extra: dict[str, Any]) -> None:
        st = self_times(self.spans)
        t0 = min((s.start for s in self.spans), default=0.0)
        doc = {
            **extra,
            "layer_self_s": self.layer_self_times(),
            "spans": [
                {
                    "id": s.sid,
                    "name": s.name,
                    "layer": s.layer,
                    "trace": s.trace,
                    "parent": s.parent,
                    "start_s": s.start - t0,
                    "end_s": (s.end or s.start) - t0,
                    "self_s": st[s.sid],
                    **({"counts": s.counts} if s.counts else {}),
                }
                for s in self.spans
            ],
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


def job_group(s: Span) -> str:
    return f"pb-{s.sid}-{s.layer}"


# --------------------------------------------------------------- memory
def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


# Thread names (as /proc truncates them) of the JVM's JIT compiler threads
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_ticks(path: str) -> tuple[str, int]:
    """Name and utime + stime (clock ticks) from a /proc stat file."""
    with open(path) as f:
        raw = f.read()
    fields = raw.rsplit(")", 1)[1].split()
    return raw[raw.index("(") + 1 : raw.rindex(")")], int(fields[11]) + int(fields[12])


def _work_ticks(pid: int) -> int:
    """CPU ticks of one process minus those of its JIT compiler threads
    (0 once the process is gone)."""
    try:
        _, total = _stat_ticks(f"/proc/{pid}/stat")
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            name, ticks = _stat_ticks(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        if name.startswith(JIT_THREADS):
            total -= ticks
    return total


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def cpu_seconds() -> float:
    """CPU seconds spent so far by this process and every live descendant
    (the gateway JVM and the Python workers it forks), without the JVM's
    JIT compiler threads.

    On a shared host this moves far less than wall time: time spent waiting
    for a core, or stolen by the hypervisor, is not counted.  JIT
    compilation is left out because in a run of a minute it is mostly
    warm-up, and its timing varies from run to run; it took about half the
    CPU of the serving cycles on four cores.  The JVM keeps its compiler
    threads for its whole life (``session_conf``), so none of their time
    leaks into the total when one exits."""
    return sum(_work_ticks(p) for p in process_tree(os.getpid())) / os.sysconf("SC_CLK_TCK")


def disk_files(*dirs: str) -> dict[tuple[int, int, int], int]:
    """Size of every file under ``dirs``, keyed by inode and modification
    time: a hard link to a file already there, or a renamed one, is not a
    new file, and a new file that reuses a freed inode number is."""
    out = {}
    for d in dirs:
        for root, _, names in os.walk(d):
            for n in names:
                try:
                    st = os.stat(os.path.join(root, n))
                except OSError:
                    continue
                out[(st.st_dev, st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


class RssSampler:
    """Peak resident set of this Python process plus its direct children
    (the gateway JVM), sampled from /proc on a daemon thread.
    Python workers the JVM forks share most of their pages with each other,
    so they are left out rather than counted once per fork."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> int:
        me = os.getpid()
        total = _rss_kb(me) + sum(_rss_kb(c) for c in _children(me))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --------------------------------------------------------------- Spark
HEAP = "2g"


def session_conf(work: str, traced: bool) -> dict[str, str]:
    """Run-hygiene settings layered over the engine's own session defaults:
    no console progress bars, scratch inside the run's work directory, and
    the status UI only for traced runs."""
    # a fixed, pre-touched heap: peak RSS then tracks what the run holds
    # outside it, not when the collector decided to grow the heap
    # and compiler threads that live as long as the JVM (see cpu_seconds)
    java_opts = (
        f"-Djava.io.tmpdir={work}/jvm-tmp -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.driver.memory": HEAP,
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.enabled": "true" if traced else "false",
    }
    if traced:
        conf.update(
            {
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "10",
            }
        )
    return conf


class SparkRest:
    """Job and stage totals from the Spark status REST API (traced runs)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str) -> Any:
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def stages(self) -> dict[int, dict]:
        out = {}
        for s in self._get("/stages"):
            out.setdefault(int(s["stageId"]), s)
        return out

    def totals_since(self, first_job: int) -> dict[str, Any]:
        """Per-group task-seconds, GC seconds, shuffle-write bytes and job
        counts over every job with id >= first_job (group None = jobs that
        carried no group, e.g. the sink's background folds)."""
        jobs = sorted(
            (j for j in self.jobs() if int(j["jobId"]) >= first_job),
            key=lambda j: int(j["jobId"]),
        )
        stages = self.stages()
        groups: dict[str | None, dict[str, float]] = {}
        seen: set[int] = set()  # a stage reused by a later job counts once
        for j in jobs:
            g = groups.setdefault(
                j.get("jobGroup"), {"jobs": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0}
            )
            g["jobs"] += 1
            for sid in j.get("stageIds", []):
                st = stages.get(int(sid))
                if st is None or st.get("status") != "COMPLETE" or int(sid) in seen:
                    continue
                seen.add(int(sid))
                g["task_s"] += st.get("executorRunTime", 0) / 1000.0
                g["gc_s"] += st.get("jvmGcTime", 0) / 1000.0
                g["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        return groups

    def max_job_id(self) -> int:
        jobs = self.jobs()
        return max((int(j["jobId"]) for j in jobs), default=-1)
