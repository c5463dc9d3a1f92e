"""The traced run: spans recorded around calls into the package's public
functions, Spark jobs tagged with the span that submitted them, and the
Spark event log read back to count jobs, stages, tasks and driver gaps.

Spans are recorded from the benchmark's side: ``Tracer.wrap`` replaces a
module or class attribute with a timing wrapper for the duration of the
traced run, so calls made inside the package (``load_estimates`` calling
``TableStore.upsert_ignore`` from its thread pool) are timed where they
are made. Each span sets the Spark local property ``perfbench.span`` on
its thread, so every job it submits carries the span id in the event
log. ``ThreadPoolExecutor.submit`` is wrapped too, so a pooled task runs
under the span that submitted it. Jobs that still carry no tag (a
streaming callback thread) are attributed to the innermost caller-thread
span whose window covers their submission; jobs outside every span are
reported as ``spark.unattributed_jobs``.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass

TAG = "perfbench.span"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    thread: int
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.main_thread = threading.get_ident()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = Span(next(self._ids), name, stack[-1] if stack else None,
                   threading.get_ident(), time.time())
        prev = self.sc.getLocalProperty(TAG)
        self.sc.setLocalProperty(TAG, str(rec.sid))
        stack.append(rec.sid)
        try:
            yield rec
        finally:
            rec.end = time.time()
            stack.pop()
            self.sc.setLocalProperty(TAG, prev)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Time every call of ``owner.attr`` as span ``name`` until
        ``restore``. ``before(*args)`` returns a state passed to
        ``after(state, result, *args)``; both run inside the span."""
        real = getattr(owner, attr)

        @functools.wraps(real)
        def timed(*args, **kwargs):
            with self.span(name):
                state = before(*args) if before else None
                result = real(*args, **kwargs)
                if after:
                    after(state, result, *args)
                return result

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, real))

    def propagate_to_pools(self) -> None:
        """Run pooled tasks under the span that submitted them."""
        tracer = self
        real = concurrent.futures.ThreadPoolExecutor.submit

        def submit(pool, fn, /, *args, **kwargs):
            ctx = list(tracer._stack())

            def run(*a, **k):
                stack = tracer._stack()
                saved = list(stack)
                stack[:] = ctx
                prev = tracer.sc.getLocalProperty(TAG)
                tracer.sc.setLocalProperty(TAG, str(ctx[-1]) if ctx else None)
                try:
                    return fn(*a, **k)
                finally:
                    tracer.sc.setLocalProperty(TAG, prev)
                    stack[:] = saved

            return real(pool, run, *args, **kwargs)

        concurrent.futures.ThreadPoolExecutor.submit = submit
        self._undo.append((concurrent.futures.ThreadPoolExecutor, "submit",
                           real))

    def restore(self) -> None:
        for owner, attr, real in reversed(self._undo):
            setattr(owner, attr, real)
        self._undo.clear()

    # -- analysis ----------------------------------------------------------

    def parents(self) -> dict[int, int | None]:
        """Span parent, adopting a parentless span of another thread into
        the innermost caller-thread span open when it started."""
        out = {}
        main = [s for s in self.spans if s.thread == self.main_thread]
        for s in self.spans:
            if s.parent is None and s.thread != self.main_thread:
                cover = [m for m in main if m.start <= s.start <= m.end]
                s.parent = max(cover, key=lambda m: m.start).sid if cover else None
            out[s.sid] = s.parent
        return out

    def self_times(self, t0: float, t1: float) -> dict[str, float]:
        """Self seconds per span name inside [t0, t1]. An instant is
        charged to the innermost open spans, split evenly when several
        run at once, so the values sum to the time any span was open."""
        parents = self.parents()
        spans = [s for s in self.spans if s.end > t0 and s.start < t1]
        cuts = sorted({t0, t1} | {min(max(x, t0), t1) for s in spans
                                  for x in (s.start, s.end)})
        out: dict[str, float] = {}
        for a, b in zip(cuts, cuts[1:]):
            active = [s for s in spans if s.start <= a and s.end >= b]
            busy = set()
            for s in active:
                p = parents[s.sid]
                while p is not None:
                    busy.add(p)
                    p = parents.get(p)
            inner = [s for s in active if s.sid not in busy]
            for s in inner:
                out[s.name] = out.get(s.name, 0.0) + (b - a) / len(inner)
        return out


# -- event log ---------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Plain JSON-lines event log: Spark 4 otherwise writes a zstd
    rolling directory."""
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


@dataclass
class Job:
    jid: int
    submit: float
    end: float
    stages: list[int]
    tag: int | None


def read_event_log(log_dir: str):
    """(jobs, completed stage ids, task records) from the one application
    log in ``log_dir``; times in epoch seconds."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {paths}")
    jobs: dict[int, Job] = {}
    stages_done: list[int] = []
    tasks = []
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get(TAG)
                jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"] / 1e3,
                                         0.0, ev["Stage IDs"],
                                         int(tag) if tag else None)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                stages_done.append(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "finish": info["Finish Time"] / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_bytes": (rd.get("Remote Bytes Read", 0)
                                      + rd.get("Local Bytes Read", 0)
                                      + wr.get("Shuffle Bytes Written", 0))})
    return list(jobs.values()), stages_done, tasks


def union_length(intervals) -> float:
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


def spark_metrics(tracer: Tracer, log_dir: str, timed: list[tuple[float, float]],
                  counted: tuple[float, float], layers: list[str]) -> dict:
    """Spark-level metrics over the ``timed`` windows, and per-layer job
    counts over the ``counted`` window (timed runs plus trace-only
    measurements). Every job in ``counted`` lands in exactly one layer
    or in ``spark.unattributed_jobs``."""
    jobs, stages_done, tasks = read_event_log(log_dir)
    tracer.parents()
    by_sid = {s.sid: s for s in tracer.spans}
    main = [s for s in tracer.spans if s.thread == tracer.main_thread]

    def in_timed(t):
        return any(a <= t <= b for a, b in timed)

    counts = dict.fromkeys(layers, 0)
    unattributed = 0
    c0, c1 = counted
    for j in jobs:
        if not c0 <= j.submit <= c1:
            continue
        sid = j.tag if j.tag in by_sid else None
        if sid is None:
            cover = [m for m in main if m.start <= j.submit <= m.end]
            sid = max(cover, key=lambda m: m.start).sid if cover else None
        if sid is None:
            unattributed += 1
            continue
        layer = by_sid[sid].name.split(".", 1)[0]
        counts[layer] = counts.get(layer, 0) + 1
    timed_jobs = [j for j in jobs if in_timed(j.submit)]
    timed_stages = {s for j in timed_jobs for s in j.stages}
    wall = sum(b - a for a, b in timed)
    busy = sum(union_length((max(j.submit, a), min(j.end, b))
                            for j in timed_jobs if j.end > a and j.submit < b)
               for a, b in timed)
    window_tasks = [t for t in tasks if in_timed(t["finish"])]
    out = {f"{layer}.jobs": n for layer, n in counts.items()}
    out.update({
        "spark.jobs": sum(1 for j in jobs if c0 <= j.submit <= c1),
        "spark.unattributed_jobs": unattributed,
        "spark.timed_jobs": len(timed_jobs),
        "spark.stages": sum(1 for s in stages_done if s in timed_stages),
        "spark.tasks": len(window_tasks),
        "spark.driver_gap_s": wall - busy,
        "spark.task_cpu_s": sum(t["cpu_s"] for t in window_tasks),
        "spark.gc_s": sum(t["gc_s"] for t in window_tasks),
        "spark.shuffle_mb": sum(t["shuffle_bytes"] for t in window_tasks) / 2**20,
    })
    return out


def codegen_fallbacks(jvm_log: str) -> int:
    """Driver "Code grows beyond 64 KB" compile failures (each falls back
    to interpreted evaluation)."""
    with open(jvm_log, errors="replace") as fh:
        return sum("InternalCompilerException: Code grows beyond 64 KB" in line
                   for line in fh)
