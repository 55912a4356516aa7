"""Span tracing and Spark accounting for the traced benchmark run.

The tracer wraps engine functions at the name each caller looks up
(module globals and ``TableIO`` methods), so the engine itself is not
modified. Every wrapped call records a span ``{id, parent, name, start,
end, ...}``; spans stay in memory and are written to JSON when the run
ends. Staging jobs run on ``run_iteration``'s thread pool, so a span
opened on a thread with no open span of its own takes the innermost open
span of the main thread as its parent.

Spark jobs and tasks are counted from ``statusTracker`` by job ID (the
status store keeps only the newest jobs, so list lengths undercount);
executor, GC and shuffle totals come from the event log alone.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
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


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.sc = None  # the live SparkContext, set by the caller per session

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, **attrs):
        tracer = self

        class _Span:
            def __enter__(self_s):
                st = tracer._stack()
                parent = st[-1] if st else (tracer._main_stack[-1] if tracer._main_stack else None)
                with tracer._lock:
                    self_s.rec = {"id": len(tracer.spans), "parent": parent, "name": name,
                                  "run_id": tracer.run_id, **attrs}
                    tracer.spans.append(self_s.rec)
                st.append(self_s.rec["id"])
                self_s.rec["start"] = time.time()
                return self_s.rec

            def __exit__(self_s, *exc):
                self_s.rec["end"] = time.time()
                tracer._stack().pop()
                return False

        return _Span()

    def _add_overhead(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    # -- wrapping ----------------------------------------------------------

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. ``after``
        (rec, args, kwargs, result) may add attributes; its cost is overhead."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
            if after is not None:
                t = time.time()
                after(rec, args, kwargs, result)
                self._add_overhead(time.time() - t)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install(self) -> None:
        # run_crawl looks up run_iteration in the crawl_loop module, and
        # run_iteration looks up fused_stage there
        from film_crawler_spark.plans import crawl_loop, supplement
        from film_crawler_spark.sources.tableio import TableIO

        def after_stage(rec, args, kwargs, _):
            io, table, it = args[0], args[2], args[3]
            rec["table"] = table
            rec["files"], rec["bytes"] = _dir_stats(io._tdir(table, it))

        def after_stage_empty(rec, args, kwargs, _):
            rec["table"] = args[2]

        def after_fused(rec, args, kwargs, counts):
            rec["rows"] = int(sum(counts.values()))

        self.patch(TableIO, "stage", "tableio.stage", after=after_stage)
        self.patch(TableIO, "stage_empty", "tableio.stage_empty", after=after_stage_empty)
        for meth in ("commit", "read_log", "read_snapshot"):
            self.patch(TableIO, meth, f"tableio.{meth}")
        self.patch(crawl_loop, "fused_stage", "fused_staging", after=after_fused)
        # run_supplement looks up fetch_drain in the supplement module
        self.patch(supplement, "fetch_drain", "fetch.drain")
        # run_iteration: record the job-id mark BEFORE the call
        orig_iter = crawl_loop.run_iteration

        @functools.wraps(orig_iter)
        def iteration(*args, **kwargs):
            t = time.time()
            mark = self.max_job_id()
            self._add_overhead(time.time() - t)
            with self.span("crawl_loop.run_iteration", iteration=args[3]) as rec:
                summary = orig_iter(*args, **kwargs)
            t = time.time()
            rec["summary"] = summary
            rec["jobs"], rec["tasks"] = self.jobs_and_tasks(mark)
            self._add_overhead(time.time() - t)
            return summary

        crawl_loop.run_iteration = iteration
        self._patches.append((crawl_loop, "run_iteration", orig_iter))

    # -- Spark jobs and tasks (statusTracker, by job ID) ---------------------

    def max_job_id(self) -> int:
        st = self.sc.statusTracker()
        ids = list(st.getJobIdsForGroup(None)) + list(st.getActiveJobsIds())
        return max(ids, default=-1)

    def jobs_and_tasks(self, since: int) -> tuple[int, int]:
        """Jobs with id > ``since`` and the tasks of their distinct stages."""
        st = self.sc.statusTracker()
        last = self.max_job_id()
        stages: set[int] = set()
        for jid in range(since + 1, last + 1):
            info = st.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for sid in stages:
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numCompletedTasks
        return last - since, tasks

    # -- derived metrics -----------------------------------------------------

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id and "end" in s]

    def self_time(self, rec: dict) -> float:
        kids = [(max(c["start"], rec["start"]), min(c["end"], rec["end"]))
                for c in self.children(rec["id"])]
        return (rec["end"] - rec["start"]) - union_length([k for k in kids if k[1] > k[0]])

    def find(self, name: str, window: tuple[float, float] | None = None, **match) -> list[dict]:
        """Finished spans named ``name`` that start inside ``window``."""
        return [s for s in self.spans
                if s["name"] == name and "end" in s
                and (window is None or window[0] <= s["start"] <= window[1])
                and all(s.get(k) == v for k, v in match.items())]

    def total(self, name: str, window: tuple[float, float] | None = None, **match) -> float:
        return sum(s["end"] - s["start"] for s in self.find(name, window, **match))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, default=str)


def event_log_totals(ev_dir: str, start: float, end: float) -> dict:
    """Executor, GC and shuffle totals and the count of failed tasks from
    the Spark event logs in ``ev_dir``, over tasks that finished between
    ``start`` and ``end`` (epoch seconds)."""
    out = {"executor_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "failed_tasks": 0}
    # one directory per application (rolling event logs) or one file
    paths = [os.path.join(d, f) for d, _, fs in os.walk(ev_dir) for f in fs]
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                if not start * 1000.0 <= ev["Task Info"]["Finish Time"] <= end * 1000.0:
                    continue
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    out["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                out["executor_s"] += m.get("Executor Run Time", 0) / 1000.0
                out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                out["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
    return out
