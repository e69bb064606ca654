"""Spans around the calls the benchmark makes into each layer, plus the
Spark event log, reduced to per-round and per-layer numbers.

Spans are recorded from the benchmark's own files by wrapping public
functions of the package at run time; nothing in the package changes.
Spans stay in memory and are reduced once the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time


class Tracer:
    def __init__(self):
        self.spans: list = []        # (name, round, start, end)
        self.counts: dict = {}       # (key, round) -> total
        self.round = -1              # round of the step in flight
        self._undo: list = []

    def add(self, key: str, n: float = 1):
        k = (key, self.round)
        self.counts[k] = self.counts.get(k, 0) + n

    def span(self, name: str, start: float, end: float):
        self.spans.append((name, self.round, start, end))

    def _patch(self, owner, attr: str, wrapper):
        orig = owner.__dict__[attr]
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def _timed(self, name: str, fn, after=None):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            t0 = time.time()
            out = fn(*a, **kw)
            self.span(name, t0, time.time())
            if after is not None:
                after(out, *a, **kw)
            return out
        return wrapper

    def install(self):
        """Wrap the layer boundaries: Table reads and writes, the
        steward's lifecycle decisions and the engine's entry points."""
        from disco_crawl_spark import engine, lifecycle, tables

        T = tables.Table
        self._patch(T, "append", self._timed(
            "tables.append", T.append, self._after_append))
        self._patch(T, "commit_state", self._timed(
            "tables.commit_state", T.commit_state, self._after_state))
        for m in ("read", "history", "rollback"):
            self._patch(T, m, self._timed(f"tables.{m}", getattr(T, m)))
        for f in ("pick_domains", "start_decision"):
            self._patch(lifecycle, f,
                        self._timed(f"lifecycle.{f}", getattr(lifecycle, f)))

        E = engine.CrawlEngine
        self._patch(E, "__init__", self._timed("engine.init", E.__init__))
        step = E.step

        @functools.wraps(step)
        def traced_step(eng):
            self.round = eng.round_no
            t0 = time.time()
            try:
                return step(eng)
            finally:
                self.span("engine.step", t0, time.time())
                self.round = -1
        self._patch(E, "step", traced_step)
        resume = E.__dict__["resume"].__func__
        self._patch(E, "resume", classmethod(
            self._timed("engine.resume", resume)))

    def uninstall(self):
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _after_append(self, out, table, *a, **kw):
        _, data_dir = out
        files = [f for f in glob.glob(os.path.join(data_dir, "*"))
                 if not os.path.basename(f).startswith((".", "_"))]
        self.add("tables.append_calls")
        self.add("tables.files_written", len(files))
        self.add("tables.bytes_written", sum(os.path.getsize(f)
                                             for f in files))

    def _after_state(self, out, table, round_no, state, *a, **kw):
        self.add("tables.state_bytes",
                 len(json.dumps(state, default=str).encode()))

    # -- reductions ------------------------------------------------------
    def steps(self) -> list:
        """(round, start, end) of every engine.step span, in order."""
        return [(r, s, e) for n, r, s, e in self.spans if n == "engine.step"]


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from the event log of the run's only
    application, with wall-clock millisecond times as seconds."""
    jobs, stages, tasks = {}, [], []
    paths = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    stages.append(
                        ev["Stage Info"].get("Submission Time", 0) / 1e3)
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    wall = (ti["Finish Time"] - ti["Launch Time"]) / 1e3
                    busy = (tm.get("Executor Run Time", 0)
                            + tm.get("Executor Deserialize Time", 0)
                            + tm.get("Result Serialization Time", 0)) / 1e3
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "t": ti["Launch Time"] / 1e3,
                        "delay": max(0.0, wall - busy),
                        "cpu": tm.get("Executor CPU Time", 0) / 1e9,
                        "gc": tm.get("JVM GC Time", 0) / 1e3,
                        "spill": (tm.get("Memory Bytes Spilled", 0)
                                  + tm.get("Disk Bytes Spilled", 0)),
                        "shuffle": sw.get("Shuffle Bytes Written", 0),
                    })
    return {"jobs": [tuple(v) for v in jobs.values() if v[1] is not None],
            "stages": stages, "tasks": tasks}


def _covered(start: float, end: float, intervals: list) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if e > start and s < end)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_round(steps: list, log: dict) -> list:
    """Spark work attributed to each step by time interval: the engine's
    commit threads do not inherit job groups, so a job, stage or task
    belongs to the round whose step was running when it started."""
    out = []
    for _, s, e in steps:
        inside = lambda t: s <= t <= e  # noqa: E731
        jobs = [j for j in log["jobs"] if inside(j[0])]
        tasks = [t for t in log["tasks"] if inside(t["t"])]
        out.append({
            "jobs": len(jobs),
            "stages": sum(1 for t in log["stages"] if inside(t)),
            "tasks": len(tasks),
            "sched_delay": sum(t["delay"] for t in tasks),
            "driver": (e - s) - _covered(s, e, jobs),
            "cpu": sum(t["cpu"] for t in tasks),
            "gc": sum(t["gc"] for t in tasks),
            "spill": sum(t["spill"] for t in tasks),
            "shuffle": sum(t["shuffle"] for t in tasks),
        })
    return out


def mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0
