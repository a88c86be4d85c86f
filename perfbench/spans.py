"""Spans around the benchmark's calls into the engine's layers.

A span records name, start, end, parent and operation id; spans nest per
thread. In a traced run each span also runs under its own Spark job group,
so the jobs, stages and tasks it launched can be counted from
``statusTracker``, and the event log (enabled only in the traced run) can be
attributed back to it afterwards. Spans and counts stay in memory until the
run ends.

With tracing off, :meth:`Tracer.span` only yields: the untraced run pays
one context-manager entry per layer call and nothing else.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict


class Span:
    __slots__ = ("sid", "name", "parent", "op", "start", "end", "stats", "df")

    def __init__(self, sid, name, parent, op):
        self.sid, self.name, self.parent, self.op = sid, name, parent, op
        self.start = self.end = 0.0
        self.stats: dict[str, float] = {}
        self.df = None  # a DataFrame whose Catalyst phases the span owns


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()  # per-thread stack of open spans
        self.op: str | None = None
        self.phase = "setup"
        self.cost_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sp = Span(f"s{next(self._ids)}", name, parent.sid if parent else None,
                  self.op or self.phase)
        self.spans.append(sp)
        stack.append(sp)
        sc.setJobGroup(sp.sid, name, interruptOnCancel=False)
        sp.start = time.perf_counter()
        self.cost_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            t0 = time.perf_counter()
            if parent is not None:
                sc.setJobGroup(parent.sid, parent.name, interruptOnCancel=False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            if sp.df is not None:
                sp.stats.update(catalyst_phases(sp.df))
                sp.df = None
            self.cost_s += time.perf_counter() - t0

    # -- after the run -------------------------------------------------

    def status_counts(self) -> None:
        """Jobs, stages, tasks and failed tasks per span, from
        ``statusTracker`` by job group. Read once after the run (the
        session retains every job of a traced run), so the timed loop pays
        nothing for them. A stage skipped because its shuffle output was
        reused reports no tasks."""
        st = self.spark.sparkContext.statusTracker()
        for sp in self.spans:
            jobs = st.getJobIdsForGroup(sp.sid)
            stages = tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info is not None else ():
                    si = st.getStageInfo(s)
                    if si is None or si.numActiveTasks + si.numCompletedTasks + si.numFailedTasks == 0:
                        continue
                    stages += 1
                    tasks += si.numTasks
                    failed += si.numFailedTasks
            sp.stats.update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)

    def attach_event_log(self, log_dir: str) -> None:
        """Fold shuffle, spill, input bytes and executor CPU from Spark's
        JSON event log into each span's own (non-inherited) stats. Call
        after ``spark.stop()``: the log is flushed at context shutdown."""
        per_group = parse_event_log(log_dir)
        for sp in self.spans:
            for k, v in per_group.get(sp.sid, {}).items():
                sp.stats[k] = sp.stats.get(k, 0.0) + v

    def self_times(self) -> dict[str, float]:
        """Span duration minus the union of its children's intervals."""
        kids = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                kids[sp.parent].append((sp.start, sp.end))
        out = {}
        for sp in self.spans:
            covered, last = 0.0, sp.start
            for a, b in sorted(kids.get(sp.sid, [])):
                a, b = max(a, last), min(b, sp.end)
                if b > a:
                    covered += b - a
                    last = b
            out[sp.sid] = (sp.end - sp.start) - covered
        return out

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: median wall ``s`` and ``self_s`` per call, the
        call count, and the median of every recorded stat per call."""
        self_t = self.self_times()
        by_name: dict[str, list[Span]] = defaultdict(list)
        for sp in self.spans:
            by_name[sp.name].append(sp)
        out = {}
        for name, sps in by_name.items():
            # a call made in the timed loop is summarized over the loop's
            # calls only, not its cold set-up calls
            sps = [sp for sp in sps if sp.op.startswith("op")] or sps
            rec = {
                "calls": float(len(sps)),
                "s": statistics.median(sp.end - sp.start for sp in sps),
                "self_s": statistics.median(self_t[sp.sid] for sp in sps),
            }
            keys = {k for sp in sps for k in sp.stats}
            for k in keys:
                rec[k] = statistics.median(sp.stats.get(k, 0.0) for sp in sps)
            out[name] = rec
        return out

    def dump(self, path: str) -> None:
        self_t = self.self_times()
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "id": sp.sid, "name": sp.name, "parent": sp.parent,
                    "op": sp.op, "start": sp.start, "end": sp.end,
                    "self_s": self_t[sp.sid], **sp.stats,
                }) + "\n")


def catalyst_phases(df) -> dict[str, float]:
    """Analysis + optimization + planning seconds from the DataFrame's
    ``QueryExecution`` tracker (only phases that have run are present)."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        total = 0.0
        while it.hasNext():
            kv = it.next()
            total += kv._2().durationMs() / 1000.0
        return {"plan_s": total}
    except Exception:
        return {}


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group from every event log under
    ``log_dir``: ``shuffle_mb`` (read + written), ``spill_mb`` (memory +
    disk), ``input_mb`` and ``exec_cpu_s``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    mb = 1024.0 * 1024.0
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not p.endswith(".crc")
    )
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    rec = out[group]
                    sr = tm.get("Shuffle Read Metrics", {})
                    sw = tm.get("Shuffle Write Metrics", {})
                    rec["shuffle_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    ) / mb
                    rec["spill_mb"] += (
                        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    ) / mb
                    rec["input_mb"] += tm.get("Input Metrics", {}).get("Bytes Read", 0) / mb
                    rec["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    return {g: dict(v) for g, v in out.items()}
