"""Spans around the benchmark's calls into the package, and the offline
join of Spark stage metrics to those spans.

A span is ``(name, start, end, parent, run, rep)``; spans stay in memory
and are written out when the run ends.  With tracing on, each top-level
span also sets the Spark job group to ``<span>#<rep>``, and
:func:`stage_metrics` reads the session's event log after the session
stops and sums task metrics per job group.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc  # set only when tracing is on
        self.rep = "setup"
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent["name"] if parent else None,
               "run": self.run_id, "rep": self.rep, "start": time.perf_counter()}
        if self.sc is not None and parent is None:
            self.sc.setJobGroup(f"{name}#{self.rep}", name)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)
            if self.sc is not None and parent is None:
                self.sc.setJobGroup(f"bench#{self.rep}", "bench")

    def durations(self, rep, top_level: bool = False) -> dict[str, float]:
        """Summed span seconds by name for one rep."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["rep"] == rep and (not top_level or s["parent"] is None):
                out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans]
        with open(path, "w") as f:
            json.dump(dict(extra, spans=spans), f, indent=1)


def _event_lines(log_dir: str):
    """Events of every log under ``log_dir`` (Spark 4 writes rolling logs
    as ``eventlog_v2_<app>/events_<n>_<app>``)."""
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


class _FunctionIndex:
    """Resolves a ``file.py:line`` call site to its enclosing function, so
    Spark jobs started inside a package call can be named by the package
    function that ran them."""

    def __init__(self):
        self._cache: dict[str, list[tuple[int, int, str]]] = {}

    def name(self, callsite: str) -> str:
        loc = callsite.rsplit(" at ", 1)[-1]
        path, _, line = loc.rpartition(":")
        if not line.isdigit():
            return loc
        if path not in self._cache:
            try:
                with open(path) as f:
                    tree = ast.parse(f.read())
                self._cache[path] = [
                    (n.lineno, n.end_lineno, n.name) for n in ast.walk(tree)
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                ]
            except OSError:
                self._cache[path] = []
        ln = int(line)
        inner = [(a, b, n) for a, b, n in self._cache[path] if a <= ln <= b]
        fn = max(inner)[2] if inner else "<module>"
        return f"{os.path.basename(path)}:{fn}"


def stage_metrics(log_dir: str) -> tuple[dict, dict]:
    """Returns ``(by_group, jobs)``.

    ``by_group[group]`` holds summed task metrics of every stage first
    submitted by a job of that job group, plus ``heaviest_stage_task_s``
    and ``task_skew`` (max / median task time) of the group's heaviest
    stage.  ``jobs`` lists ``(group, call-site function, job seconds)``.
    """
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_site: dict[int, str] = {}
    job_start: dict[int, float] = {}
    jobs: list[tuple[str, str, float]] = []
    tasks: dict[int, list[dict]] = defaultdict(list)
    index = _FunctionIndex()
    for ev in _event_lines(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or "bench#setup"
            job_group[jid] = group
            job_start[jid] = ev.get("Submission Time", 0) / 1000.0
            infos = ev.get("Stage Infos") or []
            site = props.get("callSite.short") or (infos[-1]["Stage Name"] if infos else "")
            job_site[jid] = index.name(site)
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                jobs.append((job_group[jid], job_site[jid],
                             ev.get("Completion Time", 0) / 1000.0 - job_start[jid]))
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            tasks[ev["Stage ID"]].append({
                "dur": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                "task_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_read_bytes": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                "shuffle_write_bytes": wr.get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Disk Bytes Spilled", 0),
                "failed_tasks": int(bool(info.get("Failed")) or bool(info.get("Killed"))),
            })
    by_group: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    heaviest: dict[str, tuple[float, float]] = {}
    for sid, ts in tasks.items():
        g = by_group[stage_group.get(sid, "bench#setup")]
        for t in ts:
            for k, v in t.items():
                if k != "dur":
                    g[k] += v
        g["stages"] += 1
        total = sum(t["task_s"] for t in ts)
        durs = [t["dur"] for t in ts]
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
        grp = stage_group.get(sid, "bench#setup")
        if total >= heaviest.get(grp, (-1.0, 0.0))[0]:
            heaviest[grp] = (total, skew)
    for grp, (_, skew) in heaviest.items():
        by_group[grp]["heaviest_stage_task_s"] = heaviest[grp][0]
        by_group[grp]["task_skew"] = skew
    return {k: dict(v) for k, v in by_group.items()}, jobs
