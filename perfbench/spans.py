"""Spans recorded by the benchmark around its calls into the engine,
joined with Spark's own executor counters from the event log.

A span is (id, name, parent, start, end, run) plus free attributes.
Spans live in memory and are written out once, when the run ends.
Each span opens a Spark job group ``span-<id>`` on the calling thread;
jobs submitted from other threads (``storage.write_round`` writes
tables from a small thread pool, and job groups do not cross threads)
fall back to the innermost span whose interval holds the job's
submission time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import time
from collections import defaultdict

GROUP_PREFIX = "span-"


class Tracer:
    """Span recorder.  Disabled, ``span`` records nothing (untraced runs
    measure the end-to-end metrics); with ``sc=None`` it records spans
    but sets no job groups (unit tests build span trees without Spark)."""

    def __init__(self, run_id: str, sc=None, enabled: bool = True):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {"id": None}
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])


def wall(span: dict) -> float:
    return span["end"] - span["start"]


def children(spans: list[dict], sid: int) -> list[dict]:
    return [s for s in spans if s["parent"] == sid]


def self_time(spans: list[dict], sid: int) -> float:
    """Wall of span *sid* minus the part of it that its children cover
    (children may overlap each other; the covered length is their union)."""
    span = spans[sid]
    ivs = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                 for c in children(spans, sid))
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return wall(span) - covered


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

EVENTLOG_CONF = {
    # Spark 4 writes compressed (zstd) rolling logs by default; the
    # benchmark asks for one plain JSON-lines file it can read directly
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_TABLE_RE = re.compile(r"/round=(\d+)/_tmp/([A-Za-z0-9_]+)")


def read_event_log(log_dir: str) -> list[dict]:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    path = files[0]
    if re.search(r"\.(zstd|lz4|snappy|lzf)(\.inprogress)?$", path):
        raise RuntimeError(f"compressed event log {path}: the session must set {EVENTLOG_CONF}")
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


class JobCounters:
    """Per-job executor counters folded out of event-log records."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        exec_table: dict[int, str] = {}
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                self.jobs[jid] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "group": props.get("spark.jobGroup.id"),
                    "sql_id": props.get("spark.sql.execution.id"),
                    "tasks": 0, "failed_tasks": 0, "exec_run_s": 0.0,
                    "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                }
                for st in ev.get("Stage IDs", []):
                    stage_job[st] = jid
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                m = _TABLE_RE.search(ev.get("physicalPlanDescription") or "")
                if m:
                    exec_table[ev["executionId"]] = m.group(2)
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                j = self.jobs[jid]
                j["tasks"] += 1
                info = ev.get("Task Info") or {}
                if info.get("Failed") or info.get("Killed"):
                    j["failed_tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                j["exec_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                sw = tm.get("Shuffle Write Metrics") or {}
                j["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                j["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                                  + tm.get("Disk Bytes Spilled", 0)) / 2**20
        for j in self.jobs.values():
            sid = j["sql_id"]
            j["table"] = exec_table.get(int(sid)) if sid is not None else None

    def assign(self, spans: list[dict]) -> dict[int, list[dict]]:
        """Span id → jobs it submitted (by job group, else by time)."""
        out: dict[int, list[dict]] = defaultdict(list)
        by_id = {s["id"]: s for s in spans}
        for j in self.jobs.values():
            g = j["group"] or ""
            sid = int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else None
            # the innermost span holding the submission time, within the
            # job group's span when there is one: spans added afterwards
            # (crawl rounds) subdivide the span whose group was set
            within = subtree(spans, sid) if sid in by_id else None
            inner = _innermost(spans, j["submit"], within)
            sid = sid if inner is None else inner
            if sid is not None:
                out[sid].append(j)
        return out


def _innermost(spans: list[dict], t: float, within=None) -> int | None:
    best, depth = None, -1
    for s in spans:
        if within is not None and s["id"] not in within:
            continue
        if s["end"] is not None and s["start"] <= t <= s["end"]:
            d, p = 0, s["parent"]
            while p is not None:
                d, p = d + 1, spans[p]["parent"]
            if d > depth:
                best, depth = s["id"], d
    return best


def subtree(spans: list[dict], sid: int) -> list[int]:
    ids, todo = [], [sid]
    while todo:
        x = todo.pop()
        ids.append(x)
        todo += [c["id"] for c in children(spans, x)]
    return ids


def counters(spans: list[dict], jobs_by_span: dict[int, list[dict]], sid: int,
             cores: int) -> dict[str, float]:
    """Spark counters of span *sid* and everything under it."""
    jobs = [j for x in subtree(spans, sid) for j in jobs_by_span.get(x, [])]
    run_s = sum(j["exec_run_s"] for j in jobs)
    w = wall(spans[sid])
    return {
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "exec_run_s": run_s,
        "busy_frac": run_s / (w * cores) if w > 0 else 0.0,
        "shuffle_write_mb": sum(j["shuffle_write_mb"] for j in jobs),
        "spill_mb": sum(j["spill_mb"] for j in jobs),
        "failed_tasks": sum(j["failed_tasks"] for j in jobs),
    }
