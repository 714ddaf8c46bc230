"""Spans around the engine's public entry points, for the traced run only.

A span is (name, start, end, parent). Wrappers are installed on the
engine's classes at run time and removed afterwards; nothing in the engine
changes. Each span also sets a Spark job group (``span-<id>``) on the
calling thread, so the Spark event log, parsed after the session stops,
attributes every job, task and shuffle byte to the span that caused it.

Lazy calls (``decode_events``, ``dedupe_lww``, ``read``, ``lookup``,
``changes``) return DataFrames without doing work, so the workloads time
them around the action that forces them, never around the call itself.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

# (module path, class name, method, span name): the engine's public entry
# points on the blocking path of the CDC workloads
ENTRY_POINTS = [
    ("ore_etl_spark.pipeline.apply", "CdcApplyPipeline", "run_batch",
     "apply.batch"),
    ("ore_etl_spark.pipeline.apply", "CdcApplyPipeline", "delivery_range",
     "apply.head_scan"),
    ("ore_etl_spark.tables.merge_table", "MergeTable", "merge", "merge.cow"),
    ("ore_etl_spark.tables.merge_table", "MergeTable", "merge_mor",
     "merge.mor"),
    ("ore_etl_spark.tables.merge_table", "MergeTable", "compact",
     "merge.compact"),
    ("ore_etl_spark.pipeline.incremental_view", "IncrementalAggView",
     "refresh", "view.refresh"),
    ("ore_etl_spark.state.stores", "CheckpointStore", "set",
     "state.checkpoint"),
    ("ore_etl_spark.state.stores", "CheckpointStore", "set_many",
     "state.checkpoint"),
    ("ore_etl_spark.state.stores", "MetricsLog", "append",
     "state.metrics_append"),
]

# spans whose Spark jobs are summarised (jobs, tasks, shuffle, skew, busy)
JOB_SPANS = ["apply.batch", "merge.cow", "merge.mor", "merge.compact",
             "view.refresh"]
JOB_FIELDS = ["jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
              "task_skew", "busy_share"]


class Tracer:
    """In-memory span recorder. Disabled tracers cost one attribute test
    per ``span`` and install no wrappers."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._patches: list[tuple] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, sid: int | None, name: str = "") -> None:
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"span-{sid}", name, False)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent,
                   "start": 0.0, "end": None}
            self.spans.append(rec)
        self._set_group(sid, name)
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if parent is None:
                self._set_group(None)
            else:
                self._set_group(parent, self.spans[parent]["name"])
            spent = (rec["start"] - t_in) + (time.perf_counter() - rec["end"])
            with self._lock:
                self.overhead_s += spent

    def install(self) -> None:
        """Wrap every entry point in ENTRY_POINTS (traced runs only)."""
        if not self.enabled:
            return
        import importlib

        for mod_name, cls_name, attr, span_name in ENTRY_POINTS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            orig = cls.__dict__[attr]
            self._patches.append((cls, attr, orig))
            setattr(cls, attr, self._wrapped(orig, span_name))

    def _wrapped(self, fn, span_name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name) as rec:
                out = fn(*args, **kwargs)
                rec["result"] = _result_counts(out)
                return out

        return wrapper

    def uninstall(self) -> None:
        for cls, attr, orig in reversed(self._patches):
            setattr(cls, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ queries
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def dur(self, s: dict) -> float:
        return s["end"] - s["start"]

    def children(self, s: dict) -> list[dict]:
        return [c for c in self.spans if c["parent"] == s["id"] and c["end"]]

    def has_ancestor(self, s: dict, name: str) -> bool:
        p = s["parent"]
        while p is not None:
            if self.spans[p]["name"] == name:
                return True
            p = self.spans[p]["parent"]
        return False

    def self_time(self, s: dict) -> float:
        """Duration minus the part of it that direct children cover
        (children on one thread never overlap each other)."""
        return self.dur(s) - sum(self.dur(c) for c in self.children(s))

    def mean_s(self, name: str, under: str | None = None) -> float:
        ss = [s for s in self.named(name)
              if under is None or self.has_ancestor(s, under)]
        return sum(self.dur(s) for s in ss) / len(ss) if ss else 0.0

    def descendants(self, s: dict) -> set[int]:
        out = {s["id"]}
        for c in self.spans:
            p = c["parent"]
            while p is not None:
                if p in out:
                    out.add(c["id"])
                    break
                p = self.spans[p]["parent"]
        return out


def _result_counts(out) -> dict | None:
    """Row counters from a MergeMetrics return value, when there is one."""
    fields = ("n_inserted", "n_updated", "n_stale_ignored", "n_deleted",
              "n_buckets_touched")
    if all(hasattr(out, f) for f in fields):
        return {f: int(getattr(out, f) or 0) for f in fields}
    return None


# ------------------------------------------------------------ event log
def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job count and the tasks of the stages its jobs ran.

    Returns {group_id: {"jobs": n, "tasks": [task dicts]}}; a task dict
    has its stage, run_s (executor run time) and the shuffle bytes it
    wrote and read."""
    files = sorted(
        os.path.join(d, f) for d, _, names in os.walk(log_dir)
        for f in names if not f.startswith(("appstatus", ".")))
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not gid:
                        continue
                    g = groups.setdefault(gid, {"jobs": 0, "tasks": []})
                    g["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    if gid is None:
                        continue
                    info = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    groups[gid]["tasks"].append({
                        "stage": ev.get("Stage ID"),
                        "run_s": (tm.get("Executor Run Time") or 0) / 1000.0,
                        "write": sw.get("Shuffle Bytes Written") or 0,
                        "read": (sr.get("Remote Bytes Read") or 0)
                        + (sr.get("Local Bytes Read") or 0),
                    })
    return groups


def job_metrics(tracer: Tracer, groups: dict[str, dict], cores: int) -> dict:
    """``<span>.jobs/.tasks/.shuffle_*_bytes/.task_skew/.busy_share`` for
    each span name in JOB_SPANS, inclusive of child spans' jobs.

    task_skew: sum over stages of the slowest task / sum of the median
    task (1.0 = perfectly even). busy_share: task run time over
    span wall x cores (how much of the machine the span kept busy)."""
    import statistics

    out = {}
    for name in JOB_SPANS:
        spans = tracer.named(name)
        ids: set[int] = set()
        for s in spans:
            ids |= tracer.descendants(s)
        jobs = 0
        tasks: list[dict] = []
        for sid in ids:
            g = groups.get(f"span-{sid}")
            if g:
                jobs += g["jobs"]
                tasks += g["tasks"]
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["run_s"])
        mx = sum(max(v) for v in by_stage.values())
        md = sum(statistics.median(v) for v in by_stage.values())
        wall = sum(tracer.dur(s) for s in spans)
        run = sum(t["run_s"] for t in tasks)
        out[f"{name}.jobs"] = (jobs, "count")
        out[f"{name}.tasks"] = (len(tasks), "count")
        out[f"{name}.shuffle_write_bytes"] = (
            sum(t["write"] for t in tasks), "bytes")
        out[f"{name}.shuffle_read_bytes"] = (
            sum(t["read"] for t in tasks), "bytes")
        out[f"{name}.task_skew"] = (mx / md if md > 0 else 0.0, "ratio")
        out[f"{name}.busy_share"] = (
            run / (wall * cores) if wall > 0 else 0.0, "share")
    return out
