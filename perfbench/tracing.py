"""Traced-run tooling: call spans, Spark event-log parsing, self time.

Spans are recorded by wrapping a layer's public functions from the
benchmark's side (``Tracer.wrap``); nothing in the program changes. Spark's
own counters come from the event log, which a traced session writes when
started with ``eventlog_conf``. Jobs are attributed to layers by the job
group the wrapper sets on the calling Python thread (PySpark's pinned-thread
mode keeps it per thread, so concurrent stages stay apart).
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import shlex
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"

# SQL metrics of the Arrow Python runner, by their names in the event log
PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "arrow_sent_bytes",
    "data returned from Python workers": "arrow_returned_bytes",
}


def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def submit_args(conf: dict[str, str]) -> str:
    """``PYSPARK_SUBMIT_ARGS`` value that applies ``conf`` to any session
    the process starts, including one the program builds itself."""
    return " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    thread: int
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, layer: str, fn, *args, **kwargs):
        stack = self._stack()
        s = Span(
            id=next(self._ids),
            parent=stack[-1].id if stack else None,
            name=name,
            layer=layer,
            thread=threading.get_ident(),
            start=time.perf_counter(),
        )
        stack.append(s)
        try:
            return fn(*args, **kwargs)
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, layer: str, name=None, job_group=None) -> None:
        """Replace ``owner.attr`` with a spanned version of itself.

        ``name(args, kwargs)`` gives the span name (default ``attr``);
        ``job_group(args, kwargs)`` returns ``(spark_context, group)`` to
        tag every Spark job the call submits from this thread."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span_name = name(args, kwargs) if name else attr
            if job_group is None:
                return self.span(span_name, layer, fn, *args, **kwargs)
            sc, group = job_group(args, kwargs)
            previous = sc.getLocalProperty(JOB_GROUP)
            sc.setJobGroup(group, group)
            try:
                return self.span(span_name, layer, fn, *args, **kwargs)
            finally:
                sc.setLocalProperty(JOB_GROUP, previous)

        setattr(owner, attr, wrapper)

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in sorted(self.spans, key=lambda s: s.start)]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict], child_layer: str | None = None) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover
    (only children of ``child_layer``, when given)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and child_layer in (None, s["layer"]):
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children[s["id"]]) for s in spans
    }


def top_level(spans: list[dict], layer: str) -> list[dict]:
    """Spans of ``layer`` not nested inside another span of the same layer,
    so that a layer's time is counted once."""
    by_id = {s["id"]: s for s in spans}

    def nested(s: dict) -> bool:
        p = s["parent"]
        while p is not None:
            if by_id[p]["layer"] == layer:
                return True
            p = by_id[p]["parent"]
        return False

    return [s for s in spans if s["layer"] == layer and not nested(s)]


COUNTERS = (
    "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "memory_spill_bytes", "disk_spill_bytes",
    "peak_exec_mem_bytes", *PY_METRICS.values(),
)


def _new_counters() -> dict[str, float]:
    return dict.fromkeys(COUNTERS, 0.0)


def parse_eventlog(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group over every event log under
    ``log_dir``. Jobs with no group land under ``""``; ``"*"`` is the total.

    Per group: tasks, failed_tasks, run_s, cpu_s, gc_s, shuffle_read_bytes,
    shuffle_write_bytes, memory_spill_bytes, disk_spill_bytes,
    peak_exec_mem_bytes (max) and the Python-worker metrics of PY_METRICS.
    """
    out: dict[str, dict[str, float]] = defaultdict(_new_counters)
    files = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
        + glob.glob(os.path.join(log_dir, "local-*"))
    )
    for path in files:
        stage_group: dict[int, str] = {}
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(JOB_GROUP) or ""
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"], "")
                    for g in (group, "*"):
                        _add_task(out[g], ev)
    return dict(out)


def _add_task(c: dict[str, float], ev: dict) -> None:
    info = ev["Task Info"]
    c["tasks"] += 1
    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
        c["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    if m:
        c["run_s"] += m["Executor Run Time"] / 1e3
        c["cpu_s"] += m["Executor CPU Time"] / 1e9
        c["gc_s"] += m["JVM GC Time"] / 1e3
        rd = m["Shuffle Read Metrics"]
        c["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
        c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        c["memory_spill_bytes"] += m["Memory Bytes Spilled"]
        c["disk_spill_bytes"] += m["Disk Bytes Spilled"]
        c["peak_exec_mem_bytes"] = max(
            c["peak_exec_mem_bytes"], m["Peak Execution Memory"]
        )
    for acc in info.get("Accumulables", []):
        key = PY_METRICS.get(acc.get("Name"))
        if key is not None and acc.get("Update") is not None:
            c[key] += float(acc["Update"])
