"""Tracing for the per-layer run, kept entirely in the benchmark's files.

- ``Tracer`` records spans (name, start, end, parent span, op id) in
  memory and writes them as JSONL when the run ends. ``Tracer.patch``
  wraps a package function in a span for the length of a ``with`` block
  and restores it afterwards; the package itself is never edited.
- ``spark_jobs`` reads every job and stage of the live application from
  Spark's monitoring REST API, so job, task, task-time, shuffle and GC
  counts can be attributed to the op (query or micro-batch) that ran them.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = 0
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None):
        b0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self._ids += 1
            rec = {"id": self._ids, "name": name, "parent": parent["id"] if parent else None,
                   "op": op or (parent["op"] if parent else None)}
        stack.append(rec)
        rec["start"] = time.time()
        b1 = time.perf_counter()
        try:
            yield rec
        finally:
            b2 = time.perf_counter()
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
                self.bookkeeping_s += (b1 - b0) + (time.perf_counter() - b2)

    @contextmanager
    def patch(self, module, attr: str, name: str, op_arg: int | None = None,
              op_prefix: str = ""):
        """Replace ``module.attr`` by a wrapper that opens span ``name``;
        ``op_arg`` names the positional argument holding the batch id."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            op = f"{op_prefix}{args[op_arg]}" if op_arg is not None else None
            with self.span(name, op):
                return original(*args, **kwargs)

        setattr(module, attr, wrapper)
        try:
            yield
        finally:
            setattr(module, attr, original)

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans if s["name"] == name]

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def _epoch_s(stamp: str) -> float:
    """Spark REST stamps end in 'GMT', progress stamps in 'Z'; both UTC."""
    core = stamp.replace("GMT", "").replace("Z", "")
    return datetime.strptime(core, "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def progress_start_s(progress: dict) -> float:
    return _epoch_s(progress["timestamp"])


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as r:
        return json.load(r)


def spark_jobs(spark) -> list[dict]:
    """Every finished job of the live app with its stages' totals:
    ``{"group", "submitted" (epoch s), "tasks", "task_s", "gc_s",
    "shuffle_bytes", "output_bytes"}``. Waits until the status store has
    caught up with the listener bus (no job still running, two equal
    reads in a row)."""
    sc = spark.sparkContext
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    last = None
    for _ in range(20):
        jobs = _get(base, "/jobs")
        if last is not None and len(jobs) == len(last) and \
                not any(j["status"] == "RUNNING" for j in jobs):
            break
        last = jobs
        time.sleep(0.25)
    stages = {}
    for s in _get(base, "/stages"):
        if s["status"] in ("COMPLETE", "FAILED"):
            agg = stages.setdefault(s["stageId"], {"tasks": 0, "task_s": 0.0, "gc_s": 0.0,
                                                   "shuffle_bytes": 0, "output_bytes": 0})
            agg["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
            agg["task_s"] += s["executorRunTime"] / 1000.0
            agg["gc_s"] += s.get("jvmGcTime", 0) / 1000.0
            agg["shuffle_bytes"] += s["shuffleReadBytes"] + s["shuffleWriteBytes"]
            agg["output_bytes"] += s["outputBytes"]
    out = []
    seen: set[int] = set()  # a reused shuffle stage is listed by every job after the first
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        rec = {"group": j.get("jobGroup"), "submitted": _epoch_s(j["submissionTime"]),
               "tasks": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "output_bytes": 0}
        for sid in j["stageIds"]:
            if sid in seen:
                continue
            seen.add(sid)
            for k, v in stages.get(sid, {}).items():
                rec[k] += v
        out.append(rec)
    return out
