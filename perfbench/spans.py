"""Spans around calls into the engine's layers, and Spark costs per span.

A ``Tracer`` keeps spans (name, start, end, parent, thread) in memory and
writes them out when the run ends. ``Tracer.wrap`` replaces a public
function of a layer module with a timing wrapper, so the benchmark's own
files time the real code path without copying it. With ``eager=True`` a
wrapper that returns a DataFrame materialises it inside its span
(``localCheckpoint(eager=True)``): a lazy plan otherwise runs inside
whichever later action forces it, and that layer's busy time would be
charged to the layer below.

Spark jobs, stages, shuffle bytes, executor run time and GC time come from
Spark's local JSON event log (``spark.eventLog.compress=false``; it works
with the UI off). Each span tags the jobs its thread submits with
``SparkContext.addJobTag``. Tags are thread-local, so jobs submitted from a
thread the span did not run on (engine-internal thread pools, the
streaming query's own thread) arrive untagged; those are charged to the
innermost span open at the job's submission time, and the count of jobs
so attributed is reported as ``window_attributed_jobs``.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.eager = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1]["id"] if stack else None,
                "thread": threading.current_thread().name,
                "start": time.time(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
        tag = f"pbspan-{sid}"
        sc = self.spark.sparkContext
        sc.addJobTag(tag)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            sc.removeJobTag(tag)

    def wrap(self, owner, attr: str, name: str, post=None) -> None:
        """Replace ``owner.attr`` with a spanned version. Every module of
        the engine that bound the same function object by import gets the
        wrapper too, so call sites resolved at import time are covered.
        ``post(rec, args, kwargs, out)`` runs after the span has closed,
        to record counts without charging their jobs to the layer's time."""
        import sys

        from pyspark.sql import DataFrame

        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if tracer.eager and isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
            if post is not None:
                post(rec, args, kwargs, out)
            return out

        targets = [(owner, attr)]
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("python_cdc_spark") and mod is not owner:
                if getattr(mod, attr, None) is orig:
                    targets.append((mod, attr))
        for obj, a in targets:
            self._patched.append((obj, a, orig))
            setattr(obj, a, wrapper)

    def unwrap_all(self) -> None:
        for obj, a, orig in reversed(self._patched):
            setattr(obj, a, orig)
        self._patched.clear()

    # -- Spark costs ----------------------------------------------------------

    def attribute(self, event_log_dir: str) -> dict:
        """Charge every job in the event log to a span; return totals
        ``{"spans": {id: costs}, "total": costs, "window_attributed_jobs": n}``."""
        jobs, stage_job, stages_done, task_costs = _read_event_log(event_log_dir)
        by_id = {s["id"]: s for s in self.spans}
        depth = {}
        for s in self.spans:
            d, p = 0, s["parent"]
            while p is not None:
                d, p = d + 1, by_id[p]["parent"]
            depth[s["id"]] = d
        per_span: dict[int, dict] = {}
        total = zero_costs()
        windowed = 0
        job_span: dict[int, int | None] = {}
        for job_id, job in jobs.items():
            tagged = [
                int(t[len("pbspan-"):]) for t in job["tags"] if t.startswith("pbspan-")
            ]
            tagged = [t for t in tagged if t in by_id]
            if tagged:
                sid = max(tagged, key=lambda t: depth[t])
            else:
                t_sub = job["submitted"] / 1000.0
                open_ = [
                    s for s in self.spans
                    if s["end"] is not None and s["start"] <= t_sub <= s["end"]
                    and not s.get("own_thread_only")
                ]
                sid = max(open_, key=lambda s: depth[s["id"]])["id"] if open_ else None
                if sid is not None:
                    windowed += 1
            job_span[job_id] = sid
        for job_id, sid in job_span.items():
            c = zero_costs()
            c["jobs"] = 1
            for st in jobs[job_id]["stages"]:
                if st in stages_done and stage_job.get(st) == job_id:
                    c["stages"] += 1
                    for k, v in task_costs.get(st, {}).items():
                        c[k] += v
            add_costs(total, c)
            if sid is not None:
                add_costs(per_span.setdefault(sid, zero_costs()), c)
        return {"spans": per_span, "total": total, "window_attributed_jobs": windowed}

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1, default=str)


def zero_costs() -> dict:
    return {"jobs": 0, "stages": 0, "shuffle_write_bytes": 0,
            "executor_run_s": 0.0, "gc_s": 0.0}


def add_costs(acc: dict, c: dict) -> None:
    for k, v in c.items():
        acc[k] += v


def _read_event_log(event_log_dir: str):
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_done: set[int] = set()
    task_costs: dict[int, dict] = {}
    paths = [
        os.path.join(d, f)
        for d, _, files in os.walk(event_log_dir)
        for f in files
        if f.startswith(("events_", "local-"))  # rolling and single-file logs
    ]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tags = props.get("spark.job.tags") or ""
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "submitted": ev.get("Submission Time", 0),
                        "stages": ev.get("Stage IDs", []),
                        "tags": [t for t in tags.split(",") if t],
                    }
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, jid)
                elif kind == "SparkListenerStageCompleted":
                    stages_done.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    c = task_costs.setdefault(
                        ev["Stage ID"],
                        {"shuffle_write_bytes": 0, "executor_run_s": 0.0, "gc_s": 0.0},
                    )
                    c["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    return jobs, stage_job, stages_done, task_costs
