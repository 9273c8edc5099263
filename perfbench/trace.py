"""Tracing for the traced run: spans around the public calls into each
layer, recorded from outside the package, plus the Spark event log.

A span is (name, start, end, parent, batch id). Spans stay in memory
and are written out once, at the end. A layer's self time is its
duration minus the part its child spans cover.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, event_log_dir: str):
        self.event_log_dir = event_log_dir
        self.spans: list[dict] = []
        #: batch id -> documents handed to the doc table's merge
        self.written: dict[int, int] = defaultdict(int)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans --------------------------------------------------------------
    def span(self, name: str, batch: int | None = None):
        return _Span(self, name, batch)

    def wrap(self, obj, method: str, name: str, batch_arg: int | None = None):
        """Replace ``obj.method`` on this instance by a traced call."""
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            batch = args[batch_arg] if batch_arg is not None else None
            with self.span(name, batch):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    def instrument_job(self, job) -> None:
        """Trace the pipeline and sink calls a ``StreamingUpsertJob`` makes.
        ``merge`` inputs are persisted by the job, so counting them costs
        one cheap job per merge; it is done only here, in the traced run."""
        self.wrap(job, "process_batch", "pipeline.process_batch", batch_arg=1)
        self.wrap(job.hash_table, "needs_update", "upsert.needs_update")
        self.wrap(job.hash_table, "record", "upsert.hash_record")
        merge = job.doc_table.merge

        @functools.wraps(merge)
        def counted_merge(batch, *args, **kwargs):
            with self.span("trace.count_written") as rec:
                self.written[rec["batch"]] += batch.count()
            with self.span("upsert.doc_merge"):
                return merge(batch, *args, **kwargs)

        job.doc_table.merge = counted_merge

    def times(self, batches=None) -> dict[str, list[tuple[float, float]]]:
        """Per span name, (duration, self time) of each span, optionally
        only the spans of the given batch ids."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if batches is None or s["batch"] in batches:
                dur = s["end"] - s["start"]
                out[s["name"]].append((dur, dur - child_time[s["id"]]))
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "written": dict(self.written)}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, batch):
        self.tracer = tracer
        self.name = name
        self.batch = batch

    def __enter__(self):
        t = self.tracer
        stack = getattr(t._local, "stack", None)
        if stack is None:
            stack = t._local.stack = []
        parent = stack[-1] if stack else None
        if self.batch is None and parent is not None:
            self.batch = parent["batch"]
        with t._lock:
            self.rec = {"id": len(t.spans), "name": self.name,
                        "parent": parent["id"] if parent else None,
                        "batch": self.batch, "start": time.time(),
                        "end": None}
            t.spans.append(self.rec)
        stack.append(self.rec)
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.time()
        self.tracer._local.stack.pop()


# -- Spark event log ---------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Events of the first application logged under ``log_dir``. Read it
    after the SparkContext has stopped: the writer buffers."""
    apps = sorted(os.listdir(log_dir))
    if not apps:
        return []
    path = os.path.join(log_dir, apps[0])
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))
              if f.startswith("events_")]
             if os.path.isdir(path) else [path])
    events = []
    for fp in files:
        with open(fp) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


def job_stats(events: list[dict]) -> dict:
    """Per Spark job: start/end (s), batch id (``streaming.sql.batchId``),
    job group, and the run time, GC time, shuffle bytes and output bytes
    of its stages' tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            batch = props.get("streaming.sql.batchId")
            jobs[jid] = {"start": e["Submission Time"] / 1000.0, "end": None,
                         "batch": int(batch) if batch is not None else None,
                         "group": props.get("spark.jobGroup.id"),
                         "run_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
                         "output_bytes": 0}
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e.get("Stage ID"))
            m = e.get("Task Metrics") or {}
            if jid is None or jid not in jobs or not m:
                continue
            j = jobs[jid]
            j["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            j["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            j["output_bytes"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
    return jobs


def active_time(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] is not None):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
