"""Spans around library calls, and the per-layer ledger built from them.

A span brackets one call from the benchmark into a library layer. Every
run records spans (a ``perf_counter`` pair per call is far below the
noise of a Spark job), because the end-to-end metrics are sums of them:
``build`` spans make ``build_docs_per_s``, ``query`` spans make
``query_s``. Only a traced run also tags each span's Spark jobs with a
job description, so that the event log can be attributed per span.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from contextlib import contextmanager
from time import perf_counter

JOB_TAG = "perfbench:"

# event-log task metric -> ledger counter; run time and GC are in ms,
# CPU time is in ns
_TASK_METRICS = {
    "executor_run_s": (("Executor Run Time",), 1e-3),
    "executor_cpu_s": (("Executor CPU Time",), 1e-9),
    "gc_s": (("JVM GC Time",), 1e-3),
    "input_bytes": (("Input Metrics", "Bytes Read"), 1),
    "shuffle_write_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    "shuffle_write_records": (("Shuffle Write Metrics",
                               "Shuffle Records Written"), 1),
    "shuffle_read_bytes_local": (("Shuffle Read Metrics", "Local Bytes Read"), 1),
    "shuffle_read_bytes_remote": (("Shuffle Read Metrics", "Remote Bytes Read"), 1),
}
# SQL metrics of the Python-UDF boundary, reported per task as accumulables
_PY_ACCUMS = {"data sent to Python workers": "python_bytes_sent",
              "data returned from Python workers": "python_bytes_returned"}

SPARK_COUNTERS = ("jobs", "tasks", "tasks_failed", "executor_run_s",
                  "executor_cpu_s", "gc_s", "input_bytes",
                  "shuffle_write_bytes", "shuffle_read_bytes",
                  "python_bytes_sent", "python_bytes_returned")


class Recorder:
    """Records spans: name, layer, kind, start, end, parent, workload and
    pass. ``kind`` is ``"build"``, ``"query"`` or None, and says which
    end-to-end sum a call belongs to."""

    def __init__(self, sc, workload: str, tag_jobs: bool):
        self._sc = sc
        self.workload = workload
        self.tag_jobs = tag_jobs
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_no: int | None = None

    @contextmanager
    def span(self, name: str, kind: str | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "layer": name.split(".")[0],
               "kind": kind, "parent": parent, "workload": self.workload,
               "pass": self.pass_no, "start": perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.tag_jobs:
            self._sc.setJobDescription(f"{JOB_TAG}{sid}")
        try:
            yield rec
        finally:
            rec["end"] = perf_counter()
            self._stack.pop()
            if self.tag_jobs:
                self._sc.setJobDescription(
                    f"{JOB_TAG}{parent}" if parent is not None else None)

    def timed(self, name: str, fn, *args, kind: str | None = None, **kw):
        """Call ``fn`` inside a span and return its result."""
        with self.span(name, kind):
            return fn(*args, **kw)

    def of_pass(self, pass_no: int) -> list[dict]:
        return [s for s in self.spans if s["pass"] == pass_no]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def kind_total(spans: list[dict], kind: str) -> float:
    return sum(duration(s) for s in spans if s["kind"] == kind)


def self_times(spans: list[dict], root_id: int) -> tuple[dict, float]:
    """Per-layer self time under the span ``root_id`` → ({layer: s},
    remainder). A span's self time is its duration minus the part its
    child spans cover; the remainder is the root's own self time, the
    driver work between library calls. Layer times plus the remainder
    sum to the root's duration exactly."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    layers: dict[str, float] = defaultdict(float)

    def own(s):
        return duration(s) - sum(duration(c) for c in children[s["id"]])

    def walk(s):
        for c in children[s["id"]]:
            layers[c["layer"]] += own(c)
            walk(c)

    root = spans[root_id]
    walk(root)
    return dict(layers), own(root)


def _dig(d: dict, path: tuple):
    for k in path:
        d = d.get(k, {}) if isinstance(d, dict) else {}
    return d if isinstance(d, (int, float)) else 0


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Parse the one uncompressed event log in ``log_dir`` into Spark
    counters per span id, from the job descriptions the Recorder set.
    Tasks are attributed through their stage to the job description the
    stage was submitted under; untagged jobs are dropped."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {files}")
    per: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    stage_span: dict[tuple, int] = {}

    def span_of(props: dict | None):
        desc = (props or {}).get("spark.job.description") or ""
        return int(desc[len(JOB_TAG):]) if desc.startswith(JOB_TAG) else None

    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                sid = span_of(e.get("Properties"))
                if sid is not None:
                    per[sid]["jobs"] += 1
            elif ev == "SparkListenerStageSubmitted":
                sid = span_of(e.get("Properties"))
                if sid is not None:
                    info = e["Stage Info"]
                    stage_span[(info["Stage ID"],
                                info["Stage Attempt ID"])] = sid
            elif ev == "SparkListenerTaskEnd":
                sid = stage_span.get((e["Stage ID"], e["Stage Attempt ID"]))
                if sid is None:
                    continue
                c = per[sid]
                c["tasks"] += 1
                if e.get("Task End Reason", {}).get("Reason") != "Success":
                    c["tasks_failed"] += 1
                tm = e.get("Task Metrics") or {}
                for name, (path, scale) in _TASK_METRICS.items():
                    c[name] += _dig(tm, path) * scale
                for acc in e.get("Task Info", {}).get("Accumulables", []):
                    key = _PY_ACCUMS.get(acc.get("Name"))
                    if key is not None:
                        c[key] += float(acc.get("Update") or 0)
    for c in per.values():
        c["shuffle_read_bytes"] = (c.pop("shuffle_read_bytes_local", 0)
                                   + c.pop("shuffle_read_bytes_remote", 0))
    return {sid: dict(c) for sid, c in per.items()}


def spark_totals(per_span: dict[int, dict], span_ids) -> dict:
    """Sum the event-log counters over ``span_ids``."""
    out = {k: 0.0 for k in (*SPARK_COUNTERS, "shuffle_write_records")}
    for sid in span_ids:
        for k, v in per_span.get(sid, {}).items():
            out[k] = out.get(k, 0.0) + v
    return out


def subtree(spans: list[dict], root_id: int) -> list[int]:
    """Ids of ``root_id`` and every span below it."""
    ids, frontier = [root_id], [root_id]
    while frontier:
        frontier = [s["id"] for s in spans if s["parent"] in frontier]
        ids += frontier
    return ids
