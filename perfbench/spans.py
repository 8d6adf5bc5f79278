"""Traced-run tooling: a span recorder that wraps program functions from
the outside, and an offline parser for Spark's JSON event log.

Spans. ``SpanRecorder.wrap`` rebinds a public function on every loaded
``pharmacodi_spark`` module that holds it (its defining module plus any
module that imported it by name), so calls from program code and from the
benchmark both pass through the wrapper; no program file changes. Each
span sets the Spark job group to its own id on entry and restores the
enclosing span's group on exit, so a Spark job is attributed to the
innermost span running when it was submitted. Spans stay in memory and
are written out once, when the run ends.

Event log. ``parse_event_log`` reads the log Spark writes with
``spark.eventLog.enabled`` and returns one record per job: its group,
submit and completion times, and the task metrics of the stages it ran.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time

GROUP_PROP = "spark.jobGroup.id"


class SpanRecorder:
    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[str] = []
        self.tags: dict = {}  # copied into every span (phase, iteration)
        self._next = 0

    def _set_group(self, group: str | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setLocalProperty(GROUP_PROP, group)

    @contextlib.contextmanager
    def span(self, name: str):
        sid = f"pb{self._next}"
        self._next += 1
        parent = self.stack[-1] if self.stack else None
        self._set_group(sid)
        self.stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.stack.pop()
            self._set_group(parent)
            self.spans.append({
                "id": sid, "name": name, "parent": parent,
                "start": start, "end": end, **self.tags,
            })

    def traced(self, fn, name: str):
        """``fn`` wrapped in a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def wrap(self, module, attr: str, name: str) -> None:
        original = getattr(module, attr)
        traced = self.traced(original, name)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("pharmacodi_spark") and (
                getattr(mod, attr, None) is original
            ):
                setattr(mod, attr, traced)


def self_seconds(spans: list[dict]) -> dict[str, float]:
    """Span id → duration minus the time its child spans cover (children
    of one span run sequentially: one client thread)."""
    child_time: dict[str, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child_time.get(s["id"], 0.0) for s in spans}


def parse_event_log(path: str) -> list[dict]:
    """Jobs from a Spark JSON event log, each as
    ``{id, group, submit, end, executor_run_s, gc_s, shuffle_bytes, output_bytes,
    tasks}`` with times in epoch seconds. A task counts toward the first
    job that listed its stage (later jobs list reused stages as skipped)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "id": jid, "group": props.get(GROUP_PROP),
                    "submit": ev["Submission Time"] / 1000.0, "end": None,
                    "executor_run_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
                    "output_bytes": 0, "tasks": 0,
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                j["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                j["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j["id"])


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
