#!/usr/bin/env python3
"""Record ``eventlog_small.json``, the parser's test fixture.

    python3 perfbench/testdata/make_eventlog.py

Runs three small jobs in a ``local[2]`` session with the event log on: an
RDD count inside span ``pb0`` (one stage, two tasks), a ``reduceByKey``
inside span ``pb1`` (a shuffle: a two-task map stage and a one-task result
stage, one job), and a sum outside any span (two tasks). Only the events
and fields ``spans.parse_event_log`` reads are kept, and job properties
are cut to the job group, so the fixture stays small.
"""

from __future__ import annotations

import json
import operator
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from spans import GROUP_PROP, SpanRecorder  # noqa: E402

KEEP = {
    "SparkListenerJobStart": ("Event", "Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Event", "Job ID", "Completion Time"),
    "SparkListenerTaskEnd": ("Event", "Stage ID", "Task Metrics"),
}
METRICS = ("Executor Run Time", "JVM GC Time", "Shuffle Write Metrics", "Output Metrics")


def trim(ev: dict) -> dict:
    out = {k: ev[k] for k in KEEP[ev["Event"]] if k in ev}
    if "Properties" in out:
        out["Properties"] = {
            k: v for k, v in out["Properties"].items() if k == GROUP_PROP
        }
    if "Task Metrics" in out:
        out["Task Metrics"] = {k: out["Task Metrics"][k] for k in METRICS}
    return out


def main() -> None:
    from pyspark.sql import SparkSession

    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        spark = (
            SparkSession.builder.master("local[2]").appName("eventlog-fixture")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + tmp)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.ui.enabled", "false")
            .config("spark.local.dir", tmp)
            .getOrCreate()
        )
        sc = spark.sparkContext
        rec = SpanRecorder()
        with rec.span("count"):
            sc.parallelize(range(100), 2).count()
        with rec.span("shuffle"):
            sc.parallelize(range(100), 2).map(lambda x: (x % 3, 1)).reduceByKey(
                operator.add, 1
            ).collect()
        sc.parallelize(range(10), 2).sum()
        spark.stop()
        (log,) = [f for f in os.listdir(tmp) if f.startswith("local-")]
        with open(os.path.join(tmp, log)) as fh:
            events = [json.loads(line) for line in fh]
    kept = [trim(e) for e in events if e["Event"] in KEEP]
    with open(os.path.join(HERE, "eventlog_small.json"), "w") as fh:
        for e in kept:
            fh.write(json.dumps(e) + "\n")


if __name__ == "__main__":
    main()
