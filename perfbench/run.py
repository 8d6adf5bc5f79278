#!/usr/bin/env python3
"""Benchmark entry point: one closed-loop workload per process.

    python3 perfbench/run.py --workload pset_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The run boots one ``local[nproc]`` session
through ``pharmacodi_spark.session.get_spark``, generates the workload's
inputs from ``--seed``, runs one warm-up iteration, then times whole
iterations back to back until ``--seconds`` have passed (at least
``MIN_ITERS``), checking every iteration's outputs outside the timed
region. The last stdout line is one JSON object: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.

``--trace 1`` runs the same loop in a child process with spans and Spark's
event log on, then parses the log after the child exits (see spans.py).
All files the run writes live under ``.perfbench_run/`` in the repository
root and are removed when it ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import warnings  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("pset_etl", "corpus_curation")
WARMUP = 1  # untimed iterations before the first timed one
#: an iteration outlasts --seconds, so a run times one; a second timed
#: iteration would push a full measurement past its time budget (README)
MIN_ITERS = 1
HEAP_ROUNDS = 8


#: (module, function) pairs wrapped in spans in the traced run; a span is
#: named after its function's module path relative to pharmacodi_spark
SPANS = [
    ("pharmacodi_spark.session", "get_spark"),
    ("pharmacodi_spark.io", "read_pset_catalog"),
    ("pharmacodi_spark.io", "save"),
    ("pharmacodi_spark.io", "load_table_all_shards"),
    ("pharmacodi_spark.io", "save_canonical"),
    ("pharmacodi_spark.io", "merge_upsert"),
    ("pharmacodi_spark.pipelines.pset", "build_all_pset_tables"),
    ("pharmacodi_spark.pipelines.combine", "combine_dim"),
    ("pharmacodi_spark.pipelines.combine", "combine_experiment"),
    ("pharmacodi_spark.pipelines.combine", "remap_fact_to_experiment"),
    ("pharmacodi_spark.pipelines.ingest", "ingest_batch"),
    ("pharmacodi_spark.pipelines.ingest", "dedup_batch"),
    ("pharmacodi_spark.text.clusters", "near_dup_droplist"),
    ("pharmacodi_spark.barrier", "stage_barrier"),
    ("pharmacodi_spark.operators.graph", "pagerank_int"),
    ("pharmacodi_spark.text.similarity", "cell_cosine_pairs"),
    ("pharmacodi_spark.text.embeddings", "encode_documents"),
    ("pharmacodi_spark.text.selection", "dsir_train_weights"),
    ("pharmacodi_spark.text.selection", "dsir_score"),
]
#: counters reported per span (BENCHMARK.json lists the ones that are not
#: identically zero)
COUNTERS = ("calls", "self_s", "jobs", "executor_run_s", "shuffle_bytes", "output_bytes")


def span_name(module: str, fn: str) -> str:
    return f"{module.removeprefix('pharmacodi_spark.')}.{fn}"


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help=argparse.SUPPRESS)  # child mode
    # write the untraced run's raw record (per-iteration series) to this file
    ap.add_argument("--record", help=argparse.SUPPRESS)
    return ap.parse_args()


def configure_env(run_dir: str) -> None:
    """Session sizing and the places Spark and Python may write."""
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    # Arrow UDF workers import the package: they need the repo on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp


def spark_conf(run_dir: str, event_dir: str | None) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        # the UI is off, but the status store still keeps up to 1000 jobs'
        # and stages' records; keep few, so that retained_heap_mb reads the
        # program's own state more than monitoring records
        "spark.ui.retainedJobs": "50",
        "spark.ui.retainedStages": "50",
        "spark.sql.ui.retainedExecutions": "50",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def heap_mb(spark) -> float:
    """Driver JVM heap in use once a forced full collection frees less than
    1 MB more (at most HEAP_ROUNDS collections). The run's pins are
    released by then; ContextCleaner frees their blocks between rounds."""
    gc.collect()
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = None
    for _ in range(HEAP_ROUNDS):
        jvm.java.lang.System.gc()
        time.sleep(0.25)
        prev, used = used, bean.getHeapMemoryUsage().getUsed() / 2**20
        if prev is not None and prev - used < 1.0:
            break
    return used


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_loop(args, run_dir: str, trace_dir: str | None) -> dict:
    """Set up, warm up and time one workload; returns the raw record."""
    from pharmacodi_spark import session as psession

    recorder = None
    if trace_dir:
        from spans import SpanRecorder

        recorder = SpanRecorder()
        recorder.tags = {"phase": "setup", "iteration": None}
        recorder.wrap(psession, "get_spark", span_name(psession.__name__, "get_spark"))

    t_boot = time.perf_counter()
    spark = psession.get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf=spark_conf(run_dir, trace_dir and os.path.join(trace_dir, "events")),
    )
    spark.sparkContext.setLogLevel("ERROR")
    phases = {"start_s": t_boot - T_START, "boot_s": time.perf_counter() - t_boot}
    try:
        import workloads

        t0 = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](spark, os.path.join(run_dir, "work"))
        wl.setup(random.Random(args.seed))
        phases["inputs_s"] = time.perf_counter() - t0
        if recorder:
            install_spans(recorder, args.workload)
        span = recorder.span if recorder else (lambda _name: contextlib.nullcontext())

        errors: dict[str, list[str]] = {}
        iters, batches, stored = [], [], 0

        def tag(phase: str, i: int) -> None:
            if recorder:
                recorder.tags = {"phase": phase, "iteration": i}

        def one(i: int, timed: bool) -> None:
            nonlocal stored
            tag("untimed", i)
            wl.prepare(i)
            gc.collect()
            tag("timed" if timed else "warmup", i)
            w0 = time.time()
            t0 = time.perf_counter()
            with span("perfbench.iteration"):
                b = wl.iteration(i)
            dt = time.perf_counter() - t0
            w1 = time.time()
            tag("untimed", i)
            errs = wl.check(i)
            stored = wl.stored_bytes(i)
            wl.cleanup(i)
            if errs:
                errors[str(i)] = errs
            if timed:
                iters.append({"i": i, "job_s": dt, "batches_s": b,
                              "wall_start": w0, "wall_end": w1})
                batches.extend(b)

        n = 0
        t0 = time.perf_counter()
        for _ in range(WARMUP):
            one(n, timed=False)
            n += 1
        setup_s = time.perf_counter() - T_START
        phases["warmup_s"] = time.perf_counter() - t0
        gc0 = jvm_gc_seconds(spark)
        t_first = time.perf_counter()
        failed_iter = None
        while len(iters) < MIN_ITERS or time.perf_counter() - t_first < args.seconds:
            try:
                one(n, timed=True)
            except Exception:  # an operation that raises is a failed one
                traceback.print_exc()
                failed_iter = n
                break
            n += 1
        gc_s = jvm_gc_seconds(spark) - gc0
        tag("untimed", None)
        for i, errs in wl.deferred_checks().items():
            if errs:
                errors.setdefault(str(i), []).extend(errs)
        heap = heap_mb(spark)
        timed_ids = {str(it["i"]) for it in iters}
        failed = sum(1 for i in errors if i in timed_ids) + (failed_iter is not None)
        for i, errs in sorted(errors.items()):
            print(f"perfbench: iteration {i}: " + "; ".join(errs), file=sys.stderr)
        return {
            "workload": args.workload,
            "seed": args.seed,
            "correct": not errors and failed_iter is None,
            "attempted": len(iters) + (failed_iter is not None),
            "failed": failed,
            "setup_s": setup_s,
            "setup_phases": phases,
            "iterations": iters,
            "batches_s": batches,
            "warmup": WARMUP,
            "retained_heap_mb": heap,
            "stored_bytes": stored,
            "input_bytes": wl.input_bytes,
            "gc_s": gc_s,
            "slots": int(os.environ["SPARK_GRAFT_CPUS"]),
            "accepted": getattr(wl, "accepted", None),
            "offered": getattr(wl, "planted", {}).get("offered"),
            "spans": recorder.spans if recorder else None,
        }
    finally:
        stop_spark(spark)


def install_spans(recorder, workload: str) -> None:
    import importlib

    for module, fn in SPANS[1:]:  # get_spark is wrapped before the session
        mod = importlib.import_module(module)
        recorder.wrap(mod, fn, span_name(module, fn))
    if workload == "corpus_curation":
        from pharmacodi_spark.plans.queries import QUERIES

        import workloads

        for q in workloads.CURATION_QUERIES:
            fn, sql = QUERIES[q]
            name = f"{fn.__module__.removeprefix('pharmacodi_spark.')}.{q}"
            QUERIES[q] = (recorder.traced(fn, name), sql)


def end_to_end(rec: dict) -> dict:
    job = [it["job_s"] for it in rec["iterations"]]
    values = {
        "setup_s": rec["setup_s"],
        "job_s": statistics.median(job),
        "batch_p50_s": statistics.median(rec["batches_s"]),
        "retained_heap_mb": rec["retained_heap_mb"],
        "stored_bytes_ratio": rec["stored_bytes"] / rec["input_bytes"],
    }
    return {
        name: {"value": values[name], "unit": unit}
        for name, unit in metric_names("end_to_end")
    }


def per_layer(rec: dict, jobs: list[dict]) -> tuple[dict, list[str]]:
    """Per-layer metrics of a traced run: span counters per timed
    iteration (``session.get_spark`` per run), plus workload-level job,
    GC and slot counters. Returns the metrics and any accounting errors."""
    from spans import busy_seconds, self_seconds

    spans = rec["spans"]
    n_it = len(rec["iterations"])
    selfs = self_seconds(spans)
    by_id = {s["id"]: s for s in spans}
    vals: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        vals[key] = vals.get(key, 0.0) + v

    def counted(s) -> float | None:  # the per-iteration weight of a span
        if s["name"] == "session.get_spark":
            return 1.0
        return 1.0 / n_it if s["phase"] == "timed" else None

    for s in spans:
        w = counted(s)
        if w is not None:
            add(f"{s['name']}.calls", w)
            add(f"{s['name']}.self_s", selfs[s["id"]] * w)

    lo = [(it["wall_start"], it["wall_end"]) for it in rec["iterations"]]
    # every job submitted inside a timed iteration, found by time alone
    timed_jobs = [j for j in jobs if any(a <= j["submit"] <= b for a, b in lo)]
    timed_ids = {j["id"] for j in timed_jobs}
    span_jobs = unattributed = 0
    for j in jobs:
        s = by_id.get(j["group"])
        w = counted(s) if s is not None else None
        if w is not None:
            for c in COUNTERS[2:]:  # the job-level counters
                add(f"{s['name']}.{c}", (1 if c == "jobs" else j[c]) * w)
            span_jobs += s["phase"] == "timed"
        elif s is None and j["id"] in timed_ids:
            unattributed += 1
    errors = []
    if span_jobs + unattributed != len(timed_jobs):
        errors.append(
            f"job accounting: {span_jobs} span jobs + {unattributed} unattributed "
            f"!= {len(timed_jobs)} jobs in timed iterations"
        )
    busy = sum(
        busy_seconds([(j["submit"], j["end"] or j["submit"]) for j in timed_jobs], a, b)
        for a, b in lo
    )
    wall = sum(b - a for a, b in lo)
    run_s = sum(j["executor_run_s"] for j in timed_jobs)
    vals.update({
        "spark.jobs": len(timed_jobs) / n_it,
        "unattributed.jobs": unattributed / n_it,
        "spark.gc_s": rec["gc_s"] / n_it,
        "spark.job_busy_s": busy / n_it,
        "driver.plan_s": (wall - busy) / n_it,
        "spark.slot_busy_ratio": run_s / (busy * rec["slots"]) if busy else 0.0,
        "trace.job_s": statistics.median(it["job_s"] for it in rec["iterations"]),
    })
    if rec["accepted"]:
        vals["pipelines.ingest.accept_ratio"] = (
            statistics.median(rec["accepted"]) / rec["offered"]
        )
    return vals, errors


def main() -> None:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "pharmacodi_spark")):
        fail(f"the program package is missing from {ROOT}")
    sys.path.insert(0, ROOT)
    try:
        import pharmacodi_spark  # noqa: F401
    except ImportError as ex:
        fail(f"cannot import the program: {ex}")
    warnings.filterwarnings("ignore", message=r"io\.load")

    if args.trace_out:  # traced child: write the raw record, print nothing
        configure_env(args.trace_out)
        rec = run_loop(args, args.trace_out, args.trace_out)
        with open(os.path.join(args.trace_out, "record.json"), "w") as fh:
            json.dump(rec, fh)
        return

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        if args.trace:
            out = traced_result(args, run_dir)
        else:
            configure_env(run_dir)
            rec = run_loop(args, run_dir, None)
            out = result(rec, end_to_end(rec))
            if args.record:
                with open(args.record, "w") as fh:
                    json.dump(rec, fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


def result(rec: dict, metrics: dict, extra_errors: list[str] = ()) -> dict:
    return {
        "correct": bool(rec["correct"]) and not extra_errors,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }


def traced_result(args, run_dir: str) -> dict:
    from spans import parse_event_log

    child = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", "1", "--trace-out", run_dir,
    ]
    os.makedirs(os.path.join(run_dir, "events"))
    proc = subprocess.Popen(child, cwd=ROOT, stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=170)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("traced child timed out")
    if rc != 0:
        fail(f"traced child exited with {rc}")
    with open(os.path.join(run_dir, "record.json")) as fh:
        rec = json.load(fh)
    logs = [f for f in os.listdir(os.path.join(run_dir, "events")) if not f.startswith(".")]
    if len(logs) != 1:
        fail(f"expected one event log, found {logs}")
    jobs = parse_event_log(os.path.join(run_dir, "events", logs[0]))
    vals, errors = per_layer(rec, jobs)
    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)
    metrics = {
        name: {"value": vals.get(name, 0.0), "unit": unit}
        for name, unit in metric_names("per_layer")
    }
    return result(rec, metrics, errors)


def metric_names(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of every ``kind`` metric ("end_to_end" or "per_layer")
    listed in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


if __name__ == "__main__":
    main()
