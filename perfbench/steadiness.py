#!/usr/bin/env python3
"""Steadiness check: run the benchmark once per seed and report, for each
end-to-end metric, the quartile spread across runs as a share of the
median (``statistics.quantiles(values, n=4)``), next to its bound.

    python3 perfbench/steadiness.py --workload pset_etl --seeds 1-10

Writes ``perfbench/results/<workload>.json``: every run's metrics and
per-iteration series (timed iterations, per-batch times, set-up phases),
so the warm-up length and the heap read point can be judged from data.
Run from the repository root.

    python3 perfbench/steadiness.py --compare A.json B.json

compares two such files: for each end-to-end metric, how much worse B's
median is than A's, as a share of A's median, next to the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def compare(first: str, second: str, metrics: list[dict]) -> None:
    with open(first) as fh:
        a = json.load(fh)["summary"]
    with open(second) as fh:
        b = json.load(fh)["summary"]
    for m in metrics:
        name = m["name"]
        ma, mb = a[name]["median"], b[name]["median"]
        worse = (mb - ma if m["better"] == "lower" else ma - mb) / ma
        print(f"{name:20s} median {ma:.4g} -> {mb:.4g}  worse by {worse:+.3f}  "
              f"bound {m['bound']}  {'ok' if worse <= m['bound'] else 'OVER'}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"),
                    help="compare the medians of two result files")
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--out", help="result file (default perfbench/results/<workload>.json)")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.compare:
        compare(*args.compare, bench["end_to_end"])
        return
    if not args.workload:
        ap.error("--workload is required")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        with tempfile.TemporaryDirectory(dir=HERE) as tmp:
            rec_path = os.path.join(tmp, "record.json")
            t0 = time.perf_counter()
            p = subprocess.run(
                [*bench["command"], "--workload", args.workload, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0",
                 "--record", rec_path],
                cwd=ROOT, capture_output=True, text=True,
            )
            wall = time.perf_counter() - t0
            if p.returncode != 0:
                sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            with open(rec_path) as fh:
                rec = json.load(fh)
        result = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({
            "seed": seed,
            "wall_s": wall,
            "result": result,
            "setup_phases": rec["setup_phases"],
            "iterations_job_s": [it["job_s"] for it in rec["iterations"]],
            "batches_s": rec["batches_s"],
        })
        m = result["metrics"]
        print(f"seed {seed}: wall {wall:.1f}s correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()), flush=True)
    summary = {}
    for name, bound in bounds.items():
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        summary[name] = {"median": statistics.median(vals), "spread": spread(vals),
                         "bound": bound}
        print(f"{name:20s} median {summary[name]['median']:.4g}  spread "
              f"{summary[name]['spread']:.3f}  bound {bound}")
    out = args.out or os.path.join(HERE, "results", f"{args.workload}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"workload": args.workload, "nproc": os.cpu_count(),
                   "summary": summary, "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
