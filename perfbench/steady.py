"""Steadiness report: run one workload k times and summarise each metric.

    python3 perfbench/steady.py --workload <name> --runs 10 [--first-seed 1]
        [--seconds <s>] [--traced-pair]

Runs ``run.py`` once per seed (first-seed, first-seed+1, ...) and prints,
for every end-to-end metric, the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them), the interquartile spread
and the min/max spread as shares of the median, and the bound the metric has
in BENCHMARK.json; the metrics of the report line that are not gated get
the same summary without a bound.  The read-latency p90 is also given over
the pooled reads of all runs, which have the samples a single run lacks.

``--traced-pair`` adds two traced runs at the first seed: it checks that
their deterministic per-layer counts are identical and reports the tracing
overhead, traced minus untraced ``read_p50_ms`` at that seed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def one_run(workload, seed, seconds, trace):
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], cwd=ROOT, capture_output=True, text=True)
    if res.returncode != 0:
        raise SystemExit(f"run failed (seed {seed}):\n{res.stderr[-3000:]}")
    report, line = res.stdout.strip().splitlines()[-2:]
    return json.loads(report), json.loads(line)


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_frac": (q3 - q1) / med if med else None,
            "min": min(values), "max": max(values),
            "range_frac": (max(values) - min(values)) / med if med else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--traced-pair", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    reports, lines = [], []
    for i in range(a.runs):
        rep, line = one_run(a.workload, a.first_seed + i, seconds, 0)
        reports.append(rep)
        lines.append(line)
        print(json.dumps({"seed": a.first_seed + i, **line}), flush=True)
    if not reports:
        raise SystemExit("--runs must be at least 1")
    summary = {"workload": a.workload, "runs": a.runs, "seconds": seconds,
               "config": reports[0]["config"], "metrics": {}}
    names = sorted({k for r in reports for k in r["metrics"]})
    for name in names:
        vals = [r["metrics"][name]["value"] for r in reports
                if name in r["metrics"]]
        if len(vals) < 2:
            continue
        s = spread(vals)
        s["unit"] = reports[0]["metrics"][name]["unit"]
        if name in bounds:
            s["bound"] = bounds[name]
            s["within_bound"] = s["iqr_frac"] <= bounds[name]
            s["within_third"] = s["iqr_frac"] < bounds[name] / 3
        summary["metrics"][name] = s
    pooled = [x for r in reports for x in r["read_latencies_ms"]]
    try:
        summary["pooled_read_p90_ms"] = metrics.percentile(pooled, 90)
    except metrics.TooFewSamples as e:
        summary["pooled_read_p90_ms"] = str(e)
    summary["pooled_reads"] = len(pooled)
    summary["failed"] = sum(l["failed"] for l in lines)
    summary["attempted"] = sum(l["attempted"] for l in lines)
    if a.traced_pair:
        t1, _ = one_run(a.workload, a.first_seed, seconds, 1)
        t2, _ = one_run(a.workload, a.first_seed, seconds, 1)
        diffs = {k: [t1["per_layer"][k]["value"], t2["per_layer"][k]["value"]]
                 for k in metrics.DETERMINISTIC
                 if t1["per_layer"][k]["value"] != t2["per_layer"][k]["value"]}
        untraced = reports[0]["metrics"]["read_p50_ms"]["value"]
        summary["trace"] = {
            "deterministic_counts_identical": not diffs,
            "differing": diffs,
            "overhead_read_p50_ms": [
                t["per_layer"]["trace.read_p50_ms"]["value"] - untraced
                for t in (t1, t2)],
            "untraced_read_p50_ms": untraced}
    print(json.dumps(summary, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
