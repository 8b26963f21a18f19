"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness (``build.py``), writes the seeded inputs
(``gen.py``) under ``.bench_build/work/`` in the checkout, runs one harness
JVM, checks every op's output against an independent reference
(``oracle.py``) and prints, as its last line, one JSON object with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
The line before it is the full report: every metric with its unit and
sample count, the session configuration and the set-up phases.

Run from the root of a checkout; everything it writes stays under
``.bench_build/`` there, and the run's own directory is removed at exit.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True   # a run writes nothing outside .bench_build/

import build    # noqa: E402
import gen      # noqa: E402
import metrics  # noqa: E402
import oracle   # noqa: E402

JVM_TIMEOUT_S = 160
# A fixed-size heap: with the default small initial heap, heap growth and
# the GC pauses it brings landed on different ops in each run (ops_per_s
# spread by about 20% over five seeds, 5% with the heap fixed).
HEAP = "2g"

# Warm-up rounds per workload.  The ingest write path (appendMinhash, the
# IVF append) is only reached by writes, and a run's first writes ran about
# 40% slower than its third, so ingest warms up with two rounds.
WARMUP_ROUNDS = {"isolate_search": 1, "corpus_ingest": 2}


def warmup_ops(workload, ops):
    """``WARMUP_ROUNDS`` ops of each kind, in stream order, from the tail of
    the stream, which the timed loop never reaches; the same shape whatever
    the seed.  Warm-up writes append the tail's delta batches, which the
    checks replay before the timed ops.
    """
    rounds, picked = WARMUP_ROUNDS[workload], {}
    for op in reversed(ops[-40:]):
        kind = "registered" if op.get("registered") else op["type"]
        if len(picked.setdefault(kind, [])) < rounds:
            picked[kind].append(op)
    return [dict(op, id=-1) for op in
            sorted((op for k in picked.values() for op in k),
                   key=lambda op: op["id"])]


def plan_for(workload, seed, seconds, trace, data, work):
    ops = gen.make_plan(workload, seed, data)
    return {"workload": workload, "data_dir": data, "work_dir": work,
            "seconds": seconds, "min_ops": gen.BLOCK[workload],
            "trace": bool(trace),
            "warmup": warmup_ops(workload, ops), "ops": ops}


def run_jvm(classpath, plan_path, out_path, work, log_path):
    cmd = ["java", *build.ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
           plan_path, out_path]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"harness failed: {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    classpath = build.build()
    work = os.path.join(build.BUILD, "work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t = time.time()
        data = os.path.join(work, "data")
        gen.make_corpus(a.workload, a.seed, data)
        plan = plan_for(a.workload, a.seed, a.seconds, a.trace, data, work)
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        prepare_s = time.time() - t
        out_path = os.path.join(work, "out.json")
        run_jvm(classpath, plan_path, out_path, work,
                os.path.join(work, "harness.log"))
        with open(out_path) as fh:
            out = json.load(fh)
        kinds = {op["id"]: op["mix_kind"] for op in plan["ops"]}
        for r in out["ops"]:
            r["mix_kind"] = kinds[r["id"]]
        checks = oracle.check(a.workload, plan, out, data, work)
        report = metrics.report(a.workload, out, checks, a.trace)
        report["prepare_s"] = prepare_s
        report["seed"] = a.seed
        print(json.dumps(report, sort_keys=True))
        print(json.dumps(metrics.result_line(report, a.trace)))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
