"""Metrics from one harness run: end-to-end figures from the op latencies,
per-layer figures from the spans and engine counters of a traced run.
"""
import math
import statistics

from gen import BLOCK, MIX, WORKLOADS

SLOTS = 4   # local[4]

# The end-to-end metrics BENCHMARK.json gates, with their units: the ones
# every workload has, that are never 0, and that hold still between seeds.
# The report line carries the rest (read_p50_ms, write_p50_ms, ...).
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s"}
# Per-layer metrics for which more is better; for the rest, less is.
HIGHER_IS_BETTER = {"spark.task_busy_frac", "pipeline.admitted_frac"}

OP_TYPES = {
    "isolate_search": ["search", "breakdown", "profile_lookup",
                       "matching_profiles", "a1_breakdown", "a2_crosstab"],
    "corpus_ingest": ["write", "hybrid_search", "probe"]}
LAYERS = ["bench", "api", "sources", "queries", "operators", "streaming",
          "pipeline", "spark"]

# Per-layer metrics with their units; every traced run reports all of them
# (0 where the workload does not touch the layer).
PER_LAYER = {
    "api.compile_ms": "ms", "api.count_ms": "ms",
    "api.rows_examined_per_row": "ratio", "sources.files_kept_frac": "ratio",
    "sources.warm_ms": "ms", "queries.build_ms": "ms", "spark.plan_ms": "ms",
    "spark.exchanges": "count", "spark.exec_ms": "ms", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_only_ms": "ms", "spark.task_busy_frac": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_ms": "ms",
    "operators.persistent_rdds": "count", "operators.storage_mb": "MB",
    "streaming.first_seen_ms": "ms", "pipeline.verdict_ms": "ms",
    "pipeline.append_ms": "ms", "pipeline.ivf_ms": "ms",
    "pipeline.search_ms": "ms", "pipeline.admitted_frac": "ratio",
    "pipeline.index_bytes": "bytes", "pipeline.index_versions": "count",
    "trace.read_p50_ms": "ms",
    **{f"self.{l}_ms": "ms" for l in LAYERS},
    **{f"op.{t}.p50_ms": "ms" for w in WORKLOADS for t in OP_TYPES[w]},
}
# Per-layer figures that must repeat exactly across traced runs at one seed.
# Shuffle bytes are left out: shuffle blocks are fetched in random order, so
# the rows reach the next compressed block in another order and its size
# moves by a few bytes.
DETERMINISTIC = ["api.rows_examined_per_row", "spark.exchanges",
                 "spark.jobs", "spark.stages", "spark.tasks",
                 "spark.spill_bytes", "sources.files_kept_frac",
                 "pipeline.admitted_frac", "pipeline.index_bytes",
                 "pipeline.index_versions", "operators.persistent_rdds"]


class TooFewSamples(ValueError):
    pass


def percentile(values, p, min_beyond=10):
    """Nearest-rank ``p``-th percentile, refused (TooFewSamples) unless at
    least ``min_beyond`` samples lie above it.
    """
    xs = sorted(values)
    if not xs:
        raise TooFewSamples("no samples")
    k = max(0, math.ceil(p / 100.0 * len(xs)) - 1)
    beyond = len(xs) - 1 - k
    if beyond < min_beyond:
        raise TooFewSamples(
            f"p{p} of {len(xs)} samples has {beyond} beyond it, "
            f"needs {min_beyond}")
    return xs[k]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def slowdown_ratio(ops):
    """Median latency of the last quarter of timed ops over that of the
    first quarter, each latency first divided by its op type's median, so
    the ratio compares like with like whatever the mix.
    """
    by_type = {}
    for r in ops:
        by_type.setdefault(r["type"], []).append(r["ms"])
    norm = [r["ms"] / statistics.median(by_type[r["type"]]) for r in ops]
    q = max(1, len(norm) // 4)
    return statistics.median(norm[-q:]) / statistics.median(norm[:q])


def throughput(workload, ops, ok):
    """Correct ops per second of op time at the workload's block mix.

    One client runs one op at a time, so throughput is ops over the time
    they took.  The run stops at a deadline, part way through a block, and
    op kinds differ in cost by up to twenty times: plain ops over time
    would move with where the deadline fell.  So the time of one block is
    taken as the sum, over the block's op kinds (``gen.MIX``; a search
    kind is one clause-family shape), of each kind's mean latency in the
    run times its count in the block.  Returns (value, note);
    a run too short to hold every kind falls back to ops over time.
    """
    good = sum(ok[r["id"]] for r in ops) / len(ops) if ops else 0.0
    by_kind = {}
    for r in ops:
        by_kind.setdefault(r["mix_kind"], []).append(r["ms"])
    mix = MIX[workload]
    if set(mix) <= set(by_kind):
        block_ms = sum(n * statistics.fmean(by_kind[k])
                       for k, n in mix.items())
        return good * BLOCK[workload] * 1000.0 / block_ms, None
    busy_ms = sum(r["ms"] for r in ops)
    return (good * len(ops) * 1000.0 / busy_ms if busy_ms else 0.0,
            "not every op kind ran: ops over op time")


def self_times(spans):
    """Self time of every span: its duration minus the part its children
    cover.  ``spans`` rows are [name, op, parent, start_ns, end_ns].
    """
    kids = {}
    for i, s in enumerate(spans):
        if s[2] >= 0:
            kids.setdefault(s[2], []).append(i)
    out = []
    for i, (_, _, _, a, b) in enumerate(spans):
        covered, cur = 0, None
        for c in sorted(kids.get(i, []), key=lambda j: spans[j][3]):
            ca, cb = max(spans[c][3], a), min(spans[c][4], b)
            if cb <= ca:
                continue
            if cur and ca <= cur[1]:
                cur = (cur[0], max(cur[1], cb))
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = (ca, cb)
        if cur:
            covered += cur[1] - cur[0]
        out.append(b - a - covered)
    return out


def layer_of(name):
    head = name.split(".", 1)[0]
    return head if head in LAYERS else "bench"


def report(workload, out, ok, trace):
    """Every metric of the run, by name, with units and sample counts."""
    ops = out["ops"]
    attempted = len(ops)
    failed = sum(1 for r in ops if not ok[r["id"]])
    reads = [r["ms"] for r in ops if r.get("kind") == "read"]
    writes = [r["ms"] for r in ops if r.get("kind") == "write"]
    tput, tput_note = throughput(workload, ops, ok)
    m = {"setup_s": out["setup_s"],
         "read_p50_ms": median(reads),
         "ops_per_s": tput,
         "retained_heap_mb": out["retained_heap_mb"],
         "slowdown_ratio": slowdown_ratio(ops) if ops else 0.0,
         "error_frac": failed / attempted if attempted else 1.0}
    notes = {"ops_per_s": tput_note} if tput_note else {}
    try:
        m["read_p90_ms"] = percentile(reads, 90)
    except TooFewSamples as e:
        notes["read_p90_ms"] = str(e)
    if writes:
        m["write_p50_ms"] = median(writes)
    if workload == "corpus_ingest":
        fin = out["finish"]
        m["index_bytes_per_input_byte"] = fin["index_bytes"] / fin["input_bytes"]
    units = {"read_p50_ms": "ms", "read_p90_ms": "ms", "write_p50_ms": "ms",
             "error_frac": "ratio",
             "index_bytes_per_input_byte": "ratio", "slowdown_ratio": "ratio",
             "retained_heap_mb": "MB", **END_TO_END}
    rep = {"workload": workload, "attempted": attempted, "failed": failed,
           "samples": {"read": len(reads), "write": len(writes)},
           "setup_phases_s": out["setup_phases_s"], "timed_s": out["timed_s"],
           "read_latencies_ms": reads,
           "op_ms": [[r["type"], r["ms"]] for r in ops],
           "config": out["config"], "notes": notes,
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in m.items()}}
    if trace:
        rep["per_layer"] = {k: {"value": v, "unit": PER_LAYER.get(k, "ms")}
                            for k, v in per_layer(workload, out).items()}
    return rep


def per_layer(workload, out):
    ops = out["ops"]
    spans = out["spans"]
    selfs = self_times(spans)
    timed = {r["id"] for r in ops}
    by_name = {}
    for s in spans:
        if s[1] in timed:
            by_name.setdefault(s[0], []).append((s[4] - s[3]) / 1e6)
    warm = [(s[4] - s[3]) / 1e6 for s in spans
            if s[0] == "sources.warm" and s[1] == -1]
    # counts (and ratios of counts) are taken over the first block of the
    # stream, which every run completes, so two traced runs at one seed
    # repeat them exactly; times are taken over every timed op
    pre = ops[:BLOCK[workload]]

    def per_op(key):
        return sum(r["counters"].get(key, 0) for r in pre) / max(1, len(pre))

    def extra_sum(key):
        return sum(r["extras"].get(key, 0) for r in pre)

    run_ms = sum(r["counters"].get("run_ms", 0) for r in ops)
    wall_ms = sum(r["ms"] for r in ops)
    kept, total = extra_sum("files_kept"), extra_sum("files_total")
    returned = sum(max(1, r["extras"].get("rows_returned", 1)) for r in pre)
    pre_writes = [r for r in pre if r.get("kind") == "write"]
    last_write = pre_writes[-1]["extras"] if pre_writes else {}
    reads = [r["ms"] for r in ops if r.get("kind") == "read"]
    m = {
        "api.compile_ms": median(by_name.get("api.compile", [])),
        "api.count_ms": median(by_name.get("api.count", [])),
        "api.rows_examined_per_row":
            per_op("records") * len(pre) / returned
            if workload == "isolate_search" else 0.0,
        "sources.files_kept_frac": kept / total if total else 1.0,
        "sources.warm_ms": median(warm),
        "queries.build_ms": median(by_name.get("queries.build", [])),
        "spark.plan_ms": median(by_name.get("spark.plan", [])),
        "spark.exchanges": sum(r["extras"].get("exchanges", 0) for r in pre)
                           / max(1, len(pre)),
        "spark.exec_ms": median(by_name.get("spark.exec", [])),
        "spark.jobs": per_op("jobs"),
        "spark.stages": per_op("stages"),
        "spark.tasks": per_op("tasks"),
        "spark.driver_only_ms": median([r["driver_only_ms"] for r in ops]),
        "spark.task_busy_frac": run_ms / (wall_ms * SLOTS) if wall_ms else 0.0,
        "spark.shuffle_write_bytes": per_op("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": per_op("shuffle_read_bytes"),
        "spark.spill_bytes": per_op("spill_bytes"),
        "spark.gc_ms": sum(r["gc_ms"] for r in ops) / max(1, len(ops)),
        "operators.persistent_rdds": pre[-1]["persistent_rdds"] if pre else 0,
        "operators.storage_mb": pre[-1]["storage_mb"] if pre else 0.0,
        "streaming.first_seen_ms": median(by_name.get("streaming.first_seen", [])),
        "pipeline.verdict_ms": median(by_name.get("pipeline.verdict", [])),
        "pipeline.append_ms": median(by_name.get("pipeline.append", [])),
        "pipeline.ivf_ms": median(by_name.get("pipeline.ivf", [])),
        "pipeline.search_ms": median(by_name.get("pipeline.search", [])),
        "pipeline.admitted_frac":
            extra_sum("admitted") / extra_sum("delta")
            if extra_sum("delta") else 0.0,
        "pipeline.index_bytes": last_write.get("index_bytes", 0),
        "pipeline.index_versions": last_write.get("index_versions", 0),
        "trace.read_p50_ms": median(reads),
    }
    n = max(1, len(ops))
    for l in LAYERS:
        m[f"self.{l}_ms"] = sum(
            t for s, t in zip(spans, selfs)
            if s[1] in timed and layer_of(s[0]) == l) / 1e6 / n
    for t in {t for ts in OP_TYPES.values() for t in ts}:
        m[f"op.{t}.p50_ms"] = median([r["ms"] for r in ops if r["type"] == t])
    return m


def result_line(rep, trace):
    """The benchmark's last output line."""
    if trace:
        metrics = {k: rep["per_layer"][k] for k in PER_LAYER}
    else:
        metrics = {k: rep["metrics"][k] for k in END_TO_END}
    return {"correct": rep["failed"] == 0, "attempted": rep["attempted"],
            "failed": rep["failed"], "metrics": metrics}
