"""Reduces one run's raw record (written by the JVM side, see
`src/Main.scala`) to the benchmark's metrics.

All statistics the benchmark reports are computed here, so they can be
tested without Spark (`python3 -m unittest discover perfbench`).
"""
import statistics

MB = float(1 << 20)
SHORT_JOB_MS = 300.0
# op_p90_s needs at least ten samples beyond the 90th percentile
P90_MIN_SAMPLES = 100
# The time metrics are reported as on a host whose calibration loop (see
# Host.calibrate in src/Main.scala) takes this long: about its median on
# the 4-core VM the baseline in README.md was taken on.
CALIB_REF_MS = 50.0
# the metrics in seconds, scaled by the host factor (rows_per_s inversely)
HOST_TIMED = ["setup_s", "op_p50_s", "cpu_s_per_krow", "read_p50_s"]

END_TO_END = [
    ("setup_s", "s"), ("rows_per_s", "rows/s"), ("op_p50_s", "s"),
    ("cpu_s_per_krow", "s"), ("read_p50_s", "s"), ("write_amp", "ratio"),
    ("heap_live_mb", "MiB"),
]

MODULE_SPANS = [
    "sources.ReportData", "units.UnitRegistry", "core.EnergySeries",
    "core.EnergyFrame", "operators.Discretize", "operators.Analytics",
    "plots.Render", "operators.Dedup", "operators.Similarity",
    "operators.Curation", "operators.Tokenizer",
    "operators.Sampling", "streaming.StreamLakeIngest",
    "streaming.StreamShardLayout", "streaming.SequenceLake",
]
# modules whose attributed Spark job count is reported beside busy_s
JOB_SPANS = [
    "streaming.StreamLakeIngest", "streaming.StreamShardLayout",
    "streaming.SequenceLake",
]
KERNELS = ["WordShingles", "SortedIntersectCount", "BpeEncode", "VectorDot"]


def median(values):
    """Median of a non-empty sequence."""
    return statistics.median(values)


def tail_percentile(values, q):
    """The q-th percentile (0 < q < 100, linear interpolation between
    closest ranks) and the number of samples strictly above it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    v = s[lo] + (s[hi] - s[lo]) * (pos - lo)
    return v, sum(1 for x in s if x > v)


def round_median_rate(rounds):
    """Median over rounds of rows / round wall seconds."""
    return median([r["rows"] / ((r["end"] - r["start"]) / 1000.0)
                   for r in rounds])


def per_round(total, n_rounds):
    """A run total normalised to one round."""
    if n_rounds <= 0:
        raise ValueError("no rounds")
    return total / float(n_rounds)


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of [start, end] intervals, optionally
    clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that
    its child spans cover. Returns {span id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def innermost_span(spans, t):
    """The deepest span open at time t (spans are properly nested, as the
    benchmark's single client thread opens them), or None."""
    best = None
    for s in spans:
        if s["start"] <= t < s["end"]:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def sampled_busy(samples, spans, sample_ms):
    """Busy time of modules seen in stack samples of the program's own
    driver threads: each (time, module) sample counts `sample_ms` to its
    module. An instant with any such sample is taken out, once, of the
    self time of the client span open at that instant. Returns
    ({module: ms}, {span id: ms to take out})."""
    busy, covered, instants = {}, {}, set()
    for smp in samples:
        busy[smp["module"]] = busy.get(smp["module"], 0.0) + sample_ms
        if smp["at"] not in instants:
            instants.add(smp["at"])
            s = innermost_span(spans, smp["at"])
            if s is not None:
                covered[s["id"]] = covered.get(s["id"], 0.0) + sample_ms
    return busy, covered


def _timed(raw):
    ops = [o for o in raw["ops"] if o["timed"]]
    rounds = raw["rounds"]
    return ops, rounds


def host_factor(raw):
    """How much faster the reference host is than this run's host."""
    return CALIB_REF_MS / median(raw["calib_ms"])


def end_to_end(raw):
    """The end-to-end metrics, with the time metrics scaled to the
    reference host by `host_factor`."""
    f = host_factor(raw)
    m = measured(raw)
    for k in HOST_TIMED:
        m[k] *= f
    m["rows_per_s"] /= f
    return m


def measured(raw):
    """The end-to-end metrics as measured on this run's host."""
    ops, rounds = _timed(raw)
    n = len(rounds)
    rows = raw["rows_per_round"] * n
    reads = [(o["end"] - o["start"]) / 1000.0 for o in ops
             if o["kind"] == "read"]
    return {
        "setup_s": (raw["window_start"] - raw["jvm_start"]) / 1000.0,
        "rows_per_s": round_median_rate(rounds),
        "op_p50_s": median([(o["end"] - o["start"]) / 1000.0 for o in ops
                            if o["kind"] != "read"]),
        "cpu_s_per_krow": raw["cpu_ns"] / 1e9 / (rows / 1000.0),
        "read_p50_s": median(reads),
        "write_amp": per_round(raw["wchar"], n) / raw["input_bytes_per_round"],
        "heap_live_mb": raw["heap_used"] / MB,
    }


def diagnostics(raw):
    """Figures printed beside the metrics, never gated on."""
    ops, rounds = _timed(raw)
    lat = [(o["end"] - o["start"]) / 1000.0 for o in ops
           if o["kind"] != "read"]
    out = {"timed_ops": len(lat), "timed_rounds": len(rounds),
           "host_steal_share": raw["steal_share"], "loadavg": raw["loadavg"],
           "host_calib_ms": median(raw["calib_ms"]),
           "measured": measured(raw),
           "setup_marks_s": {k: (v - raw["jvm_start"]) / 1000.0
                             for k, v in raw["setup_marks"].items()}}
    if len(lat) >= P90_MIN_SAMPLES:
        v, beyond = tail_percentile(lat, 90)
        out["op_p90_s"] = v
        out["op_p90_beyond"] = beyond
    ops_s = {}
    for o in ops:
        ops_s.setdefault(o["name"], []).append(
            round((o["end"] - o["start"]) / 1000.0, 3))
    out["timed_op_s"] = ops_s
    failed = [o for o in raw["ops"] if not o["ok"]]
    if failed:
        out["failed_ops"] = sorted({o["name"] for o in failed})
    return out


def per_layer(raw):
    """The traced run's layer metrics, each normalised per timed round."""
    n = len(raw["rounds"])
    w0, w1 = raw["window_start"], raw["window_end"]
    spark = raw["spark"]
    jobs = [j for j in spark["jobs"] if w0 <= j["start"] < w1]
    for j in jobs:
        if not isinstance(j["end"], (int, float)) or j["end"] != j["end"]:
            j["end"] = w1  # still running when the run ended
    spans = [s for s in raw["spans"] if w0 <= s["start"] < w1]
    op_spans = [s for s in spans if s["parent"] == -1]
    selfs = self_times(spans)
    op_wall = sum(s["end"] - s["start"] for s in op_spans)
    m = {}

    job_iv = [(j["start"], j["end"]) for j in jobs]
    gap = sum((s["end"] - s["start"]) -
              union_length(job_iv, s["start"], s["end"]) for s in op_spans)
    m["spark.jobs_per_round"] = per_round(len(jobs), n)
    m["spark.short_jobs_per_round"] = per_round(
        sum(1 for j in jobs if j["end"] - j["start"] < SHORT_JOB_MS), n)
    m["spark.tasks_per_round"] = per_round(sum(j["tasks"] for j in jobs), n)
    m["spark.driver_gap_s"] = per_round(gap / 1000.0, n)
    m["spark.driver_gap_share"] = gap / op_wall if op_wall else 0.0
    plans = [p for p in spark["plans"] if w0 <= p["at"] <= w1]
    for phase in ("analysis", "optimization", "planning"):
        m[f"spark.plan_{phase}_s"] = per_round(
            sum(p[f"{phase}_ms"] for p in plans) / 1000.0, n)
    m["spark.executor_run_s"] = per_round(
        sum(j["run_ms"] for j in jobs) / 1000.0, n)
    m["spark.executor_cpu_s"] = per_round(
        sum(j["cpu_ns"] for j in jobs) / 1e9, n)
    m["spark.shuffle_write_mb"] = per_round(
        sum(j["shuffle_write"] for j in jobs) / MB, n)
    m["spark.spill_mb"] = per_round(sum(j["spill"] for j in jobs) / MB, n)
    m["spark.cached_mb_peak"] = raw["cached_peak"] / MB
    m["spark.gc_s"] = per_round(raw["gc_ms"] / 1000.0, n)

    samples = [x for x in spark["operator_samples"] if w0 <= x["at"] < w1]
    sampled, covered = sampled_busy(samples, spans, spark["sample_ms"])
    busy = {name: sampled.get(name, 0.0) for name in MODULE_SPANS}
    for s in spans:
        if s["name"] in busy:
            busy[s["name"]] += max(0.0, selfs[s["id"]] -
                                   covered.get(s["id"], 0.0))
    njobs = {name: 0 for name in JOB_SPANS}
    for j in jobs:
        s = innermost_span(spans, j["start"])
        if s is not None and s["name"] in njobs:
            njobs[s["name"]] += 1
    for name in MODULE_SPANS:
        m[f"{name}.busy_s"] = per_round(busy[name] / 1000.0, n)
    for name in JOB_SPANS:
        m[f"{name}.jobs"] = per_round(njobs[name], n)

    progress = [p for p in spark["progress"] if w0 <= p["at"] < w1]
    m["streaming.add_batch_s"] = per_round(
        sum(p["add_batch_ms"] for p in progress) / 1000.0, n)
    m["streaming.wal_commit_s"] = per_round(
        sum(p["wal_commit_ms"] for p in progress) / 1000.0, n)
    m["streaming.compact_s"] = per_round(
        sum(1 for t in spark["compacting"] if w0 <= t < w1) *
        spark["sample_ms"] / 1000.0, n)

    lake = raw["lake_rounds"]
    m["lake.bytes_written_per_round"] = (
        per_round(sum(r["bytes"] for r in lake), n) if lake else 0.0)
    m["lake.files_written_per_round"] = (
        per_round(sum(r["files"] for r in lake), n) if lake else 0.0)
    m["lake.bytes_live"] = float(raw["lake_bytes_live"])
    m["lake.files_live"] = float(raw["lake_files_live"])

    k = raw["kernels"]
    for name in KERNELS:
        m[f"functions.{name}.ns_per_kb"] = float(k.get(name, 0.0))
    c = raw["counters"]
    m["operators.Dedup.removed_ratio"] = (
        c["planted_removed"] / c["removed"] if c.get("removed") else 0.0)
    uncovered = sum(max(0.0, selfs[s["id"]] - covered.get(s["id"], 0.0))
                    for s in op_spans)
    m["trace.uncovered_share"] = uncovered / op_wall if op_wall else 0.0
    m["host.steal_share"] = raw["steal_share"]
    m["host.calib_ms"] = median(raw["calib_ms"])
    for name, v in end_to_end(raw).items():
        m[f"traced.{name}"] = v
    return m


PER_LAYER_UNITS = {
    "spark.jobs_per_round": "count", "spark.short_jobs_per_round": "count",
    "spark.tasks_per_round": "count", "spark.driver_gap_s": "s",
    "spark.driver_gap_share": "ratio", "spark.plan_analysis_s": "s",
    "spark.plan_optimization_s": "s", "spark.plan_planning_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MiB", "spark.spill_mb": "MiB",
    "spark.cached_mb_peak": "MiB", "spark.gc_s": "s",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.compact_s": "s", "lake.bytes_written_per_round": "bytes",
    "lake.files_written_per_round": "count", "lake.bytes_live": "bytes",
    "lake.files_live": "count", "operators.Dedup.removed_ratio": "ratio",
    "trace.uncovered_share": "ratio", "host.steal_share": "ratio",
    "host.calib_ms": "ms",
}
PER_LAYER_UNITS.update({f"{n}.busy_s": "s" for n in MODULE_SPANS})
PER_LAYER_UNITS.update({f"{n}.jobs": "count" for n in JOB_SPANS})
PER_LAYER_UNITS.update({f"functions.{n}.ns_per_kb": "ns/KiB" for n in KERNELS})
PER_LAYER_UNITS.update({f"traced.{n}": u for n, u in END_TO_END})


def result(raw):
    """The benchmark's result object for one run."""
    ops = raw["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and raw["finish_ok"] and len(raw["rounds"]) > 0
    if raw["tracing"]:
        values = per_layer(raw)
        units = PER_LAYER_UNITS
    else:
        values = end_to_end(raw)
        units = dict(END_TO_END)
    return {"correct": bool(correct), "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in values.items()}}
