"""Arithmetic for the graft benchmark: percentiles, the tail index,
span self time, and the metrics a run reports. Pure functions over the
JSON one JVM run writes, so they can be tested without Spark."""

import math
import statistics


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between
    closest ranks, as numpy's default method computes it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, beyond=10):
    """The highest whole percentile that still has at least `beyond` of
    `n` samples above it, or None when n is too small for any."""
    if n < beyond + 1:
        return None
    p = math.floor(100.0 * (n - beyond) / n)
    while p > 0 and n - math.ceil(n * p / 100.0) < beyond:
        p -= 1
    return p if p > 0 else None


def covered(intervals, start, end):
    """Length of [start, end) covered by the union of `intervals`."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals
                     if b > start and a < end)
    total = 0
    cur_a = cur_b = None
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
    """Self time of each span in ns: its duration minus the part of it
    its direct child spans cover. Returns {span id: ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ns"], c["end_ns"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered(
            kids, s["start_ns"], s["end_ns"])
    return out


def steady_after(walls, tolerance=0.05):
    """1-based index of the first op that is no faster than the best
    before it by more than `tolerance`: where the per-op wall stopped
    falling. None while every op is still clearly faster than the last
    best (the JIT still warming)."""
    for i in range(1, len(walls)):
        if walls[i] >= (1 - tolerance) * min(walls[:i]):
            return i + 1
    return None


def median(values):
    return statistics.median(values) if values else 0.0


# Per-layer metrics and their units. Every workload reports every one;
# a layer a workload does not touch reads 0 (the bypass prediction).
SPAN_METRICS = {
    # name: (span name, unit)
    "sources.load_ms": ("sources.load", "ms"),
    "pipeline.immigration_fact_s": ("pipeline.immigration_fact", "s"),
    "pipeline.port_demographics_s": ("pipeline.port_demographics", "s"),
    "pipeline.write_star_schema_s": ("pipeline.write_star_schema", "s"),
    "index.hybrid_probe_ms": ("ext.textops.hybrid_rrf_store_top_docs", "ms"),
    "index.lex_arm_ms": ("ext.textops.bm25_store_query_arm", "ms"),
    "index.ivf_arm_ms": ("ext.similarity.ivf_index_store_probe", "ms"),
    "index.lex_append_ms": ("ext.textops.bm25_index_append", "ms"),
    "index.ivf_append_ms": ("ext.similarity.ivf_index_store_append", "ms"),
    "index.lex_compact_s": ("ext.textops.bm25_index_compact", "s"),
    "index.ivf_compact_s": ("ext.similarity.ivf_index_store_compact", "s"),
}

SPARK_METRICS = {
    # name: (counter, scale, unit) — summed over the spans of one op
    "spark.jobs": ("jobs", 1, "count"),
    "spark.tasks": ("tasks", 1, "count"),
    "spark.task_cpu_s": ("task_cpu_ns", 1e-9, "s"),
    "spark.gc_s": ("gc_ms", 1e-3, "s"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", 1, "bytes"),
    "spark.spill_bytes": ("spill_bytes", 1, "bytes"),
}

# The workload's main op: the one whose latency is op_p50_ms.
MAIN_OP = {"star_etl": "etl", "index_serve": "probe"}

OTHER_METRICS = {
    "spark.driver_gap_s": "s",
    "pipeline.files_written": "count",
    "pipeline.output_bytes": "bytes",
    "pipeline.write_amp": "ratio",
    "index.probe_tail_ms": "ms",
    "index.append_p50_ms": "ms",
    "index.probe_input_bytes": "bytes",
    "index.append_bytes_written": "bytes",
    "index.store_files": "count",
    "index.compact_s": "s",
    "index.compact_bytes_rewritten": "bytes",
    "index.write_amp": "ratio",
    "index.space_amp": "ratio",
    "trace.op_p50_ms": "ms",
}

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "rows_per_s": "1/s"}


def setup_s(raw):
    """JVM start to a ready session, plus the median of the run's
    repeated set-ups (input generation and, for index_serve, the store
    build)."""
    return raw["session_s"] + median(raw["setup_rep_s"])


def end_to_end(raw):
    wl = raw["workload"]
    s = raw["samples"]
    op = median(s.get(MAIN_OP[wl], []))
    if wl == "index_serve":
        # ingest throughput of the store write path
        append = median(s.get("append", []))
        rows = median(s.get("append_rows", [])) / (append / 1000.0) if append else 0.0
    else:
        rows = raw["counters"]["input_rows"] / (op / 1000.0) if op else 0.0
    return {"setup_s": setup_s(raw), "op_p50_ms": op, "rows_per_s": rows}


def tail(values):
    """(tail percentile, its value, n), or (None, None, n)."""
    p = tail_percentile(len(values))
    return (p, percentile(values, p) if p else None, len(values))


def per_layer(raw):
    wl = raw["workload"]
    spans = raw["spans"]
    s = raw["samples"]
    c = raw["counters"]
    selfs = self_times(spans)
    m = {}
    for name, (span, unit) in SPAN_METRICS.items():
        xs = [selfs[x["id"]] for x in spans if x["name"] == span]
        m[name] = median(xs) * (1e-6 if unit == "ms" else 1e-9)

    # Spark counters per main op: every span the op opened
    main = "op." + MAIN_OP[wl]
    ops = {x["op"]: x for x in spans if x["name"] == main}
    per_op = {o: [x for x in spans if x["op"] == o] for o in ops}
    for name, (key, scale, _) in SPARK_METRICS.items():
        m[name] = median([sum(x["spark"][key] for x in xs) * scale
                          for xs in per_op.values()])
    gaps = []
    for o, root in ops.items():
        jobs = [j for x in per_op[o] for j in x["spark"]["job_ms"]]
        # job times are epoch ms; the span's own clock is relative, so
        # compare lengths: wall minus the union of job intervals
        wall_ms = (root["end_ns"] - root["start_ns"]) / 1e6
        if jobs:
            lo = min(a for a, _ in jobs)
            busy = covered(jobs, lo, max(b for _, b in jobs))
        else:
            busy = 0
        gaps.append(max(0.0, wall_ms - busy) / 1000.0)
    m["spark.driver_gap_s"] = median(gaps)
    m["trace.op_p50_ms"] = median(s.get(MAIN_OP[wl], []))

    m["pipeline.files_written"] = median(s.get("files_written", []))
    m["pipeline.output_bytes"] = median(s.get("output_bytes", []))
    m["pipeline.write_amp"] = (m["pipeline.output_bytes"] / c["input_bytes"]
                               if wl == "star_etl" else 0.0)

    probes = s.get("probe", [])
    p, v, _ = tail(probes)
    m["index.probe_tail_ms"] = v or 0.0
    m["index.append_p50_ms"] = median(s.get("append", []))
    probe_ops = {x["op"] for x in spans if x["name"] == "op.probe"}
    m["index.probe_input_bytes"] = median([
        sum(x["spark"]["input_bytes"] for x in spans if x["op"] == o)
        for o in probe_ops])
    m["index.append_bytes_written"] = median(s.get("append_bytes_written", []))
    m["index.store_files"] = c.get("store_files", 0)
    m["index.compact_s"] = median(s.get("compact", [])) / 1000.0
    compact_ops = {x["op"] for x in spans if x["name"] == "op.compact"}
    m["index.compact_bytes_rewritten"] = sum(
        x["spark"]["output_bytes"] for x in spans if x["op"] in compact_ops)
    if wl == "index_serve":
        m["index.write_amp"] = (sum(s.get("append_bytes_written", []))
                                / c["appended_input_bytes"])
        m["index.space_amp"] = (c["store_bytes_after_compact"]
                                / c["live_input_bytes"])
    else:
        m["index.write_amp"] = m["index.space_amp"] = 0.0
    return m


def units():
    u = {k: v for k, (_, v) in SPAN_METRICS.items()}
    u.update({k: v for k, (_, _, v) in SPARK_METRICS.items()})
    u.update(OTHER_METRICS)
    return u


def result(raw, traced):
    """The one-line result: correctness, op counts and metrics."""
    checks = raw["checks"]
    correct = bool(checks) and all(c["ok"] for c in checks) and \
        bool(raw["samples"].get(MAIN_OP[raw["workload"]]))
    if traced:
        vals, unit = per_layer(raw), units()
    else:
        vals, unit = end_to_end(raw), END_TO_END
    return {"correct": correct, "attempted": int(raw["attempted"]),
            "failed": int(raw["failed"]),
            "metrics": {k: {"value": vals[k], "unit": unit[k]} for k in unit}}
