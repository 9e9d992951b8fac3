"""Turns one run's raw measurements into the benchmark's metrics.

The JVM side records operation intervals, spans, Spark jobs and
process counters; everything derived from them is computed here:
percentiles, self times, the Spark gap and the per-layer figures.
"""

import statistics

# per-layer time metrics: metric name -> span name whose self time it sums
SPAN_TIMES = {
    "cli.upload_s": "cli.upload",
    "cli.download_s": "cli.download",
    "cli.move_s": "cli.move",
    "cli.remove_s": "cli.remove",
    "catalog.list_s": "catalog.select",
    "io.read_s": "io.read",
    "io.write_s": "io.write",
    "lake.append_s": "lake.append",
    "lake.read_s": "lake.read",
    "dedup.exact_s": "dedup.exact",
    "dedup.signatures_s": "dedup.signatures",
    "dedup.candidates_s": "dedup.candidates",
    "dedup.verify_s": "dedup.verify",
    "dedup.survivors_s": "dedup.survivors",
    "dedup.prefix_join_s": "dedup.prefix_join",
    "graphs.cc_s": "graphs.cc",
    "similarity.neardup_s": "similarity.neardup",
    "stream.sink_call_s": "stream.sink_call",
}

# per-layer counts: metric name -> counter recorded on spans
SPAN_COUNTS = {
    "catalog.objects_listed": "catalog.objects_listed",
    "io.files_written": "io.files_written",
    "dedup.candidate_pairs": "dedup.candidate_pairs",
    "dedup.verified_pairs": "dedup.verified_pairs",
    "graphs.cc_edges": "graphs.cc_edges",
    "graphs.cc_components": "graphs.cc_components",
    "similarity.candidate_pairs": "similarity.candidate_pairs",
    "state.rows_total": "state.rows_total",
    "state.memory_bytes": "state.memory_bytes",
    "state.commit_ms": "state.commit_ms",
    "state.dir_bytes": "state.dir_bytes",
}

# micro-batch phases (progress `durationMs` keys), summed over both streams
STREAM_PHASES = {
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.latest_offset_ms": "latestOffset",
}
STREAMS = ("stream.neardup", "stream.sessionize")

SPARK_SUMS = {
    "spark.jobs": None,
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.task_run_s": "run_ms",
    "spark.task_cpu_s": "cpu_ns",
    "spark.task_wait_s": "wait_ms",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.spill_bytes": "spill_bytes",
    "spark.result_bytes": "result_bytes",
}
SPARK_SCALE = {"run_ms": 1e-3, "wait_ms": 1e-3, "cpu_ns": 1e-9}

# The local filesystem counts bytes but not operations, so only the
# byte counters are reported.
FS_KEYS = {"fs.bytes_read": "bytesRead", "fs.bytes_written": "bytesWritten"}


def per_layer_unit(name):
    """Unit of a per-layer metric, from its name's suffix."""
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name == "catalog.s_per_kobject":
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_per_listed") or name.endswith("_per_candidate"):
        return "ratio"
    return "count"


def tail_percentile(values, min_beyond=10):
    """Latency at the highest percentile with at least `min_beyond`
    samples above it, as (value, percentile, sample count); None when
    there are too few samples for any such percentile."""
    xs = sorted(values)
    n = len(xs)
    k = n - 1 - min_beyond
    if k < 0:
        return None
    return xs[k], 100.0 * (k + 1) / n, n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, optionally clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(
            (s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"]) - union_length(
        children.get(s["id"], []), s["start_ns"], s["end_ns"]) for s in spans}


def spark_gap(start, end, job_intervals):
    """Wall time of [start, end] not covered by any Spark job."""
    return (end - start) - union_length(job_intervals, start, end)


def is_bench(span):
    """Spans of the benchmark's own measuring work, charged to no layer."""
    return span["name"].startswith("bench.measure")


def attribute_jobs(jobs, spans, ops, prefix):
    """Operation id -> jobs. A job whose group names a span belongs to
    that span's operation, unless the span is the benchmark's own
    measuring work; any other job (a streaming query's own group) to
    the operation running when it started."""
    by_id = {s["id"]: s for s in spans}
    by_op = {}
    for j in jobs:
        op = None
        if j["group"].startswith(prefix):
            span = by_id.get(int(j["group"][len(prefix):]))
            if span is not None and is_bench(span):
                continue
            op = None if span is None else span["op"]
        if op is None:
            t = j["start_ms"] * 1_000_000
            op = next((o["i"] for o in ops
                       if o["start_ns"] <= t <= o["end_ns"]), None)
        if op is not None:
            by_op.setdefault(op, []).append(j)
    return by_op


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw):
    """Metrics a user sees, from the untraced operations of the timed
    phase, plus side figures for the auxiliary output line."""
    timed = [o for o in raw["ops"] if o["phase"] == "timed"]
    lat = [(o["end_ns"] - o["start_ns"]) / 1e9 for o in timed]
    w = raw["window"]
    window_s = (w["end_ns"] - w["start_ns"]) / 1e9
    in_bytes = sum(o["input_bytes"] for o in timed)
    metrics = {
        "setup_s": (statistics.median(raw["setup_s"]), "s"),
        "op_p50_s": (_median(lat), "s"),
        "rows_per_s": (sum(o["rows"] for o in timed) / window_s, "rows/s"),
        "write_bytes_per_input_byte": (
            w["fs"]["bytesWritten"] / in_bytes if in_bytes else 0.0, "ratio"),
    }
    tail = tail_percentile(lat)
    aux = {
        "op_tail_s": None if tail is None else
        {"value": tail[0], "percentile": tail[1], "samples": tail[2]},
        "op_latencies_s": lat,
        "objects_per_s": sum(o["objects"] for o in timed) / window_s,
        "setup_runs_s": raw["setup_s"],
        "inputs_exhausted": w["inputs_exhausted"],
    }
    return metrics, aux


def _ratio(a, b):
    return a / b if b else 0.0


def op_layer_metrics(spans, selfs, jobs):
    """Layer figures of one traced operation: its spans (the root span
    is named "op"), their self times and the Spark jobs attributed to
    it. Returns the metrics and each layer's self time."""
    root = next(s for s in spans if s["name"] == "op")
    counts = {}
    for s in spans:
        for k, v in s["counts"].items():
            counts[k] = counts.get(k, 0.0) + v
    m = {k: sum(selfs[s["id"]] for s in spans if s["name"] == n) / 1e9
         for k, n in SPAN_TIMES.items()}
    m.update({k: counts.get(c, 0.0) for k, c in SPAN_COUNTS.items()})
    listed = counts.get("catalog.objects_listed", 0.0)
    commits = counts.get("lake.commits", 0.0)
    m.update({
        "cli.objects_per_call": _ratio(counts.get("cli.objects", 0.0),
                                       counts.get("cli.calls", 0.0)),
        "catalog.s_per_kobject": _ratio(m["catalog.list_s"], listed / 1000),
        "catalog.selected_per_listed": _ratio(
            counts.get("catalog.objects_selected", 0.0), listed),
        "lake.log_bytes_per_commit": _ratio(counts.get("lake.log_bytes", 0.0), commits),
        "lake.files_per_commit": _ratio(counts.get("lake.files_added", 0.0), commits),
        "dedup.verified_per_candidate": _ratio(
            counts.get("dedup.verified_pairs", 0.0),
            counts.get("dedup.candidate_pairs", 0.0)),
        "stream.batches_per_step": sum(counts.get(f"{q}.batches", 0.0) for q in STREAMS),
    })
    for k, phase in STREAM_PHASES.items():
        m[k] = sum(counts.get(f"{q}.{phase}", 0.0) for q in STREAMS)
    m.update({k: float(root["fs"][f]) for k, f in FS_KEYS.items()})
    for k, f in SPARK_SUMS.items():
        m[k] = float(len(jobs)) if f is None else \
            sum(j[f] for j in jobs) * SPARK_SCALE.get(f, 1.0)
    # driver time outside any job, not counting the benchmark's measuring
    m["spark.gap_s"] = spark_gap(
        root["start_ns"], root["end_ns"],
        [(j["start_ms"] * 1_000_000, j["end_ms"] * 1_000_000) for j in jobs]
        + [(s["start_ns"], s["end_ns"]) for s in spans if is_bench(s)]) / 1e9
    m["jvm.gc_s"] = root["gc_ms"] / 1e3
    by_layer = {}
    for s in spans:
        layer = "bench" if s["name"] == "op" else s["name"].split(".")[0]
        by_layer[layer] = by_layer.get(layer, 0.0) + selfs[s["id"]] / 1e9
    return m, by_layer


def per_layer(raw):
    """Per-operation layer figures of the traced operations, each the
    median over those operations, plus the tracing overhead and each
    layer's self time for the auxiliary line."""
    spans = raw["spans"]
    ops = [o for o in raw["ops"] if o["phase"] == "timed"]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    selfs = self_times(spans)
    jobs = attribute_jobs(raw["jobs"], spans, ops, raw["span_group_prefix"])
    per_op, layer_self = [], []
    for o in traced:
        m, by_layer = op_layer_metrics(
            [s for s in spans if s["op"] == o["i"]], selfs, jobs.get(o["i"], []))
        per_op.append(m)
        layer_self.append(((o["end_ns"] - o["start_ns"]) / 1e9, by_layer))
    wall_t = _median([w for w, _ in layer_self])
    wall_u = _median([(o["end_ns"] - o["start_ns"]) / 1e9 for o in untraced])
    layers = sorted({k for _, b in layer_self for k in b})
    aux = {
        "traced_ops": len(traced),
        "untraced_ops": len(untraced),
        "traced_op_p50_s": wall_t,
        "untraced_op_p50_s": wall_u,
        "tracing_overhead_s": wall_t - wall_u,
        "self_s": {k: _median([b.get(k, 0.0) for _, b in layer_self]) for k in layers},
        # self times tile a traced operation: |wall - sum of self times|
        "unaccounted_s": _median([abs(w - sum(b.values())) for w, b in layer_self]),
    }
    metrics = {k: _median([m[k] for m in per_op]) for k in PER_LAYER
               if k != "jvm.heap_peak_mb"}
    metrics["jvm.heap_peak_mb"] = raw["window"]["heap_peak_bytes"] / 2**20
    return metrics, aux


PER_LAYER = sorted(
    list(SPAN_TIMES) + list(SPAN_COUNTS) + list(STREAM_PHASES) + list(FS_KEYS)
    + list(SPARK_SUMS) + [
        "cli.objects_per_call", "catalog.s_per_kobject",
        "catalog.selected_per_listed", "lake.log_bytes_per_commit",
        "lake.files_per_commit", "dedup.verified_per_candidate",
        "stream.batches_per_step", "spark.gap_s", "jvm.gc_s", "jvm.heap_peak_mb"])
