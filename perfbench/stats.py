"""Turns the raw samples, spans and counters of one run into metrics.

Pure functions over plain lists, so the rules the benchmark reports by
(percentiles, self time, freshness matching) are unit-tested in
test_stats.py without Spark.
"""
import bisect
import math

MIN_BEYOND = 10


def percentile(values, q):
    """q-th percentile (0..100) with linear interpolation between ranks."""
    if not values:
        return float("nan")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n, candidates=(99.9, 99, 90, 75, 50)):
    """Highest candidate percentile with at least MIN_BEYOND of n samples
    above it, or None when even the median is unsupported."""
    for q in candidates:
        if math.floor(round(n * (100 - q) / 100.0, 9)) >= MIN_BEYOND:
            return q
    return None


def self_times(spans):
    """Span id -> self time in ns: its duration minus the part of its
    interval that its direct children cover (overlaps counted once).
    Spans are (id, parent, op, name, start_ns, end_ns)."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append((s[4], s[5]))
    out = {}
    for s in spans:
        start, end = s[4], s[5]
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in sorted(kids.get(s[0], [])):
            lo, hi = max(lo, start), min(hi, end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s[0]] = (end - start) - covered
    return out


def visible_rows(batches):
    """Sorted (batch id, lines ingested through that batch). The sink
    writes snapshot version v from micro-batch v, and the file source
    takes landed files as a prefix, so version v holds exactly the first
    `rows` landed lines."""
    out, total = [], 0
    for b in sorted(batches, key=lambda b: b[0]):
        total += b[1]
        out.append((b[0], total))
    return out


def freshness(lines, batches, reads):
    """Freshness of every new event: time from its ts_ms to the end of the
    first dashboard read whose snapshot contains it.

    lines:   (global line index, ts_ms, fresh) in landing order; replays
             (fresh false) re-deliver an earlier event and are skipped.
    batches: (batch id, input rows, ...) from the progress listener.
    reads:   (done ms, snapshot version, latency ms) of the client.
    Returns (freshness ms of each matched event, count never seen)."""
    vis = visible_rows(batches)
    ids = [v[0] for v in vis]

    def rows_at(version):
        i = bisect.bisect_right(ids, version) - 1
        return vis[i][1] if i >= 0 else 0

    events = sorted((l[0], l[1]) for l in lines if l[2])
    out, i, seen_rows = [], 0, 0
    for done, version, _ in sorted(reads, key=lambda r: r[0]):
        seen_rows = max(seen_rows, rows_at(version))
        while i < len(events) and events[i][0] < seen_rows:
            out.append(done - events[i][1])
            i += 1
    return out, len(events) - i


def backlog(files, batches, first_live_batch):
    """Largest number of landed but not yet ingested lines at the start of
    a live micro-batch. files: (due ms, landed ms, lines landed so far);
    batches: (id, rows, done ms, start ms, ...)."""
    worst, ingested = 0, 0
    for b in sorted(batches, key=lambda b: b[0]):
        if b[0] > first_live_batch:
            landed = max([f[2] for f in files if f[1] <= b[3]], default=None)
            if landed is not None:
                worst = max(worst, landed - ingested)
        ingested += b[1]
    return worst


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_per_s": "1/s",
    "read_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "query.build_ms": "ms", "plan.plan_ms": "ms", "exec.execute_ms": "ms",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes", "exec.tasks": "count",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms",
    "memo.cold_builds": "count", "memo.build_s": "s",
    "sources.get_batch_ms": "ms", "sources.latest_offset_ms": "ms",
    "sources.backlog_events": "events", "gen.lateness_ms": "ms",
    "state.rows_total": "rows", "state.memory_bytes": "bytes",
    "state.update_ms": "ms", "state.commit_ms": "ms",
    "sinks.add_batch_ms": "ms", "sinks.batch_ms_p50": "ms", "sinks.batch_ms_p99": "ms",
    "sinks.bytes_written_per_event": "bytes", "sinks.read_latest_ms": "ms",
    "sinks.snapshot_files": "count",
    "trace.latency_p50_ms": "ms",
}


def per_query(names, ms):
    """Per-query median latency, and the duration of each whole pass (one
    execution of every query; the client runs passes back to back)."""
    by = {}
    for n, x in zip(names, ms):
        by.setdefault(n, []).append(x)
    k = len(by)
    passes = [sum(ms[i:i + k]) for i in range(0, len(ms) - k + 1, k)] if k else []
    return {n: percentile(xs, 50) for n, xs in by.items()}, passes


def end_to_end(workload, raw):
    """(metrics dict name -> value, notes dict, events never seen).

    cdc_live: latency is freshness over every new event, tail its p99,
    throughput the backfill drain rate, read the dashboard reads.
    Query workloads: each query's median over its passes is one value;
    latency is the median and tail the p90 of those values across the
    workload's queries (a pooled median over a few distinct queries lands
    in the gaps between them and jumps from run to run), throughput is
    queries per second over the median pass, read equals latency."""
    notes, unseen = {}, 0
    if workload == "cdc_live":
        lat, unseen = freshness(raw["lines"], raw["batches"], raw["reads"])
        tail = percentile(lat, 99)
        thr = raw["backfill_events"] / raw["backfill_s"]
        read = percentile(raw["read_ms"], 50)
        notes["freshness_samples"] = len(lat)
        notes["freshness_highest_supported_percentile"] = supported_percentile(len(lat))
        notes["reads"] = len(raw["read_ms"])
    else:
        med, passes = per_query(raw["op_names"], raw["op_ms"])
        lat = list(med.values())
        tail = percentile(lat, 90)
        thr = len(med) / (percentile(passes, 50) / 1000.0)
        read = percentile(lat, 50)
        notes["queries"] = len(med)
        notes["passes"] = len(passes)
        notes["executions_highest_supported_percentile"] = supported_percentile(len(raw["op_ms"]))
    m = {
        "setup_s": raw["setup_s"],
        "latency_p50_ms": percentile(lat, 50),
        "latency_tail_ms": tail,
        "throughput_per_s": thr,
        "read_p50_ms": read,
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    return m, notes, unseen


def per_layer(workload, raw, e2e):
    spans = [tuple(s) for s in raw.get("spans", [])]
    selft = self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s[3], []).append(selft[s[0]] / 1e6)
    ops = max(raw.get("completed", 0), 1)
    batches = raw.get("batches", [])
    live = [b for b in batches if b[0] > raw.get("live_batch0", -1)]
    lines = raw.get("lines", [])
    files = raw.get("files", [])
    last = max(live, key=lambda b: b[0]) if live else None
    return {
        "query.build_ms": mean(by_name.get("query.build", [])),
        "plan.plan_ms": mean(by_name.get("plan.plan", [])),
        "exec.execute_ms": mean(by_name.get("exec.execute", [])),
        "exec.shuffle_write_bytes": raw.get("exec_shuffle_write_bytes", 0) / ops,
        "exec.spill_bytes": raw.get("exec_spill_bytes", 0) / ops,
        "exec.tasks": raw.get("exec_tasks", 0) / ops,
        "jvm.gc_ms": raw.get("jvm_gc_ms", 0),
        "jvm.jit_ms": raw.get("jvm_jit_ms", 0),
        "memo.cold_builds": raw.get("memo_window_builds", 0),
        "memo.build_s": raw.get("memo_build_s", 0),
        "sources.get_batch_ms": mean([b[6] for b in live]),
        "sources.latest_offset_ms": mean([b[7] for b in live]),
        "sources.backlog_events": backlog(files, batches, raw.get("live_batch0", -1)),
        "gen.lateness_ms": max([f[1] - f[0] for f in files], default=0),
        "state.rows_total": last[8] if last else 0,
        "state.memory_bytes": last[9] if last else 0,
        "state.update_ms": mean([b[10] for b in live]),
        "state.commit_ms": mean([b[11] for b in live]),
        "sinks.add_batch_ms": mean([b[5] for b in live]),
        "sinks.batch_ms_p50": percentile([b[4] for b in live], 50) if live else 0,
        "sinks.batch_ms_p99": percentile([b[4] for b in live], 99) if live else 0,
        "sinks.bytes_written_per_event": raw.get("sink_live_bytes", 0) / max(len(lines), 1),
        "sinks.read_latest_ms": mean(by_name.get("sinks.read_latest", [])),
        "sinks.snapshot_files": raw.get("sink_snapshot_files", 0),
        "trace.latency_p50_ms": e2e["latency_p50_ms"],
    }
