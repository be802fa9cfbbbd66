"""Arithmetic that turns a raw PerfBench record into metrics.

Kept free of I/O so `test_metrics.py` can pin every rule: the percentile
rule, the ratios with their bases, and per-op idle-time accounting.
"""
import statistics


def percentile(values, q):
    """q-quantile (0 < q < 1) by linear interpolation between order
    statistics, the same rule as numpy's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_tail(values, qs=(0.99, 0.95, 0.9, 0.75)):
    """The highest quantile in `qs` with at least ten samples strictly
    beyond it, as (q, value); None when even the lowest has fewer."""
    if not values:
        return None
    for q in qs:
        cut = percentile(values, q)
        if sum(1 for v in values if v > cut) >= 10:
            return q, cut
    return None


def ratio(num, den):
    """num / den, with an empty base reading as 0 rather than failing."""
    return num / den if den else 0.0


def covered_ms(intervals, start, end):
    """Length of the union of [a, b) intervals clipped to [start, end)."""
    spans = sorted((max(a, start), min(b, end)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def idle_ms(op, tasks):
    """Wall time of `op` during which none of its tasks ran."""
    return (op["end"] - op["start"]) - covered_ms(
        [(t["launch"], t["finish"]) for t in tasks], op["start"], op["end"])


def by_kind(events):
    out = {}
    for e in events:
        out.setdefault(e["kind"], []).append(e)
    return out


def end_to_end(rec, n_docs):
    """The untraced metrics of one run, each as a (value, unit) pair,
    plus the op latencies they came from."""
    ev = by_kind(rec["events"])
    ops = [o for o in ev.get("op", []) if o["group"].startswith("m-")]
    w = rec["workload"]
    if w == "daily_ingest":
        lat = [p["durations"]["triggerExecution"] / 1000.0
               for p in ev.get("progress", [])
               if rec["measure_start"] <= p["t"] <= rec["measure_end"]]
        rate = ratio(rec["items_probed"], rec["loop_ms"] / 1000.0)
    else:
        lat = [(o["end"] - o["start"]) / 1000.0 for o in ops if o["ok"]]
        # documents through the whole chain per second of chain time
        rate = ratio(n_docs * len(lat), sum(lat))
    return {
        "setup_s": (statistics.median(rec["setup_s"]), "s"),
        # a mean, not a median: a round's micro-batches are bimodal (the
        # first two warm up, every third compacts), so its median falls
        # on the edge between the groups and jumps from run to run
        "latency_s": (statistics.mean(lat) if lat else 0.0, "s"),
        "throughput_per_s": (rate, "1/s"),
        "retained_heap_mb": (rec["retained_heap_mb"], "MB"),
    }, lat


def per_layer(rec, lat):
    """The traced metrics of one run. Totals are divided by the run's
    unit of work (a chain or a micro-batch); streaming counts are per
    ingest round."""
    ev = by_kind(rec["events"])
    m0, m1 = rec["measure_start"], rec["measure_end"]
    w = rec["workload"]
    ops = [o for o in ev.get("op", []) if o["group"].startswith("m-")]
    groups = {o["group"] for o in ops}
    progress = [p for p in ev.get("progress", []) if m0 <= p["t"] <= m1]
    if w == "daily_ingest":
        # stream jobs run under the stream's own job group: attribute
        # by the measured window instead
        def mine(e, t="t"):
            return m0 <= e[t] <= m1
        units = len(progress)
    else:
        def mine(e, t="t"):
            return e["group"] in groups
        units = len(ops)
    tasks = [t for t in ev.get("task", []) if mine(t, "launch")]
    qes = [q for q in ev.get("qe", []) if m0 <= q["t"] <= m1]
    spans = [s for s in ev.get("span", []) if s["group"] in groups]
    steps = [s for s in ev.get("step", []) if s["group"] in groups]

    def per_unit(xs, key):
        return ratio(sum(x.get(key, 0) for x in xs), units)

    def span_ms(layer):
        return ratio(sum(s["end"] - s["start"] for s in spans
                         if s["layer"] == layer), units)

    def dur(key):
        return ratio(sum(p["durations"].get(key, 0) for p in progress),
                     len(progress))

    if w == "daily_ingest":
        idle = 0.0
    else:
        by_group = {}
        for t in tasks:
            by_group.setdefault(t["group"], []).append(t)
        idle = ratio(sum(idle_ms(o, by_group.get(o["group"], [])) for o in ops),
                     len(ops))
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    out = {
        "operators.build_ms": (span_ms("operators.build"), "ms"),
        "plans.optimize_ms": (per_unit(qes, "optimize_ms"), "ms"),
        "plans.physical_ms": (per_unit(qes, "physical_ms"), "ms"),
        "plans.executed_nodes": (per_unit(qes, "nodes"), "count"),
        "runtime.jobs": (ratio(len([j for j in ev.get("job", []) if mine(j)]), units), "count"),
        "runtime.stages": (ratio(len([s for s in ev.get("stage", []) if mine(s)]), units), "count"),
        "runtime.tasks": (ratio(len(tasks), units), "count"),
        "runtime.task_deserialize_ms": (per_unit(tasks, "deser_ms"), "ms"),
        "runtime.task_run_ms": (per_unit(tasks, "run_ms"), "ms"),
        "runtime.task_cpu_ms": (per_unit(tasks, "cpu_ms"), "ms"),
        "runtime.task_gc_ms": (per_unit(tasks, "gc_ms"), "ms"),
        "runtime.driver_idle_ms": (idle, "ms"),
        "runtime.shuffle_write_bytes": (per_unit(tasks, "shuffle_write"), "bytes"),
        "runtime.shuffle_read_bytes": (per_unit(tasks, "shuffle_read"), "bytes"),
        "runtime.shuffle_fetch_wait_ms": (per_unit(tasks, "fetch_wait_ms"), "ms"),
        "runtime.spill_bytes": (per_unit(tasks, "spill"), "bytes"),
        "runtime.broadcast_bytes": (per_unit(qes, "broadcast_bytes"), "bytes"),
        "engine.scan_bytes_read": (per_unit(tasks, "in_bytes"), "bytes"),
        "engine.scan_records_read": (per_unit(tasks, "in_records"), "count"),
        "engine.cache_bytes_peak": (max([o["cache_bytes"] for o in ops + steps] or [0]),
                                    "bytes"),
        "engine.sink_bytes_written": (per_unit(tasks, "out_bytes"), "bytes"),
        "engine.sink_records_written": (per_unit(tasks, "out_records"), "count"),
        "engine.index_files": (rec.get("index_files", 0), "count"),
        "engine.compact_ms": (span_ms("engine.compact"), "ms"),
        "engine.stored_bytes_per_input_byte": (ratio(
            rec.get("index_bytes", 0) + rec.get("sink_bytes", 0),
            rec.get("input_bytes", 0)), "ratio"),
        "streaming.batches": (len(progress), "count"),
        "streaming.add_batch_ms": (dur("addBatch"), "ms"),
        "streaming.planning_ms": (dur("queryPlanning"), "ms"),
        "streaming.commit_ms": (dur("walCommit") + dur("commitOffsets"), "ms"),
        "streaming.trigger_ms": (dur("triggerExecution"), "ms"),
        "streaming.absorbed_ratio": (ratio(rec.get("absorbed_docs", 0),
                                          rec.get("held_out_docs", 0)), "ratio"),
        "ops_failed_ratio": (ratio(failed, attempted), "ratio"),
        "traced.latency_s": (statistics.mean(lat) if lat else 0.0, "s"),
    }
    return out


def self_times(rec):
    """Wall time per unit of work split into exclusive layer shares, for
    the traced run's record: time with any task running (runtime), the
    query-builder calls (operators), optimizer and planner (plans), the
    benchmark's compaction hook (engine), streaming trigger overhead
    outside the batch body (streaming), and the driver-side rest."""
    ev = by_kind(rec["events"])
    m0, m1 = rec["measure_start"], rec["measure_end"]
    ops = [o for o in ev.get("op", []) if o["group"].startswith("m-")]
    groups = {o["group"] for o in ops}
    spans = [s for s in ev.get("span", []) if s["group"] in groups]
    qes = [q for q in ev.get("qe", []) if m0 <= q["t"] <= m1]
    progress = [p for p in ev.get("progress", []) if m0 <= p["t"] <= m1]
    if rec["workload"] == "daily_ingest":
        tasks = [t for t in ev.get("task", []) if m0 <= t["launch"] <= m1]
        units = len(progress)
    else:
        tasks = [t for t in ev.get("task", []) if t["group"] in groups]
        units = len(ops)
    wall = sum(o["end"] - o["start"] for o in ops)
    busy = sum(covered_ms([(t["launch"], t["finish"]) for t in tasks],
                          o["start"], o["end"]) for o in ops)
    build_ms = sum(s["end"] - s["start"] for s in spans if s["layer"] == "operators.build")
    compact = sum(s["end"] - s["start"] for s in spans if s["layer"] == "engine.compact")
    plans = sum(q["optimize_ms"] + q["physical_ms"] for q in qes)
    stream = sum(p["durations"].get("triggerExecution", 0) - p["durations"].get("addBatch", 0)
                 for p in progress)
    shares = {"runtime": busy, "operators": build_ms, "plans": plans,
              "engine": compact, "streaming": stream}
    shares["driver"] = max(0, wall - sum(shares.values()))
    return {k: ratio(v, units) for k, v in shares.items()}
