"""Metrics of one benchmark run, computed from the raw record the JVM
harness writes (operations, Spark jobs and stages, spans, counters).

End-to-end metrics come from untraced runs, per-layer metrics from a
traced run; both workloads report every metric of both lists (a layer a
workload never calls reports 0)."""
import re
import statistics

# Modules whose stage task time is reported (from stage call sites), and
# the layers the harness calls through spans (whose self time is reported).
TASK_LAYERS = ("store", "scan", "plans", "pipeline", "functions", "queries")
SPAN_LAYERS = ("store", "scan", "plans", "queries")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_ms": "ms",
    "jobs_per_op": "count",
    "task_s_per_op": "s",
    "peak_heap_mb": "MB",
}

PER_LAYER = {
    "keys.tail_bucket_max_over_mean": "ratio",
    "store.read_ms": "ms",
    "store.write_ms": "ms",
    "store.bytes_written": "bytes",
    "store.files_written": "count",
    "store.files_live": "count",
    "store.write_amp": "ratio",
    "store.space_amp": "ratio",
    "store.compact_ms": "ms",
    "store.compactions": "count",
    "scan.get_exec_ms": "ms",
    "scan.files_read_per_get": "count",
    "scan.first_row_ms": "ms",
    "scan.rows_read_per_row_returned": "ratio",
    "scan.jobs_per_get": "count",
    "scan.jobs_per_scan": "count",
    "plans.jobs_per_agg": "count",
    "plans.rescue_frac": "ratio",
    "queries.labeled_jobs": "count",
    "queries.unlabeled_jobs": "count",
    "total.cold_s": "s",
    "total.cold_jobs": "count",
    "total.cold_driver_gap_s": "s",
    "total.driver_gap_ms_per_op": "ms",
    "total.task_s": "s",
    "total.shuffle_mb": "MB",
    "total.spill_mb": "MB",
    "total.busy_cores": "cores",
    "trace.op_ms": "ms",
    "trace.spans_per_op": "count",
    **{f"{layer}.task_s": "s" for layer in TASK_LAYERS},
    **{f"{layer}.self_ms": "ms" for layer in SPAN_LAYERS},
}

MIN_BEYOND = 10  # samples a reported percentile must have above it


def percentile(values, q):
    """The q-quantile (0 < q < 1) of `values` with its sample count, or
    None when fewer than MIN_BEYOND samples lie beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0 or round(n * (1 - q), 9) < MIN_BEYOND:
        return None
    return {"value": xs[min(n - 1, int(q * n))], "n": n}


def median(values, default=0.0):
    return statistics.median(values) if values else default


def union_ms(intervals):
    """Total length covered by possibly overlapping (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    a, b = span["start"], span["end"]
    clipped = [(max(a, c["start"]), min(b, c["end"])) for c in children]
    return (b - a) - union_ms([(x, y) for x, y in clipped if y > x])


def jobs_by_label(jobs):
    """Job counts per job description; unlabeled jobs under None. The
    counts always sum to len(jobs)."""
    out = {}
    for j in jobs:
        out[j.get("label")] = out.get(j.get("label"), 0) + 1
    return out


_FRAME = re.compile(r"^\s*(?:at\s+)?graft\.([a-z]+)\.", re.M)


def stage_module(callsite):
    """Module of the first `graft.<module>.` frame in a stage call site."""
    m = _FRAME.search(callsite or "")
    return m.group(1) if m else None


def share_weighted(ops, value):
    """Each operation type's median of `value(op)`, weighted by the type's
    share of the successful operations."""
    by_type = {}
    for o in ops:
        if o["ok"]:
            by_type.setdefault(o["type"], []).append(value(o))
    n = sum(len(v) for v in by_type.values())
    return sum(len(v) * statistics.median(v) for v in by_type.values()) / n


def op_ms(ops):
    """Typical operation latency (share-weighted median)."""
    return share_weighted(ops, lambda o: o["end"] - o["start"])


def loop_ops(raw):
    return [o for o in raw["ops"] if o["id"] >= 1]


def end_to_end(raw):
    ops = loop_ops(raw)
    ids = {o["id"] for o in ops}
    stage_ms = _stage_task_ms(raw)
    jobs = [j for j in raw["jobs"] if j["op"] in ids]
    task_ms = {}
    for j in jobs:
        task_ms[j["op"]] = task_ms.get(j["op"], 0) + stage_ms.get(j["id"], 0)
    n = len(ops)
    values = {
        "setup_s": raw["setup_ms"] / 1000,
        "ops_per_s": n / ((raw["loop_end"] - raw["loop_start"]) / 1000),
        "op_ms": op_ms(ops),
        "jobs_per_op": len(jobs) / n,
        "task_s_per_op": share_weighted(ops, lambda o: task_ms.get(o["id"], 0)) / 1000,
        "peak_heap_mb": raw["peak_heap_mb"],
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def _stage_task_ms(raw):
    out = {}
    for s in raw["stages"]:
        out[s["job"]] = out.get(s["job"], 0) + s["task_ms"]
    return out


def per_layer(raw):
    ops = loop_ops(raw)
    n = len(ops)
    ids = {o["id"] for o in ops}
    by_type = {}
    for o in ops:
        by_type.setdefault(o["type"], []).append(o)
    jobs = [j for j in raw["jobs"] if j["op"] in ids]
    job_of = {j["id"]: j for j in raw["jobs"]}
    spans = raw["spans"]
    span_of = {s["id"]: s for s in spans}
    loop_spans = [s for s in spans if s["op"] in ids]
    named = lambda name: [s for s in loop_spans if s["name"] == name]
    dur = lambda ss: [s["end"] - s["start"] for s in ss]
    c = raw["counters"]
    v = {}

    def jobs_per(kind):
        kind_ids = {o["id"] for o in by_type.get(kind, [])}
        k = len(kind_ids)
        return sum(1 for j in jobs if j["op"] in kind_ids) / k if k else 0.0

    spread = c.get("tail_bucket_spread", [])
    v["keys.tail_bucket_max_over_mean"] = statistics.mean(spread) if spread else 0.0
    v["store.read_ms"] = median(dur(named("store.read")))
    v["store.write_ms"] = median(dur(named("store.write")))
    v["store.bytes_written"] = c.get("bytes_written", 0)
    v["store.files_written"] = c.get("files_written", 0)
    v["store.files_live"] = c.get("files_live", 0)
    user = c.get("user_bytes_ingested", 0)
    v["store.write_amp"] = c.get("bytes_written", 0) / user if user else 0.0
    v["store.space_amp"] = c.get("bytes_live", 0) / user if user else 0.0
    # compaction time includes the traced run's compaction after the loop
    v["store.compact_ms"] = median(dur([s for s in spans if s["name"] == "store.compact"]))
    v["store.compactions"] = len(named("store.compact"))
    gets, ranges = named("scan.get"), named("scan.range")
    v["scan.get_exec_ms"] = median(dur(gets))
    v["scan.files_read_per_get"] = statistics.mean([s["files"] for s in gets]) if gets else 0.0
    v["scan.first_row_ms"] = median([s["first_row_ms"] for s in ranges])
    read_spans = {s["id"] for s in gets + ranges}
    read_jobs = {j["id"] for j in raw["jobs"] if j["span"] in read_spans}
    rows_read = sum(s["records_read"] for s in raw["stages"] if s["job"] in read_jobs)
    returned = len(gets) + sum(s["rows"] for s in ranges)
    v["scan.rows_read_per_row_returned"] = rows_read / returned if returned else 0.0
    v["scan.jobs_per_get"] = jobs_per("get")
    v["scan.jobs_per_scan"] = jobs_per("scan")
    v["plans.jobs_per_agg"] = jobs_per("agg")
    aggs = named("plans.running_agg")
    v["plans.rescue_frac"] = sum(1 for s in aggs if s["rescued"]) / len(aggs) if aggs else 0.0

    labels = jobs_by_label(jobs)
    v["queries.unlabeled_jobs"] = labels.get(None, 0) / n
    v["queries.labeled_jobs"] = (len(jobs) - labels.get(None, 0)) / n
    cold = [j for j in raw["jobs"] if j["op"] == 0]
    v["total.cold_s"] = raw["cold_ms"] / 1000
    v["total.cold_jobs"] = len(cold)
    v["total.cold_driver_gap_s"] = (
        raw["cold_ms"] - union_ms([(j["start"], j["end"]) for j in cold])) / 1000

    gap = job_wall = 0.0
    jobs_of_op = {}
    for j in jobs:
        jobs_of_op.setdefault(j["op"], []).append((j["start"], j["end"]))
    for o in ops:
        w = union_ms(jobs_of_op.get(o["id"], []))
        job_wall += w
        gap += (o["end"] - o["start"]) - w
    v["total.driver_gap_ms_per_op"] = gap / n
    loop_jobs = {j["id"] for j in jobs}
    stages = [s for s in raw["stages"] if s["job"] in loop_jobs]
    task_ms = sum(s["task_ms"] for s in stages)
    v["total.task_s"] = task_ms / n / 1000
    v["total.shuffle_mb"] = sum(s["shuffle_write"] for s in stages) / n / 2**20
    v["total.spill_mb"] = sum(s["spill"] for s in stages) / n / 2**20
    v["total.busy_cores"] = task_ms / job_wall if job_wall else 0.0

    # stage task time by module: the first graft.<module> frame of the
    # stage's call site, else the layer of the span its job ran under
    task_by = dict.fromkeys(TASK_LAYERS, 0.0)
    for s in stages:
        mod = stage_module(s["callsite"])
        if mod is None:
            span = span_of.get(job_of[s["job"]]["span"])
            mod = span["name"].split(".")[0] if span else None
        if mod in task_by:
            task_by[mod] += s["task_ms"]
    for layer in TASK_LAYERS:
        v[f"{layer}.task_s"] = task_by[layer] / n / 1000

    children = {}
    for s in loop_spans:
        children.setdefault(s["parent"], []).append(s)
    self_by = dict.fromkeys(SPAN_LAYERS, 0.0)
    for s in loop_spans:
        layer = s["name"].split(".")[0]
        if layer in self_by:
            self_by[layer] += self_ms(s, children.get(s["id"], []))
    for layer in SPAN_LAYERS:
        v[f"{layer}.self_ms"] = self_by[layer] / n

    v["trace.op_ms"] = op_ms(ops)
    v["trace.spans_per_op"] = len(loop_spans) / n
    return {k: {"value": float(x), "unit": PER_LAYER[k]} for k, x in v.items()}


def summary(raw):
    """Per-operation-type latency (median, and p90 where the sample
    supports it), median process CPU and GC pause time, with sample counts,
    for the human-readable report."""
    out = {}
    for o in loop_ops(raw):
        out.setdefault(o["type"], []).append(o)
    return {t: {"n": len(v), "p50_ms": median([o["end"] - o["start"] for o in v]),
                "p90_ms": percentile([o["end"] - o["start"] for o in v], 0.9),
                "cpu_p50_ms": median([o.get("cpu_ms", 0.0) for o in v]),
                "gc_p50_ms": median([o.get("gc_ms", 0.0) for o in v])}
            for t, v in sorted(out.items())}
