"""Metric arithmetic over one run's raw record (written by graftbench.Main).

The JVM side only measures: operation samples, set-up times, spans with
their wall-clock intervals, and the Spark jobs a listener saw. Everything
derived — percentiles, the driver gap, self time and the per-layer
aggregates — is computed here, so it can be unit-tested
without Spark (see test_metrics.py).
"""
import statistics

# every span that reports the five standard measures
SPAN_MEASURES = ("wall_ms", "jobs", "tasks", "task_ms", "driver_gap_ms")
FULL_SPANS = ("etl.fetch", "etl.schedule_ingest", "etl.occupancy",
              "operators.ann_search")
DIM_SYNC = ("faculties", "departments", "specialities", "student_groups",
            "employees", "auditories")

END_TO_END = (("setup_s", "s"), ("op_mean_ms", "ms"), ("heap_retained_mb", "MiB"))


def per_layer_names():
    names = []
    for s in FULL_SPANS:
        names += [f"{s}.{m}" for m in SPAN_MEASURES]
    names += [f"etl.dim_sync.{d}.{m}" for d in DIM_SYNC for m in ("wall_ms", "jobs")]
    names.append("etl.occupancy.bytes_written")
    names += ["sources.scan.files_read_frac", "sources.scan.bytes_read",
              "sources.scan.rows_read_per_row_out",
              "plan.analysis_ms", "plan.optimize_ms", "plan.physical_ms",
              "operators.ann_search.recall_at_10",
              "spark.slot_util", "spark.gc_ms", "spark.shuffle_bytes",
              "spark.spill_bytes", "client.self_ms", "trace.overhead_ms"]
    return names


PER_LAYER_UNITS = {"wall_ms": "ms", "task_ms": "ms", "driver_gap_ms": "ms",
                   "jobs": "count", "tasks": "count",
                   "bytes_written": "bytes", "bytes_read": "bytes",
                   "shuffle_bytes": "bytes", "spill_bytes": "bytes",
                   "gc_ms": "ms", "self_ms": "ms", "overhead_ms": "ms",
                   "analysis_ms": "ms", "optimize_ms": "ms",
                   "physical_ms": "ms"}


def unit_of(name):
    return PER_LAYER_UNITS.get(name.rsplit(".", 1)[1], "ratio")


# ---- order statistics ----

def percentile(values, p):
    """The p-th percentile (0 < p < 100) by linear interpolation between
    closest ranks, or None for an empty sample."""
    xs = sorted(values)
    if not xs:
        return None
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values, p, beyond=10):
    """The p-th percentile only when at least `beyond` samples lie above
    it (a tail estimate resting on fewer is noise); otherwise None."""
    n = len(values)
    if n == 0 or n * (100.0 - p) / 100.0 < beyond:
        return None
    return percentile(values, p)


def median(values):
    return statistics.median(values) if values else None


# ---- interval arithmetic (times in ms) ----

def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end] intervals,
    optionally clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    covered = 0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def driver_gap_ms(span, jobs):
    """A span's wall time not covered by any running Spark job."""
    covered = union_length([(j["start"], j["end"]) for j in jobs],
                           span["start"], span["end"])
    return max(0.0, span["wall_ms"] - covered)


def self_ms(span, children):
    """A span's wall time minus the part its child spans cover."""
    covered = union_length([(c["start"], c["end"]) for c in children],
                           span["start"], span["end"])
    return max(0.0, span["wall_ms"] - covered)


def jobs_in(span, jobs):
    """Jobs charged to a span: those that started while it was open. With
    one client thread this is exact, and it also catches jobs the engine
    starts from its own helper threads."""
    return [j for j in jobs if span["start"] <= j["start"] <= span["end"]]


# ---- ratios ----

def ratio(num, den):
    """num / den, or None when the base is empty."""
    return None if not den else num / den


# ---- per-run aggregation ----

def untraced_samples(raw):
    return [s for s in raw["samples"] if s["ok"] and not s["traced"]]


def end_to_end(raw):
    """The end-to-end metrics of an untraced run."""
    ms = [s["ms"] for s in untraced_samples(raw)]
    return {
        "setup_s": median(raw["setup_s"]),
        "op_mean_ms": statistics.fmean(ms) if ms else None,
        "heap_retained_mb": raw["extra"]["heap_retained_mb"],
    }


def detail(raw):
    """The workload-specific figures printed for a reader before the
    result line: per operation class its median and supported tail."""
    out = {}
    by = {}
    for s in untraced_samples(raw):
        by.setdefault(s["cls"], []).append(s["ms"])
    for cls, xs in sorted(by.items()):
        out[f"{cls}_n"] = (len(xs), "count")
        out[f"{cls}_p50_ms"] = (median(xs), "ms")
        p90 = tail_percentile(xs, 90)
        if p90 is not None:
            out[f"{cls}_p90_ms"] = (p90, "ms")
    ex = raw["extra"]
    if "etl_initial_s" in ex:
        out["etl_initial_s"] = (ex["etl_initial_s"], "s")
    if ex.get("recall_total"):
        out["ann_recall_at_10"] = (ex["recall_hits"] / ex["recall_total"], "ratio")
    n = len(raw["samples"])
    out["failed_frac"] = (sum(not s["ok"] for s in raw["samples"]) / n if n else 0.0, "ratio")
    out["session_s"] = (raw["session_s"], "s")
    return out


def per_layer(raw):
    """The per-layer metrics of a traced run; a layer the workload does not
    exercise reads 0."""
    spans = raw["spans"]
    jobs = raw["jobs"]
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    out = {n: 0.0 for n in per_layer_names()}

    def measures(s):
        js = jobs_in(s, jobs)
        return {"wall_ms": s["wall_ms"], "jobs": len(js),
                "tasks": sum(j["tasks"] for j in js),
                "task_ms": sum(j["task_ms"] for j in js),
                "driver_gap_ms": driver_gap_ms(s, js),
                "bytes_written": sum(j["bytes_written"] for j in js)}

    def put(name, keys):
        calls = [measures(s) for s in by_name.get(name, [])]
        for k in keys:
            v = median([c[k] for c in calls])
            if v is not None:
                out[f"{name}.{k}"] = float(v)

    for name in FULL_SPANS:
        put(name, SPAN_MEASURES)
    for d in DIM_SYNC:
        put(f"etl.dim_sync.{d}", ("wall_ms", "jobs"))
    put("etl.occupancy", ("bytes_written",))

    scans = [s["attrs"] for s in by_name.get("sources.scan", [])]
    if scans:
        out["sources.scan.files_read_frac"] = median(
            [ratio(a["files_read"], a["files_total"]) or 0.0 for a in scans])
        out["sources.scan.bytes_read"] = float(median([a["bytes_read"] for a in scans]))
        out["sources.scan.rows_read_per_row_out"] = median(
            [a["rows_read"] / max(1, a["rows_out"]) for a in scans])
        for k in ("analysis_ms", "optimize_ms", "physical_ms"):
            out[f"plan.{k}"] = float(median([a[k] for a in scans]))

    ex = raw["extra"]
    if ex.get("recall_total"):
        out["operators.ann_search.recall_at_10"] = ex["recall_hits"] / ex["recall_total"]

    clients = [s for s in spans if s["parent"] == 0]
    if clients:
        wall = sum(s["wall_ms"] for s in clients)
        cjobs = [j for s in clients for j in jobs_in(s, jobs)]
        n = len(clients)
        out["spark.slot_util"] = ratio(sum(j["task_ms"] for j in cjobs),
                                       wall * raw["cores"]) or 0.0
        out["spark.gc_ms"] = ex.get("traced_gc_ms", 0.0) / n
        out["spark.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in cjobs) / n
        out["spark.spill_bytes"] = sum(j["spill_bytes"] for j in cjobs) / n
        children = {}
        for s in spans:
            children.setdefault(s["parent"], []).append(s)
        out["client.self_ms"] = median(
            [self_ms(s, children.get(s["id"], [])) for s in clients])
    out["trace.overhead_ms"] = tracing_overhead_ms(raw["samples"])
    return out


def tracing_overhead_ms(samples):
    """Traced minus untraced median latency, per operation class, weighted
    by how many traced operations each class had."""
    by = {}
    for s in samples:
        if s["ok"]:
            by.setdefault(s["cls"], {True: [], False: []})[s["traced"]].append(s["ms"])
    num = den = 0.0
    for sides in by.values():
        if sides[True] and sides[False]:
            w = len(sides[True])
            num += w * (median(sides[True]) - median(sides[False]))
            den += w
    return num / den if den else 0.0
