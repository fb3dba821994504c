"""Arithmetic over a harness report: percentiles, span self times, job
gaps, per-query layer records and the workload's per-layer metrics.

Spans and jobs are dicts with `t0`/`t1` in milliseconds. A job belongs to
the span whose id it carries (the phase that submitted it); a span's self
time is its duration minus the part its child spans and child jobs cover.
"""
import statistics

MB = 1024.0 * 1024.0


def percentile(values, q):
    """Percentile q in (0, 1), interpolated between the closest ranks (the
    'inclusive' method of `statistics.quantiles`); the one value when there
    is one."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def samples_above(values, q):
    """How many samples lie strictly above percentile q."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Trace:
    def __init__(self, spans, jobs):
        self.spans = {s["id"]: s for s in spans}
        self.kids = {}
        for s in spans:
            self.kids.setdefault(s["parent"], []).append(s)
        self.jobs_of = {}
        for j in jobs:
            if j["t1"] >= j["t0"]:
                self.jobs_of.setdefault(j["span"], []).append(j)

    @staticmethod
    def dur(x):
        return x["t1"] - x["t0"]

    def descendants(self, sid):
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += [k["id"] for k in self.kids.get(s, [])]
        return out

    def jobs_under(self, sid):
        return [j for s in self.descendants(sid) for j in self.jobs_of.get(s, [])]

    def self_ms(self, sid):
        s = self.spans[sid]
        parts = [(k["t0"], k["t1"]) for k in self.kids.get(sid, [])]
        parts += [(j["t0"], j["t1"]) for j in self.jobs_of.get(sid, [])]
        return self.dur(s) - covered(parts, s["t0"], s["t1"])

    def gap_ms(self, sid):
        """Span time not covered by any job submitted under it."""
        s = self.spans[sid]
        return self.dur(s) - covered([(j["t0"], j["t1"]) for j in self.jobs_under(sid)],
                                     s["t0"], s["t1"])

    def phases(self, sid):
        return {k["name"]: k for k in self.kids.get(sid, [])}

    def coverage(self, sid):
        """Share of a query span covered by its phase spans."""
        s = self.spans[sid]
        d = self.dur(s)
        ks = [(k["t0"], k["t1"]) for k in self.kids.get(sid, [])]
        return covered(ks, s["t0"], s["t1"]) / d if d > 0 else 1.0


JOB_SUMS = ["tasks", "stages", "run_ms", "cpu_ns", "gc_ms", "input_bytes",
            "input_rows", "scan_tasks", "shuffle_write_bytes",
            "shuffle_read_bytes", "fetch_wait_ms", "spill_disk_bytes",
            "spill_mem_bytes", "output_bytes", "output_rows"]


def query_layers(trace, rec, cores):
    """Layer numbers of one traced query execution."""
    sid = rec["span"]
    span = trace.spans[sid]
    wall_ms = trace.dur(span)
    ph = trace.phases(sid)
    jobs = trace.jobs_under(sid)
    tot = {k: sum(j.get(k, 0.0) for j in jobs) for k in JOB_SUMS}
    build = ph.get("build")
    eager = trace.jobs_under(build["id"]) if build else []
    sinks = [k for n, k in ph.items() if n.startswith("sink:")]
    sink_jobs = [j for k in sinks for j in trace.jobs_under(k["id"])]
    plan = rec.get("plan", {})
    out = {
        "wall_s": wall_ms / 1e3,
        "build_s": trace.dur(build) / 1e3 if build else 0.0,
        "plan_phase_s": trace.dur(ph["plan"]) / 1e3 if "plan" in ph else 0.0,
        "materialize_s": trace.dur(ph["materialize"]) / 1e3 if "materialize" in ph else 0.0,
        "sink_s": sum(trace.dur(k) for k in sinks) / 1e3,
        "coverage": trace.coverage(sid),
        "Tables.input_mb": tot["input_bytes"] / MB,
        "Tables.input_rows": tot["input_rows"],
        "Tables.scan_tasks": tot["scan_tasks"],
        "operators.build_s": trace.self_ms(build["id"]) / 1e3 if build else 0.0,
        "operators.eager_jobs": len(eager),
        "operators.eager_job_s": covered([(j["t0"], j["t1"]) for j in eager],
                                         build["t0"], build["t1"]) / 1e3 if build else 0.0,
        "plans.plan_s": rec.get("plan_s", 0.0),
        "plans.exchanges": plan.get("exchanges", 0.0),
        "plans.broadcasts": plan.get("broadcasts", 0.0),
        "plans.sort_merge_joins": plan.get("sort_merge_joins", 0.0),
        "plans.scans": plan.get("scans", 0.0),
        "scheduler.jobs": len(jobs),
        "scheduler.stages": tot["stages"],
        "scheduler.tasks": tot["tasks"],
        "scheduler.gap_s": trace.gap_ms(sid) / 1e3,
        "exec.cpu_s": tot["cpu_ns"] / 1e9,
        "exec.run_s": tot["run_ms"] / 1e3,
        "exec.gc_s": tot["gc_ms"] / 1e3,
        "shuffle.write_mb": tot["shuffle_write_bytes"] / MB,
        "shuffle.read_mb": tot["shuffle_read_bytes"] / MB,
        "shuffle.fetch_wait_s": tot["fetch_wait_ms"] / 1e3,
        "spill.disk_mb": tot["spill_disk_bytes"] / MB,
        "spill.mem_mb": tot["spill_mem_bytes"] / MB,
        "pins.created": rec.get("pins_created", 0),
        "pins.leaked": rec.get("pins_leaked", 0),
        "pins.peak_mb": rec.get("pins_peak_bytes", 0.0) / MB,
        "sources.write_s": sum(trace.dur(k) for k in sinks) / 1e3,
        "sources.output_rows": sum(j.get("output_rows", 0.0) for j in sink_jobs),
        "geo_candidates": rec.get("geo_candidates", 0),
        "geo_kept": rec.get("geo_kept", 0),
    }
    out["scheduler.core_busy_frac"] = (
        out["exec.run_s"] / (out["wall_s"] * cores) if out["wall_s"] > 0 else 0.0)
    for k in sinks:
        out[k["name"] + "_s"] = trace.dur(k) / 1e3
    return out


PASS_SUMS = ["Tables.input_mb", "Tables.input_rows", "Tables.scan_tasks",
             "operators.build_s", "operators.eager_jobs", "operators.eager_job_s",
             "plans.plan_s", "plans.exchanges", "plans.broadcasts",
             "plans.sort_merge_joins", "plans.scans", "scheduler.jobs",
             "scheduler.stages", "scheduler.tasks", "scheduler.gap_s",
             "exec.cpu_s", "exec.run_s", "exec.gc_s", "shuffle.write_mb",
             "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.disk_mb",
             "spill.mem_mb", "pins.created", "pins.leaked", "sources.write_s",
             "sources.output_rows"]


def workload_layers(per_exec, n_passes, exports, feature_rows, cores):
    """Per-layer metrics of a traced run: per-pass totals (mean over the
    traced passes), a whole-run ratio for the ratios, a peak for peaks.
    `exports` are the traced passes' export records; `feature_rows` is the
    row count of the exported ETA result."""
    n = max(1, n_passes)
    out = {k: sum(e[k] for e in per_exec) / n for k in PASS_SUMS}
    wall = sum(e["wall_s"] for e in per_exec)
    out["scheduler.core_busy_frac"] = (
        sum(e["exec.run_s"] for e in per_exec) / (wall * cores) if wall > 0 else 0.0)
    out["pins.peak_mb"] = max((e["pins.peak_mb"] for e in per_exec), default=0.0)
    cand = sum(e["geo_candidates"] for e in per_exec)
    out["GeoJoins.keep_ratio"] = sum(e["geo_kept"] for e in per_exec) / cand if cand else 0.0
    out["sources.output_mb"] = sum(e["output_bytes"] for e in exports) / MB / n
    # the FeatureCollection streams through the Spark driver: no task output metrics
    out["sources.output_rows"] += feature_rows * len(exports) / n
    out["trace.coverage_min"] = min((e["coverage"] for e in per_exec), default=1.0)
    return out


def trace_overhead(passes):
    """Tracing cost: each traced pass's time over the mean of the untraced
    passes on either side of it (same key order), median over the traced
    passes. Drift from pass to pass cancels to first order."""
    ratios = [p["pass_s"] / ((passes[i - 1]["pass_s"] + passes[i + 1]["pass_s"]) / 2)
              for i, p in enumerate(passes)
              if p["traced"] and 0 < i < len(passes) - 1
              and not passes[i - 1]["traced"] and not passes[i + 1]["traced"]]
    return median(ratios)


def median(xs):
    return statistics.median(xs) if xs else float("nan")
