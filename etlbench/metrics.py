"""Turn the raw samples of one run into the benchmark's metrics.

End-to-end metrics come from an untraced run, per-layer metrics from a
traced one (see NOTES.md for which layer metric should move which
end-to-end metric, on which workload).  A layer a workload never calls
reports 0.
"""
import re
import statistics
from collections import defaultdict

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

END_TO_END = [
    ("setup_s", "s"),
    ("first_run_s", "s"),
    ("run_p50_s", "s"),
    ("write_amp", "ratio"),
    ("rss_peak_mb", "MB"),
]

PER_LAYER = [
    ("io.extract.wall_s", "s"),
    ("io.extract.input_bytes", "bytes"),
    ("io.load.wall_s", "s"),
    ("io.load.jobs", "count"),
    ("io.load.files", "count"),
    ("quality.validate_data.wall_s", "s"),
    ("quality.validate_data.input_bytes", "bytes"),
    ("quality.validate_data.jobs", "count"),
    ("quality.validate_kpis.wall_s", "s"),
    ("quality.validate_kpis.jobs", "count"),
    ("etl.enrich.wall_s", "s"),
    ("etl.enrich.shuffle_bytes", "bytes"),
    ("etl.genre_kpis.wall_s", "s"),
    ("etl.hourly_kpis.wall_s", "s"),
    ("operators.mode.wall_s", "s"),
    ("operators.topk.wall_s", "s"),
    ("pipeline.stage_attempts", "count"),
    ("pipeline.overhead_s", "s"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.spill_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.driver_outside_jobs_s", "s"),
    ("streaming.merge.wall_ms", "ms"),
    ("streaming.merge.jobs", "count"),
    ("streaming.merge.outside_jobs_ms", "ms"),
    ("streaming.merge.files_written", "count"),
    ("streaming.version.meta_files", "count"),
    ("streaming.lookup.wall_ms", "ms"),
    ("streaming.lookup.jobs", "count"),
    ("streaming.lookup.rows_examined_per_key", "count"),
    ("streaming.read.wall_ms", "ms"),
    ("streaming.read.rows_examined", "count"),
    ("streaming.replicate.wall_ms", "ms"),
    ("streaming.replicate.outside_jobs_ms", "ms"),
    ("streaming.compact.wall_ms", "ms"),
    ("streaming.compact.bytes_rewritten", "bytes"),
    ("streaming.space_amp", "ratio"),
    ("trace.overhead_s", "s"),
]

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_allowed(n, p):
    """A p-th percentile of n samples is reported only with at least ten
    samples beyond it."""
    return n * (100 - p) / 100 >= 10


def union_ns(intervals, lo, hi):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


def wall_ns(span):
    return span["end_ns"] - span["start_ns"]


def self_time_ns(span, spans):
    """A span's duration minus the part of it its child spans cover."""
    kids = [(c["start_ns"], c["end_ns"]) for c in spans if c["parent"] == span["id"]]
    return wall_ns(span) - union_ns(kids, span["start_ns"], span["end_ns"])


def outside_jobs_ns(span, spans):
    """A span's duration minus the union of the Spark jobs its subtree ran."""
    by_parent = defaultdict(list)
    for s in spans:
        by_parent[s["parent"]].append(s)
    jobs, todo = [], [span]
    while todo:
        s = todo.pop()
        jobs += [(a * 1_000_000, b * 1_000_000) for a, b in s["job_intervals_ms"]]
        todo += by_parent[s["id"]]
    return wall_ns(span) - union_ns(jobs, span["start_ns"], span["end_ns"])


def end_to_end(raw, setup_samples, input_bytes, bytes_written):
    """`raw` is the JVM's sample dump of an untraced run."""
    return {
        "setup_s": median(setup_samples),
        "first_run_s": raw["first_s"],
        "run_p50_s": median(raw.get("run_s") or raw.get("cycle_s") or []),
        "write_amp": bytes_written / input_bytes,
        "rss_peak_mb": raw["rss_hwm_kb"] / 1024.0,
    }


def per_layer(raw, lookup_keys=1):
    """Per-layer metrics of a traced run. Pipeline layers are per traced
    run (summed over the run's spans of that name), snapshot layers per
    call; both report the median."""
    spans = [s for s in raw.get("spans", []) if s["end_ns"] >= 0]
    runs = defaultdict(list)
    for s in spans:
        runs[s["run"]].append(s)
    out = {name: 0.0 for name, _ in PER_LAYER}

    def per_run(fn):
        return median([fn(rs) for rs in runs.values()])

    def total(name, field, scale=1.0):
        return lambda rs: sum((wall_ns(s) if field == "wall" else s[field])
                              for s in rs if s["name"] == name) * scale

    def per_call(name, fn):
        return median([fn(s) for s in spans if s["name"] == name])

    pipeline = any(s["name"] == "pipeline.run" for s in spans)
    if pipeline:
        for layer in ("io.extract", "io.load", "quality.validate_data",
                      "quality.validate_kpis", "etl.enrich", "etl.genre_kpis",
                      "etl.hourly_kpis", "operators.mode", "operators.topk"):
            out[f"{layer}.wall_s"] = per_run(total(layer, "wall", 1e-9))
        for layer in ("io.load", "quality.validate_data", "quality.validate_kpis"):
            out[f"{layer}.jobs"] = per_run(total(layer, "jobs"))
        out["io.extract.input_bytes"] = per_run(total("io.extract", "input_bytes"))
        out["quality.validate_data.input_bytes"] = per_run(
            total("quality.validate_data", "input_bytes"))
        out["etl.enrich.shuffle_bytes"] = per_run(total("etl.enrich", "shuffle_write_bytes"))
        out["io.load.files"] = median(raw.get("load_files", []))
        out["pipeline.stage_attempts"] = per_run(
            lambda rs: sum(s["name"] == "pipeline.stage" for s in rs))
        out["pipeline.overhead_s"] = per_run(lambda rs: sum(
            self_time_ns(s, rs) for s in rs if s["name"] == "pipeline.run") * 1e-9)
    else:
        ms = 1e-6
        for op in ("merge", "lookup", "read", "replicate", "compact"):
            out[f"streaming.{op}.wall_ms"] = per_call(f"streaming.{op}", lambda s: wall_ns(s) * ms)
        for op in ("merge", "replicate"):
            out[f"streaming.{op}.outside_jobs_ms"] = per_call(
                f"streaming.{op}", lambda s: outside_jobs_ns(s, spans) * ms)
        out["streaming.merge.jobs"] = per_call("streaming.merge", lambda s: s["jobs"])
        out["streaming.lookup.jobs"] = per_call("streaming.lookup", lambda s: s["jobs"])
        out["streaming.lookup.rows_examined_per_key"] = per_call(
            "streaming.lookup", lambda s: s["input_records"] / lookup_keys)
        out["streaming.read.rows_examined"] = per_call("streaming.read", lambda s: s["input_records"])
        out["streaming.compact.bytes_rewritten"] = per_call(
            "streaming.compact", lambda s: s["output_bytes"])
        out["streaming.merge.files_written"] = median(raw.get("files_written", []))
        out["streaming.version.meta_files"] = median(raw.get("meta_files", []))
        if raw.get("plain_bytes"):
            out["streaming.space_amp"] = raw["table_bytes"] / raw["plain_bytes"]

    for name, field, scale in (("jobs", "jobs", 1), ("tasks", "tasks", 1),
                               ("executor_cpu_s", "cpu_ns", 1e-9), ("gc_s", "gc_ms", 1e-3),
                               ("spill_bytes", "spill_bytes", 1),
                               ("shuffle_write_bytes", "shuffle_write_bytes", 1)):
        out[f"spark.{name}"] = per_run(lambda rs, f=field, k=scale: sum(s[f] for s in rs) * k)
    out["spark.driver_outside_jobs_s"] = per_run(lambda rs: sum(
        outside_jobs_ns(s, rs) for s in rs if s["parent"] < 0) * 1e-9)
    out["trace.overhead_s"] = median(raw.get("traced_s", [])) - median(raw.get("untraced_s", []))
    return out
