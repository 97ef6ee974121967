"""Per-layer metrics from a traced run's records (see Tracer.scala)."""

import json
import statistics
import struct

from stats import self_time, split_jobs

MS = 1_000_000  # Spark stamps jobs, stages and phases in whole milliseconds

# every per-layer metric and its unit: the front end (compile workload), the
# Spark layers, then both
UNITS = {"schema.decode_us": "us", "lexer.tokenize_us": "us", "lexer.tokens": "count",
         "parser.statement_us": "us", "semantic.analyze_us": "us", "planner.plan_us": "us",
         "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
         "execute.jobs": "count", "execute.stages": "count", "execute.tasks": "count",
         "sparkentry.construct_s": "s", "sparkentry.construct_jobs": "count",
         "sparkentry.construct_job_s": "s", "dialmemo.misses": "count",
         "execute.s": "s", "execute.task_cpu_s": "s", "execute.slot_busy_frac": "fraction",
         "execute.input_bytes": "bytes", "execute.shuffle_read_bytes": "bytes",
         "execute.shuffle_write_bytes": "bytes", "execute.spill_bytes": "bytes",
         "execute.peak_exec_mem_bytes": "bytes", "scratchcache.cached_rdds_after": "count",
         "scratchcache.cached_bytes_after": "bytes", "request.self_s": "s",
         "trace.unattributed_jobs": "count",
         "jvm.gc_s": "s", "trace.overhead_frac": "fraction"}


def compile_layers(paths):
    """Per traced compile request, over the records of every JVM of the run:
    mean microseconds in each front-end layer and mean token count. The
    request span's children are the five layer calls, back to back."""
    recs = []
    for path in paths:
        with open(path, "rb") as f:
            recs += struct.iter_unpack(">7q", f.read())
    if not recs:
        raise ValueError("no traced compile requests")
    n = len(recs)

    def mean_us(k):
        return sum(r[k + 1] - r[k] for r in recs) / n / 1e3
    out = {name: mean_us(k) for k, name in
           enumerate(["schema.decode_us", "lexer.tokenize_us", "parser.statement_us",
                      "semantic.analyze_us", "planner.plan_us"])}
    out["lexer.tokens"] = sum(r[6] for r in recs) / n
    return out


def spark_layers(path, cores):
    """Per traced Spark request: where its time went (construct, execute,
    Catalyst phases of the evaluated frame), the jobs, stages and tasks
    each phase started, the execution counters of those tasks, memo misses
    and the scratch still cached after the last request."""
    by_type = {"span": [], "job": [], "stage": [], "phase": [], "gauge": []}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            by_type[r["type"]].append(r)
    spans = {s["id"]: s for s in by_type["span"]}
    jobs, stages, phases, gauges = (by_type[k] for k in ("job", "stage", "phase", "gauge"))
    requests = [s for s in spans.values() if s["name"] == "request"]
    if not requests:
        raise ValueError("no traced Spark requests")
    n = len(requests)
    phase_of = {str(s["id"]): s["name"] for s in spans.values() if s["name"] != "request"}
    construct, execute, seen = split_jobs(
        phase_of, [(j["owner"], j["start"]) for j in jobs],
        [(s["start"], s["end"]) for s in requests], slack=2 * MS)
    job_phase = {j["id"]: phase_of.get(j["owner"]) for j in jobs}
    construct_jobs = [j for j in jobs if job_phase[j["id"]] == "construct"]
    exec_stages = [s for s in stages if job_phase.get(s["job"]) == "execute" and s["start"]]
    exec_spans = [s for s in spans.values() if s["name"] == "execute"]
    exec_ns = sum(s["end"] - s["start"] for s in exec_spans)

    def in_execute(t):
        return any(s["start"] - 2 * MS <= t <= s["end"] + 2 * MS for s in exec_spans)

    def phase_s(kind):
        """Catalyst time of the evaluated frame: the phases of the evaluating
        action, plus the analysis the frame itself got at construction."""
        return sum(p[kind]["end"] - p[kind]["start"] for p in phases
                   if p[kind] and (p["func"] == "frame" or in_execute(p[kind]["start"]))
                   ) / 1e9 / n

    # request self time: what the request spends outside construct and execute
    children = {}
    for s in spans.values():
        if s["name"] != "request":
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    last = max(gauges, key=lambda g: g["request"]) if gauges else {}
    peak = {}
    for s in exec_stages:
        owner = next(j["owner"] for j in jobs if j["id"] == s["job"])
        peak[owner] = max(peak.get(owner, 0), s["peak_exec_mem_bytes"])
    return {
        "catalyst.analysis_s": phase_s("analysis"),
        "catalyst.optimization_s": phase_s("optimization"),
        "catalyst.planning_s": phase_s("planning"),
        "execute.jobs": execute / n,
        "execute.stages": len(exec_stages) / n,
        "execute.tasks": sum(s["tasks"] for s in exec_stages) / n,
        "sparkentry.construct_s": sum(s["end"] - s["start"] for s in spans.values()
                                      if s["name"] == "construct") / 1e9 / n,
        "sparkentry.construct_jobs": construct / n,
        "sparkentry.construct_job_s": sum(j["end"] - j["start"] for j in construct_jobs) / 1e9 / n,
        "dialmemo.misses": statistics.fmean(g["dialmemo_growth"] for g in gauges),
        "execute.s": exec_ns / 1e9 / n,
        "execute.task_cpu_s": sum(s["cpu_ns"] for s in exec_stages) / 1e9 / n,
        "execute.slot_busy_frac": sum(s["run_ms"] for s in exec_stages) * MS / (exec_ns * cores),
        "execute.input_bytes": sum(s["input_bytes"] for s in exec_stages) / n,
        "execute.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in exec_stages) / n,
        "execute.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in exec_stages) / n,
        "execute.spill_bytes": sum(s["spill_bytes"] for s in exec_stages) / n,
        "execute.peak_exec_mem_bytes": sum(peak.values()) / n,
        "scratchcache.cached_rdds_after": last.get("cached_rdds", 0),
        "scratchcache.cached_bytes_after": last.get("cached_bytes", 0),
        "request.self_s": sum(self_time((r["start"], r["end"]), children.get(r["id"], []))
                              for r in requests) / 1e9 / n,
        "trace.unattributed_jobs": seen - construct - execute,
    }


def overhead(requests):
    """Tracing overhead of a traced run, which times every request traced
    and untraced back to back (alternating which goes first): summed
    per-row mean latency traced over untraced, minus one, over the rows
    timed both ways."""
    by_row = {}
    for row, ok, traced, lat in requests:
        if ok:
            by_row.setdefault(row, ([], []))[1 if traced else 0].append(lat)
    both = [(statistics.fmean(t), statistics.fmean(u)) for u, t in by_row.values() if t and u]
    if not both:
        return None
    return sum(t for t, _ in both) / sum(u for _, u in both) - 1
