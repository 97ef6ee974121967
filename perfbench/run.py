#!/usr/bin/env python3
"""Repository benchmark: one closed-loop client against the program's public
entry points, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the program and the
harness from source into .bench_build/perfbench (perfbench/build.py). Each
run starts the harness JVM (graft.perfbench.Harness; for compile, three in
a row), warms it up, sends requests for --seconds, checks the outputs and
prints the metrics, the last line as one JSON object. --trace 0 prints
the end-to-end metrics; --trace 1 records spans and prints the per-layer
metrics. perfbench/README.md describes the workloads and metrics.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import struct
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402
import layers  # noqa: E402

DATA = os.path.join("perfbench", "data", "sf0.1")
HEAP = "-Xmx3g"
RUN_LIMIT_S = 170     # a run must end within 180 s
FIRST_RUN_LIMIT_S = 880  # ... or 900 s when it builds

# each workload's warmup and window are set in Harness.scala
WORKLOADS = ("compile", "dialect", "operators_warm", "operators_cold")

# compile runs in this many JVMs one after another, each timing an equal
# share of --seconds: its single-threaded loop runs up to 20 % faster or
# slower from one JVM to the next (same seed, same host), so a run of one
# JVM would disagree with the next by as much
COMPILE_JVMS = 3

ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def verify_data():
    """The vendored tables must be the ones the oracle rows were checked on."""
    import hashlib
    with open(os.path.join(ROOT, DATA + ".sha256")) as f:
        for line in f:
            digest, name = line.split()
            path = os.path.join(ROOT, DATA, name)
            if not os.path.exists(path):
                fail(f"missing table {path}")
            with open(path, "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != digest:
                    fail(f"table {path} differs from its recorded digest")


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_jvm(args, run_dir, rows_file, deadline, seconds):
    """Run the harness once in `run_dir`; returns its result.json with the
    set-up time, the timed requests and the directory added."""
    cmd = ["java", *ADD_OPENS, HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.local.dir={run_dir}/tmp",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           f"-Dderby.system.home={run_dir}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.classpath(), "graft.perfbench.Harness",
           "--workload", args.workload, "--seconds", str(seconds),
           "--trace", str(args.trace), "--out", run_dir, "--rows", rows_file,
           "--data", os.path.join(ROOT, DATA)]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL_DIRS", "_JAVA_OPTIONS", "JAVA_TOOL"))}
    env["SPARK_GRAFT_FIXTURES"] = os.path.join(ROOT, "fixtures")
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"the harness did not finish in time; see {run_dir}/jvm.log")
    if rc != 0:
        fail(f"the harness exited with {rc}; see {run_dir}/jvm.log")
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    res["setup_s"] = res["first_timed_ms"] / 1e3 - launched
    res["requests"] = read_requests(os.path.join(run_dir, "requests.bin"))
    res["dir"] = run_dir
    return res


def merge(jvms):
    """One run's figures over its JVMs: requests, window, CPU and GC add up;
    set-up time and end heap are the median over the JVMs."""
    res = dict(jvms[0])
    for k in ("window_s", "cpu_s", "gc_s"):
        res[k] = sum(j[k] for j in jvms)
    for k in ("setup_s", "heap_live_end_bytes"):
        res[k] = statistics.median(j[k] for j in jvms)
    res["requests"] = [r for j in jvms for r in j["requests"]]
    return res


def read_requests(path):
    """(row index, ok, traced, latency seconds) per timed request."""
    with open(path, "rb") as f:
        return [(row, bool(flags & 1), bool(flags & 2), lat)
                for row, flags, lat in struct.iter_unpack(">iid", f.read())]


def end_to_end(res, requests, bad_rows):
    ok = [(row, lat) for row, good, _, lat in requests if good and row not in bad_rows]
    lats = [lat for _, lat in ok]
    by_row = {}
    for row, lat in ok:
        by_row.setdefault(row, []).append(lat)
    attempted = len(requests)
    failed = attempted - len(ok)
    if not lats:
        return {}, attempted, failed
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "throughput_qps": (len(ok) / res["window_s"], "1/s"),
        "latency_p50_s": (statistics.median(lats), "s"),
        "latency_p90_s": (stats.percentile(lats, 0.9), "s"),
        "latency_geomean_s": (stats.row_geomean(by_row), "s"),
        "cpu_s_per_query": (res["cpu_s"] / attempted, "s"),
        "heap_live_end_mb": (res["heap_live_end_bytes"] / 2 ** 20, "MB"),
    }
    return metrics, attempted, failed


def per_layer(args, jvms, res, requests):
    """Every per-layer metric; a layer the workload's spans do not see reads
    0 (compile starts no Spark; the Spark workloads' spans do not reach the
    compiler calls inside SparkEntry's rows)."""
    metrics = dict.fromkeys(layers.UNITS, 0)
    if args.workload == "compile":
        metrics.update(layers.compile_layers(
            [os.path.join(j["dir"], "compile_trace.bin") for j in jvms]))
    else:
        metrics.update(layers.spark_layers(os.path.join(res["dir"], "trace.jsonl"), res["cores"]))
    metrics["jvm.gc_s"] = res["gc_s"] / len(requests)
    over = layers.overhead(requests)
    metrics["trace.overhead_frac"] = 0 if over is None else over
    return {k: (metrics[k], unit) for k, unit in layers.UNITS.items()}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    started = time.time()
    load_before = os.getloadavg()
    verify_data()
    built = not os.path.exists(os.path.join(build.OUT, "stamp"))
    build.build()
    deadline = started + (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - 15

    rows = inputs.rows_for(args.workload, args.seed)
    run_dir = os.path.join(build.OUT, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    rows_file = os.path.join(run_dir, "rows.txt")
    with open(rows_file, "w") as f:
        if args.workload == "compile":
            f.writelines(f"{q['id']}\t{int(q['extensions'])}\t{q['schema_json']}\t{q['sql']}\n"
                         for q in rows)
        else:
            f.writelines(r + "\n" for r in rows)

    n_jvms = COMPILE_JVMS if args.workload == "compile" else 1
    jvms = [run_jvm(args, os.path.join(run_dir, f"jvm{k}"), rows_file, deadline,
                    args.seconds / n_jvms) for k in range(n_jvms)]
    res = merge(jvms)
    requests = res["requests"]
    names = res["rows"]

    # output check: a row that fails it fails every one of its requests
    if args.workload == "compile":
        with open(os.path.join(HERE, "compile", "expected.json")) as f:
            expected = json.load(f)
        bad = {}
        for j in jvms:
            bad.update(check.check_compile(j["output_schemas"], expected))
    else:
        with open(os.path.join(res["dir"], "oracle_sql.json")) as f:
            oracle = json.load(f)
        ran = [r for r in names if r not in res["errors"]]
        bad = dict(res["errors"])
        missing = [r for r in ran if r not in oracle]
        bad.update({r: "no oracle SQL" for r in missing})
        bad.update(check.check_oracle(os.path.join(res["dir"], "check"), oracle,
                                      os.path.join(ROOT, DATA),
                                      [r for r in ran if r in oracle],
                                      os.path.join(build.OUT, "oracle")))
    bad_rows = {i for i, name in enumerate(names) if name in bad}

    e2e, attempted, failed = end_to_end(res, requests, bad_rows)
    load_after = os.getloadavg()
    n = len(requests)
    print(f"workload {args.workload}: {len(names)} rows, {n} timed requests in "
          f"{res['window_s']:.2f} s over {n_jvms} JVM(s), closed loop, 1 client")
    print(f"stamp: nproc={os.cpu_count()} load_before={load_before[0]:.2f} "
          f"load_after={load_after[0]:.2f} heap={HEAP} data={DATA} seed={args.seed} "
          f"git_head={git_head()} trace={args.trace}")
    if "warmup_pass_s" in res:
        print("warmup passes (s): " + " ".join(f"{t:.2f}" for t in res["warmup_pass_s"]))
    for name, err in sorted(bad.items()):
        print(f"FAILED {name}: {err}")
    if args.trace:
        metrics = per_layer(args, jvms, res, requests)
    else:
        metrics = e2e
        beyond = stats.samples_beyond(n, 0.9)
        print(f"latency_p90_s over {n} requests, {beyond} beyond it"
              + ("" if beyond >= 10 else " (fewer than 10: read it as the run's tail)"))
        print(f"failed_frac {failed / max(attempted, 1):.6f} ({failed} of {attempted}, "
              f"output check included)")
    for name, (value, unit) in metrics.items():
        print(f"{name:34s} {value:16.6f} {unit}")
    correct = not bad and failed == 0 and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
