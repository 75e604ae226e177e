#!/usr/bin/env python3
"""graft benchmark: one workload, one client, one Spark process at local[nproc].

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft and the harness
(perfbench/build.py). Each run gets a fresh directory under .bench_build/
that holds java.io.tmpdir and the Spark local dirs, and deletes it at exit.

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1 runs
the reps inside spans, then the per-layer sweep, and prints the per-layer
metrics. The spans are written to .bench_build/traces/. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
The exit code is 0 only when every output check passed.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402  (perfbench/build.py)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tile_join", "poly_hot")
HEAP = "3g"
JVM_TIMEOUT_S = 170
# what SparkSession needs when it is created outside spark-submit
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(msg, file=sys.stderr)
    sys.exit(code)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def host_facts():
    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    head = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        git = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        head = git.stdout.strip() or None
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_kb, "xmx": HEAP,
            "git_head": head}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds like an exception: subprocess.run kills and waits
    # for the JVM, and the run directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    try:
        classes = build.build()
        jars = build.spark_jars()
        java = build.java()
    except build.BuildFailure as e:
        die(str(e))

    host = host_facts()
    host.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
                loadavg_start=loadavg(), classes=os.path.basename(classes))
    steal0, total0 = cpu_ticks()
    work = os.path.join(build.BUILD_DIR, "run-%d-%d" % (os.getpid(), time.time_ns()))
    traces = os.path.join(build.BUILD_DIR, "traces")
    trace_out = os.path.join(traces, "%s-seed%d.json" % (args.workload, args.seed))
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(traces, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_EXECUTOR_DIRS", None)
    cmd = ([java] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes] + jars), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(host["nproc"]), "--work", work,
            "--out", os.path.join(work, "out.json"),
            "--goldens", os.path.join(HERE, "goldens.json"), "--trace-out", trace_out])
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "w") as logf:
            try:
                rc = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                                    timeout=JVM_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout after %d s" % JVM_TIMEOUT_S
        out_path = os.path.join(work, "out.json")
        if rc != 0 or not os.path.exists(out_path):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            die("benchmark process failed: %s" % rc, 1)
        with open(out_path) as f:
            out = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    # share of CPU time the hypervisor gave to other guests during the run
    host.update(loadavg_end=loadavg(), spark_version=out["spark_version"],
                cpu_steal_frac=round((steal1 - steal0) / max(1, total1 - total0), 4))
    print("host " + json.dumps(host))

    setup = out["setup"]
    print("metric setup_s %.3f s  (session %.2f s + median of rounds; fixture %s s, warm-up rep %s s)"
          % (out["setup_s"], setup["session_s"], " ".join("%.2f" % t for t in setup["fixture_s"]),
             " ".join("%.2f" % t for t in setup["warmup_s"])))
    print("metric rows_per_s %.0f rows/s  (median of %d reps of %d rows; rep times %s s)"
          % (out["rows_per_s"], out["reps"], out["rows_per_rep"],
             " ".join("%.2f" % t for t in out["rep_s"])))
    print("metric live_heap_mb %.1f MB  (heap in use after a GC that follows the timed reps)"
          % out["live_heap_mb"])
    print("metric failed_frac %.4f  (%d failed / %d attempted)"
          % (out["failed"] / out["attempted"], out["failed"], out["attempted"]))
    for failure in out["failures"]:
        print("failure " + failure)

    if args.trace:
        layers = {m["name"]: m for m in out["layers"]}
        for m in out["layers"]:
            print("layer %-52s %14.6g %-7s moves %s" % (m["name"], m["value"], m["unit"], m["moves"]))
        for name, base in out["ratio_bases"].items():
            print("ratio base %s %s" % (name, json.dumps(base)))
        with open(trace_out) as f:
            trace = json.load(f)
        trace["host"] = host
        with open(trace_out, "w") as f:
            json.dump(trace, f)
        by_name = trace["self_time_by_name"]
        top = sorted(by_name.items(), key=lambda kv: -kv[1]["self_ms"])[:15]
        for name, t in top:
            print("span self %-45s %9.1f ms of %9.1f ms over %d" %
                  (name, t["self_ms"], t["total_ms"], t["count"]))
        print("trace written to " + os.path.relpath(trace_out, ROOT))
        declared = spec["per_layer"]
        missing = [m["name"] for m in declared if m["name"] not in layers]
        if missing:
            die("per-layer metrics missing from the run: %s" % ", ".join(missing), 1)
        metrics = {m["name"]: {"value": layers[m["name"]]["value"], "unit": m["unit"]}
                   for m in declared}
    else:
        metrics = {m["name"]: {"value": out[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    for m in metrics.values():  # a failed entry can leave NaN, which JSON lacks
        if not math.isfinite(m["value"]):
            m["value"] = None
    correct = out["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
