#!/usr/bin/env python3
"""graft-bench: one seeded workload run against graft.

    python3 perfbench/run.py --workload ingest_live --seed 1 --seconds 10 --trace 0

Builds the program from source if needed (perfbench/build.py), runs the
workload in one JVM with Spark local[4], and prints the measured input
properties, the workload's own metrics, and, as the last line, the
result: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1
the per-layer metrics, from every other operation traced (spans written
next to the result file). Everything the run writes stays under
.bench_build/. Exits non-zero, after printing the result, when an output
check failed; operations that threw count in "failed".
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("ingest_live", "dedup_corpus")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the repo's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def metric_specs(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def run_jvm(args, classes, jars, out, work, log):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--out", out, "--work", work]
    # Spark's scratch space stays inside the checkout even when the
    # environment names another place
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(signum=None, frame=None):
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            if signum is not None:
                raise SystemExit(f"run: stopped by signal {signum}")

        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            return p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"run: timed out after {RUN_TIMEOUT_S} s", file=sys.stderr)
            return None
        finally:
            stop()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    specs = metric_specs(args.trace)
    classes, jars = build.build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    results = os.path.join(build.BUILD, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, tag + ".json")
    log = os.path.join(results, tag + ".log")
    work = os.path.join(build.BUILD, "work", f"{tag}-{os.getpid()}")
    for f in (out, out[:-5] + ".trace.json"):
        if os.path.exists(f):
            os.remove(f)
    started = time.time()
    try:
        code = run_jvm(args, classes, jars, out, work, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"run: {args.workload} failed (exit {code}); log in {os.path.relpath(log, ROOT)}")
    with open(out) as fh:
        doc = json.load(fh)
    got = doc["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in specs if got.get(m["name"]) is None]
    if missing:
        raise SystemExit(f"run: metrics missing from the result: {missing}")
    print("inputs " + json.dumps(doc["inputs"]))
    print("workload_metrics " + json.dumps(doc["workload_metrics"]))
    for c in doc["checks"]:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}")
    print(f"run: {args.workload} seed {args.seed} took {time.time() - started:.1f} s; "
          f"full result in {os.path.relpath(out, ROOT)}")
    result = {
        "correct": bool(doc["correct"]),
        "attempted": int(doc["attempted"]),
        "failed": int(doc["failed"]),
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in specs},
    }
    print(json.dumps(result), flush=True)
    if not result["correct"]:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
