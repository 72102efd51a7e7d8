#!/usr/bin/env python3
"""Benchmark runner: builds the engine and the harness from source, makes
the fixture, runs one workload in one JVM and prints one JSON result line.

    python3 perfbench/run.py --workload online --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Everything it writes goes under
`.bench_build/` there (or `$CARGO_TARGET_DIR` when set to a path inside
the checkout): compiled classes, the generated fixture, Spark scratch,
per-run records (`results/`) and, with `--trace 1`, the trace JSON
(`trace/<workload>-seed<seed>.json`).

With `--trace 0` the result's metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` they are its per-layer metrics.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("online", "batch")
# fixture scales each workload reads (a traced batch run adds its fit scale)
SCALES = {"online": ["0.1"], "batch": ["0.01"]}
TRACE_SCALES = {"batch": ["0.1"]}
XMX = "4g"
JVM_TIMEOUT_S = 170
# printed metrics and their units (BENCHMARK.json lists the same)
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "op_p95_ms": "ms", "ops_per_s": "1/s"}
PER_LAYER = {
    "setup_first_s": "s", "driver_ms_per_op": "ms", "job_ms_per_op": "ms",
    "jobs_per_op": "count", "stages_per_op": "count", "tasks_per_op": "count",
    "task_ms_per_op": "ms", "max_task_ms": "ms", "sched_wait_ms_per_op": "ms",
    "shuffle_write_bytes_per_op": "bytes", "spill_bytes_per_op": "bytes",
    "input_bytes_per_op": "bytes", "input_rows_per_op": "count",
    "output_bytes_per_op": "bytes", "gc_ms": "ms", "peak_rss_mb": "MiB",
    "tracing_overhead_pct": "%"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_fixture  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    if os.path.commonpath([d, ROOT]) != ROOT:
        d = os.path.join(ROOT, ".bench_build")
    return d


def fixture(out, sf):
    """Generate the fixture at scale `sf` once per generator version."""
    with open(gen_fixture.__file__, "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()[:16]
    d = os.path.join(out, f"sf{sf}")
    ok = os.path.join(d, ".ok")
    if os.path.exists(ok) and open(ok).read() == stamp:
        return
    log(f"generating fixture sf{sf}")
    gen_fixture.generate(d, float(sf))
    with open(ok, "w") as f:
        f.write(stamp)


def percentile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def source_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "src-sha256:" + build.source_stamp(ROOT)


def fingerprint(res, overrides):
    env = res["env"]
    return {"nproc": env["cpus"], "xmx": XMX, "jdk": env["java_version"],
            "spark": env["spark_version"], "spark_local_dir_pinned": True,
            "spark_local_dir": os.path.relpath(env["spark_local_dir"], ROOT)
            if env["spark_local_dir"].startswith(ROOT) else env["spark_local_dir"],
            "overrides": overrides, "commit": source_commit()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--emit-expected", action="store_true",
                    help="regenerate the stored expected outputs (batch) or dump the "
                         "serve answers for crosscheck.py")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no engine sources (src/main/scala) under the working directory; "
            "run from the root of a checkout")
        return 3
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    # runs share the build and work directories: one at a time per checkout
    lock = open(os.path.join(out, "run.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    overrides = {k: v for k, v in sorted(os.environ.items())
                 if k.startswith("SPARK_GRAFT_") or k == "SPARK_LOCAL_DIRS"}
    jars = build.spark_jars()
    classes = build.build(ROOT, HERE, out, jars, log)
    fixtures = os.path.join(out, "fixture")
    for sf in SCALES[args.workload] + (TRACE_SCALES.get(args.workload, [])
                                       if args.trace else []):
        fixture(fixtures, sf)
    run_dir = os.path.join(out, "run")
    work = os.path.join(run_dir, args.workload)
    tmp = os.path.join(out, "tmp")
    for d in (work, tmp):
        os.makedirs(d, exist_ok=True)
    result_path = os.path.join(run_dir, f"{args.workload}-result.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(out, "spark-local"))
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{XMX}", f"-Xmx{XMX}", "-Xss16m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", f"{classes}:{jars}/*", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--fixtures", fixtures, "--work", work, "--expected", os.path.join(HERE, "expected"),
            "--out", result_path, "--cpus", str(cpus),
            "--emit-expected", "1" if args.emit_expected else "0"])
    try:
        proc = subprocess.run(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"JVM exceeded {JVM_TIMEOUT_S} s and was stopped")
        return 4
    if args.emit_expected:
        return proc.returncode
    if proc.returncode != 0 or not os.path.exists(result_path):
        log(f"JVM exited with {proc.returncode} and no result")
        return 5
    with open(result_path) as f:
        res = json.load(f)

    ops = res["ops"]
    failed = sum(1 for o in ops if not o["ok"]) + res["checks_failed"] + int(res["aborted"])
    attempted = max(1, len(ops) + res["checks"] + int(res["aborted"]))
    if args.trace:
        values = dict(res["generic"], peak_rss_mb=res["peak_rss_mb"])
        metrics = {k: values[k] for k in PER_LAYER}
        units = PER_LAYER
    else:
        lat = [o["wall_ms"] for o in ops]
        metrics = {
            "setup_s": statistics.median(res["setup_s"]),
            "op_p50_ms": percentile(lat, 50) if lat else float("nan"),
            "op_p95_ms": percentile(lat, 95) if lat else float("nan"),
            "ops_per_s": len(ops) / res["measured_s"]}
        units = END_TO_END
    bad = [k for k, v in metrics.items() if v is None or not math.isfinite(v)]
    if bad:
        log(f"no finite value for {bad}")
        return 6
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "fingerprint": fingerprint(res, overrides),
              "correct": failed == 0, "attempted": attempted, "failed": failed,
              "failures": res["failures"][:50], "metrics": metrics,
              "setup_s_all": res["setup_s"], "setup_first_s": res["setup_first_s"]}
    os.makedirs(os.path.join(out, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out, "results", name), "w") as f:
        json.dump(record, f, indent=1)
    log("fingerprint " + json.dumps(record["fingerprint"], sort_keys=True))
    if args.trace:
        trace = dict(record, per_layer=res["layer"], fits=res["trace_extra"],
                     tracing_overhead_pct=res["overhead_pct"], ops=ops, spans=res["spans"])
        os.makedirs(os.path.join(out, "trace"), exist_ok=True)
        path = os.path.join(out, "trace", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(trace, f, indent=1)
        log(f"trace written to {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
