#!/usr/bin/env python3
"""The engine's layered benchmark.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the benchmark from
source on first use (see build.py), then runs one JVM that generates the
workload's input from the seed, pins it, and drives the workload's
operation in a closed loop: one caller, one call at a time, on
local[<available processors>]. Outputs are checked against the planted
labels on every call.

--trace 0 measures the end-to-end metrics; --trace 1 makes one traced
run for the per-layer metrics. The last stdout line is one JSON object
with the keys correct, attempted, failed and metrics; the line before it
carries host-probe diagnostics. Spark's log goes to
.bench_build/perfbench/last-run.log, a traced run's spans to
.bench_build/perfbench/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["crawl_mix", "ingest_batch"]
# a run must end within 180 s, plus its build, and within 900 s in all
RUN_LIMIT_S, TOTAL_LIMIT_S = 170, 880

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def expected_metrics(trace):
    """Metric name -> unit that this mode must print, from BENCHMARK.json."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    expected = expected_metrics(a.trace)
    t = time.monotonic()
    classes, jars = build.ensure_built()
    limit = min(RUN_LIMIT_S + time.monotonic() - t, TOTAL_LIMIT_S)

    work = os.path.join(build.OUT, "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(work, "run"),
            "--spans", os.path.join(build.OUT, "traces", "%s-seed%d.json" % (a.workload, a.seed))]

    try:
        with open(os.path.join(build.OUT, "last-run.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env, text=True)

            def stop(*_):
                proc.kill()
                proc.wait()
                sys.exit(1)
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                out, _ = proc.communicate(timeout=max(10, limit - (time.monotonic() - start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit("perfbench: run exceeded its time limit")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.exit("perfbench: JVM exited %d without a result; see %s"
                 % (proc.returncode, os.path.join(build.OUT, "last-run.log")))
    result = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != expected:
        sys.exit("perfbench: metrics %s do not match BENCHMARK.json %s" % (sorted(got), sorted(expected)))
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
