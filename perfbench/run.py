#!/usr/bin/env python3
"""Benchmark entry point for lodccspark.

    python3 perfbench/run.py --workload kg_build_daily --seed 1 --seconds 1 --trace 0

Builds the program and the benchmark runner from source when the sources
changed, runs one workload in a fresh JVM, checks the program's outputs, and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones. Everything the run writes stays under perfbench/.work
(build.py compiles into perfbench/.work/classes); a run's own directory is
removed when it ends.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import checks  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("kg_build_daily", "kg_topology")
CORES = 4
WORK = build.WORK
# A run must end within 180 s. The JVM gets all of it but the output checks
# (1-3 s) and a margin; a traced kg_build_daily run takes about 95 s (README)
JAVA_TIMEOUT_S = 170

JVM_OPTS = [
    "-Xms1g", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    # compiler threads live as long as the JVM, so their CPU time can be
    # told apart from the program's (KgBench.Cpu)
    "-XX:-UseDynamicNumberOfCompilerThreads",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bench(args, classes, work):
    """Run the Scala benchmark runner in a fresh JVM; returns (result, spawn epoch)."""
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}",
                                 f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    if args.trace:
        # call sites long enough to show which kernel started a job
        cmd.append("-Dspark.callstack.depth=200")
    cmd += ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*", "perfbench.KgBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", os.path.join(BENCH, "data"),
            "--result", result, "--cores", str(CORES)]
    spawn = time.time()
    p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = p.wait(timeout=JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: the benchmark JVM did not finish within {JAVA_TIMEOUT_S} s")
    finally:
        # also on SIGTERM or Ctrl-C: the JVM never outlives this process
        if p.poll() is None:
            p.kill()
            p.wait()
    if code != 0:
        raise SystemExit(f"perfbench: the benchmark JVM failed (exit {code})")
    with open(result) as f:
        return json.load(f), spawn


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    classes = build.build()
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, spawn = run_bench(args, classes, work)
        errors = checks.check_result(res, os.path.join(BENCH, "data"),
                                     os.path.join(WORK, "oracle-cache"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        log(f"CHECK FAILED: {e}")

    rounds = res["rounds"]
    setup_wall = res["setup_end_ms"] / 1000.0 - spawn
    if args.trace:
        for r in rounds:
            r["layers"].update({"pass.wall_s": r["pass_s"], "setup.wall_s": setup_wall})
        metrics = layers.per_layer(rounds)
    else:
        # CPU seconds: on a shared host they hold steady while wall time
        # follows the CPU time other tenants take. The pass counts the
        # program's threads only; JIT and GC threads are left out (README)
        metrics = {
            "pass_cpu_s": {"value": statistics.median(r["pass_cpu"]["program_s"] for r in rounds),
                           "unit": "s"},
            "setup_s": {"value": res["setup_cpu"]["total_s"], "unit": "s"},
        }
    log(f"{args.workload} seed={args.seed}: {len(rounds)} rounds, setup wall {setup_wall:.3f} s, "
        f"setup CPU {json.dumps(res['setup_cpu'])}, pass wall " +
        ", ".join(f"{r['pass_s']:.3f} s CPU {json.dumps(r['pass_cpu'])}" for r in rounds))
    print(json.dumps({
        "correct": not errors,
        "attempted": sum(r["attempted"] for r in rounds),
        "failed": sum(r["failed"] for r in rounds),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
