#!/usr/bin/env python3
"""mikebench: build the engine with the benchmark harness, run one workload,
print its metrics.

    python3 mikebench/run.py --workload mike_tick --seed 1 --seconds 40 --trace 0

Run from the repository root. The first run in a checkout compiles the engine
sources (src/main/scala) together with the harness (mikebench/harness) with
sbt into .bench_build/mikebench; later runs reuse that build while the sources
are unchanged. One JVM then runs the workload on one local SparkSession with
every core of the host. The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics; the exit code is 0 only
when every call and every correctness check passed.

--trace 0 reports the end-to-end metrics (no listener of the harness is
attached); --trace 1 reports the per-layer metrics and writes the spans to
.bench_build/mikebench/traces/. See mikebench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HARNESS = HERE / "harness"
ENGINE = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build" / "mikebench"

WORKLOADS = ["mike_tick", "scan_sf0.2"]
END_TO_END = ["setup_s", "cold_s", "warm_s", "call_geomean_s"]
MODULES = ["entry", "harness", "jobs", "io", "ops"]
PER_LAYER = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.idle_s", "spark.empty_task_ratio",
    "spark.task_time_s", "spark.input_mb", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
    "spark.spill_mb", "jvm.gc_s", "jvm.heap_peak_mb",
    "catalyst.executions", "catalyst.planning_ms", "catalyst.plan_nodes",
    "sql.scan_rows", "sql.scan_mb", "sql.rows_out_per_row_in",
    *[f"layer.{m}.jobs" for m in MODULES],
    "cache.residual_rdds", "trace.overhead_ratio",
]
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"mikebench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else ""
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp():
    """Hash of every input of the build: engine sources and harness."""
    h = hashlib.sha256()
    files = sorted(p for base in (ENGINE, HARNESS / "src") for p in base.rglob("*.scala"))
    files += [HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(env):
    """Compiles once per source state; returns the runtime classpath."""
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S}s", 3)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    cp = [l for l in lines if not l.startswith("[") and "mikebench" in l and ":" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 3)
    cp_file.write_text(cp[-1])
    stamp_file.write_text(stamp)
    print(f"[mikebench] built in {time.time() - t0:.1f}s", flush=True)
    return cp[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the scan fingerprints (only on the commit that defines them)")
    a = ap.parse_args()

    if not (ENGINE / "graft").is_dir() or not (HARNESS / "build.sbt").is_file():
        fail(f"engine sources not found under {ROOT}; run from a checkout of the repository")
    env = dict(os.environ, SPARK_HOME=spark_home())
    cp = build(env)

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    work = BUILD / f"run-{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    trace_out = BUILD / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           *[x for m in JVM_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")],
           "-Dspark.callstack.depth=64", f"-Dderby.stream.error.file={work / 'derby.log'}",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "mikebench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(cores), "--work", str(work),
           "--data", str(BUILD / "data"), "--expected", str(HERE / "expected_scan.tsv"),
           "--result", str(result), "--trace-out", str(trace_out)]
    if a.record:
        cmd.append("--record")
    log = work / "jvm.log"
    timed_out = threading.Event()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)

        def kill():
            timed_out.set()
            os.killpg(proc.pid, signal.SIGKILL)

        watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                print(line.rstrip(), flush=True)
            proc.wait()
        finally:
            watchdog.cancel()
    if timed_out.is_set():
        fail(f"run exceeded {RUN_TIMEOUT_S}s; log kept in {log}", 4)
    if proc.returncode != 0 or not result.exists():
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"benchmark JVM exited with {proc.returncode}; log kept in {log}", 4)

    r = json.loads(result.read_text())
    names = PER_LAYER if a.trace else END_TO_END
    missing = [n for n in names if n not in r["metrics"]]
    if missing:
        fail(f"metrics missing from the run: {missing}; log kept in {log}", 5)
    shutil.rmtree(work, ignore_errors=True)
    out = {"correct": bool(r["correct"]), "attempted": int(r["attempted"]), "failed": int(r["failed"]),
           "metrics": {n: {"value": r["metrics"][n]["value"], "unit": r["metrics"][n]["unit"]} for n in names}}
    print(json.dumps(out), flush=True)
    sys.exit(0 if out["correct"] and out["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
