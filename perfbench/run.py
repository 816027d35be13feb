#!/usr/bin/env python3
"""graft benchmark: one command, four workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                             [--size full|smoke]
    python3 perfbench/run.py --selftest

Run from the root of a graft checkout. The first run compiles the graft
library with the checkout's own build and the benchmark package
against it (sbt, offline), and records the runtime classpath under
perfbench/target. Every run then starts one JVM with one local Spark
session, generates the workload's inputs from --seed, warms up, measures
for --seconds, checks the outputs against the generator's truth and
prints one JSON result line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics and writes the span and layer tables to perfbench/out/artifacts.
See perfbench/README.md.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ["maillog_backfill", "maillog_follow", "curation_nightly", "retrieval_serve"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
HEAP = "3g"
# Spark task threads. Two, on this 4-vCPU machine: the maillog daemon
# reads as fast with two as with four, and the spare vCPUs keep the
# JIT, the GC and the driver from queueing behind tasks, which halved
# the run-to-run spread. Never more than the CPUs this process may use.
CORES = min(2, len(os.sched_getaffinity(0)))

# Spark on JDK 17 outside spark-submit needs these opens (the same list
# as the library's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

child = None


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_child(cmd, cwd, limit_s, stdout, env=None):
    """Runs cmd, kills it after limit_s; returns (exit code, stdout lines)."""
    global child
    child = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=None, text=True,
                             start_new_session=True, env=env)
    lines = []

    def pump():
        for line in child.stdout:
            lines.append(line.rstrip("\n"))
            if stdout:
                print(line, end="", file=sys.stderr, flush=True)

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        child.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded {limit_s} s; stopping it")
        stop_child()
        reader.join(5)
        return 124, lines
    reader.join(5)
    return child.returncode, lines


def stop_child(*_):
    if child is not None and child.poll() is None:
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("no graft sources next to perfbench/ (expected build.sbt and src/main/scala/graft)")
        sys.exit(2)
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    log("building graft and the benchmark with sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "writeClasspath"]
    # the build resolves offline, from the local caches only
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    rc, _ = run_child(cmd, HERE, BUILD_LIMIT_S, stdout=True, env=env)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        log(f"build failed (exit {rc})")
        sys.exit(3)


def java_cmd(main, args):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.system.home={os.path.join(OUT, 'derby')}",
             f"-Dderby.stream.error.file={os.path.join(OUT, 'derby.log')}",
             # Derby refills identity ranges in a catalog row; with the
             # default range of 100, the sink's concurrent partition
             # writers collide there and a batch fails ("too much
             # contention on sequence"). One range per run avoids it.
             "-Dderby.language.sequence.preallocator=1000000",
             "-Dspark.ui.enabled=false"] + opens + ["-cp", cp, main] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    ap.add_argument("--cores", type=int, default=CORES,
                    help="Spark task threads (local[N]); default min(2, nproc)")
    ap.add_argument("--selftest", action="store_true",
                    help="corrupt outputs and show every checker rejects them")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    signal.signal(signal.SIGTERM, lambda *_: (stop_child(), sys.exit(143)))
    build()
    os.makedirs(OUT, exist_ok=True)
    if a.selftest:
        sys.exit(selftest())
    result = run_workload(a.workload, a.seed, a.seconds, a.trace, a.size, a.cores)
    if result is None:
        sys.exit(1)
    print(json.dumps(result), flush=True)


def run_workload(workload, seed, seconds, trace, size, cores=None):
    """One benchmark JVM; returns its result object, or None."""
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--size", size, "--out", OUT,
            "--cores", str(cores or CORES),
            "--t0-ms", str(int(time.time() * 1000))]
    rc, lines = run_child(java_cmd("perfbench.Main", args), ROOT, RUN_LIMIT_S, stdout=False)
    results = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    for l in lines:
        if not l.startswith("PERFBENCH_RESULT "):
            print(l, file=sys.stderr)
    if rc != 0 or not results:
        log(f"benchmark JVM failed (exit {rc})")
        return None
    return json.loads(results[-1][len("PERFBENCH_RESULT "):])


def selftest():
    """Checker self-tests, then one smoke-size pass of every workload
    (curation_nightly and retrieval_serve too, which BENCHMARK.json
    does not list)."""
    rc, lines = run_child(java_cmd("perfbench.SelfTest", ["--out", OUT]), ROOT, RUN_LIMIT_S,
                          stdout=True)
    failures = 0 if rc == 0 else 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    emitted = dict(l.split()[1:3] for l in lines if l.startswith("LAYER "))
    if declared != emitted:
        log(f"BENCHMARK.json per_layer differs from the benchmark's: "
            f"{sorted(set(declared.items()) ^ set(emitted.items()))}")
        failures += 1
    for w in WORKLOADS:
        r = run_workload(w, 1, 2, 0, "smoke")
        ok = r is not None and r["correct"]
        log(f"smoke {w}: {'PASS' if ok else 'FAIL'} {json.dumps(r)}")
        failures += 0 if ok else 1
    log("selftest " + ("OK" if failures == 0 else f"FAILED ({failures})"))
    return 0 if failures == 0 else 1


if __name__ == "__main__":
    main()
