#!/usr/bin/env python3
"""Feature-store benchmark for graft: builds the program from source and
runs one workload.

    python3 perfbench/run.py --workload offline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload stream_serve --seed 1 --seconds 10 --trace 1 --small

Run it from the root of a checkout. The first run compiles the program and
the harness with sbt into .bench_build/ (later runs reuse the build while
the sources are unchanged), then starts one JVM for the workload. The last
line of standard output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones; a traced run also leaves its spans in .bench_build/traces/.
--small runs on the small inputs the benchmark's own tests use. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("offline", "stream_serve")
BUILD_DIR = ".bench_build"
BENCH_DIR = "perfbench"
PROGRAM_SOURCES = os.path.join("src", "main")
BUILD_TIMEOUT_S = 780
RUN_LIMIT_S = 175          # a run must end within 180 s
FIRST_RUN_LIMIT_S = 890    # the run that builds may take 900 s
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [PROGRAM_SOURCES, os.path.join(BENCH_DIR, "src"),
             os.path.join(BENCH_DIR, "project")]
    files = [os.path.join(BENCH_DIR, "build.sbt")]
    for root in roots:
        for d, subdirs, names in os.walk(root):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile with sbt and record the runtime classpath; reuse a build
    whose sources are unchanged."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), False
    log("building with sbt")
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    # keep sbt's scratch files inside the checkout too
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE,
                          stderr=sys.stderr, text=True,
                          timeout=max(60, deadline - time.time()))
    sys.stderr.write("".join(l + "\n" for l in proc.stdout.splitlines()[-40:]
                             if os.pathsep not in l))
    if proc.returncode != 0:
        raise SystemExit(f"[perfbench] sbt build failed ({proc.returncode})")
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if not lines:
        raise SystemExit("[perfbench] sbt printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, True


def result_line(raw, trace, spec):
    """The result object: every metric `spec` (BENCHMARK.json) declares for
    this mode, with its unit. The workload must measure each of them (a
    layer it does not run it reports as 0 itself) and nothing undeclared."""
    declared = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    unknown = sorted(set(raw["values"]) - declared)
    if unknown:
        raise SystemExit(f"[perfbench] undeclared metrics: {', '.join(unknown)}")
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        if m["name"] not in raw["values"]:
            raise SystemExit(f"[perfbench] no value for {m['name']}")
        metrics[m["name"]] = {"value": raw["values"][m["name"]], "unit": m["unit"]}
    return {"correct": raw["correct"], "attempted": raw["attempted"],
            "failed": raw["failed"], "metrics": metrics}


def main():
    origin = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--small", action="store_true",
                    help="small inputs (sf0.001 tables, small stream)")
    ap.add_argument("--expected", help="digest file to check against")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(PROGRAM_SOURCES, "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("[perfbench] program sources not found: run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("[perfbench] sbt and java are required")

    cp, built = build(origin + BUILD_TIMEOUT_S)
    limit = FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S
    sf = "sf0.001" if args.small else "sf0.01"
    data = os.path.join(BENCH_DIR, "data", sf)
    expected = args.expected or os.path.join(BENCH_DIR, "expected", f"{sf}.json")
    work = os.path.abspath(os.path.join(
        BUILD_DIR, "work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    out = os.path.join(work, "result.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    jvm = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
           # no hsperfdata file in the system temp directory
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           # without it the JDK HTTP server's header and body writes meet
           # Nagle's algorithm and every keep-alive reply waits ~40 ms
           "-Dsun.net.httpserver.nodelay=true"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["-cp", cp, "perfbench.Main", "run",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--small", "1" if args.small else "0", "--data", data,
            "--warm-data", os.path.join(BENCH_DIR, "data", "sf0.001"),
            "--expected", expected, "--work", work, "--out", out,
            "--origin-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(jvm, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(10, origin + limit - time.time()))
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit")
        rc = None
    finally:
        # the JVM may have started helpers (the load generator) in its group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"[perfbench] workload run failed (exit {rc})")
    with open(out) as fh, open("BENCHMARK.json") as spec:
        result = result_line(json.load(fh), args.trace == "1", json.load(spec))
    traces = os.path.join(BUILD_DIR, "traces")
    os.makedirs(traces, exist_ok=True)
    for f in os.listdir(work):
        if f.startswith("trace-"):
            shutil.move(os.path.join(work, f), os.path.join(traces, f))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
