#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the library. The first call builds the
harness (perfbench/build.sbt compiles the library sources of this checkout
plus perfbench/src) and caches the runtime classpath under .bench_build/;
later calls reuse it until a source file changes. Each call then runs one
workload in a fresh JVM and prints the result as one JSON object on the last
line of stdout. The JVM writes the same object to
.bench_build/perfbench/results/<workload>-s<seed>-t<trace>.json.

Exits non-zero, without a result line, when the checkout holds no library
sources to build, when the build fails, or when the run fails.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH_FILE = os.path.join(WORK, "classpath.txt")
WORKLOADS = ("odata_remote", "odata_bulk", "write_back", "pipeline_local")
RUN_TIMEOUT_S = 170
CPUS = min(4, os.cpu_count() or 1)

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# library's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile library + harness with sbt (offline) and cache the classpath."""
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
               os.path.join(BENCH_DIR, "src"), os.path.join(BENCH_DIR, "build.sbt")]
    if (os.path.isfile(CLASSPATH_FILE)
            and os.path.getmtime(CLASSPATH_FILE) >= newest_mtime(sources)):
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp)
    return cp


def run_jvm(cp, args, out_path):
    run_dir = os.path.join(WORK, "run", f"{args.workload}-s{args.seed}-t{args.trace}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation keep the heap's touched pages, and so
    # peak RSS, from varying with the collector's adaptive sizing
    cmd = (["java", "-Xms1g", "-Xmx1g", "-Xmn384m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(CPUS), "--work", run_dir, "--cache", os.path.join(WORK, "cache"),
              "--bench", BENCH_DIR, "--out", out_path])
    log_path = os.path.join(run_dir, "jvm.log")
    if os.path.exists(out_path):
        os.remove(out_path)
    with open(log_path, "w") as log:
        # few malloc arenas keep native memory, and so peak RSS, steady
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True, env=env)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log_path}")
    if rc != 0 or not os.path.isfile(out_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"run failed (exit {rc}); log tail:\n{tail}")
    with open(out_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no library sources next to {BENCH_DIR}: run from a checkout of the repository")
    cp = build()
    out_path = os.path.join(WORK, "results",
                            f"{args.workload}-s{args.seed}-t{args.trace}.json")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    result = run_jvm(cp, args, out_path)
    print(json.dumps(result, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
