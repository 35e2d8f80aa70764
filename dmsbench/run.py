#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the root of the repository):

    python3 dmsbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

The first run in a checkout builds the engine and the benchmark from source
with sbt (offline) into `.bench_build/`; later runs reuse that build while no
source file is newer than it. Each run starts one JVM running `local[N]`,
N = the number of usable cores, and writes only under `.bench_build/`.

The last line of standard output is
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`, with
every `end_to_end` metric of BENCHMARK.json when `--trace 0` and every
`per_layer` metric when `--trace 1`. A traced run also writes its spans and
counters to `.bench_build/traces/<workload>-seed<n>.json`.
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

BENCH_DIR = "dmsbench"
BUILD_DIR = ".bench_build"
DEADLINE_S = 170.0
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"dmsbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source(root):
    newest = 0.0
    for top in (os.path.join(root, "src", "main", "scala"),
                os.path.join(root, BENCH_DIR, "src", "main"),
                os.path.join(root, BENCH_DIR, "build.sbt"),
                os.path.join(root, BENCH_DIR, "project", "build.properties")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for dirpath, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def build(root):
    """Compile engine + benchmark; return the runtime classpath."""
    stamp = os.path.join(root, BUILD_DIR, "classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_source(root):
        with open(stamp) as f:
            return f.read().strip()
    build_dir = os.path.join(root, BUILD_DIR)
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    sbt_opts = [
        "-Dsbt.offline=true", "-Xmx2g",
        "-Dsbt.server.autostart=false",
        f"-Dsbt.global.base={build_dir}/sbt-global",
        f"-Djava.io.tmpdir={build_dir}/tmp",
    ]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log_path = os.path.join(build_dir, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(root, BENCH_DIR), env=env, stdout=subprocess.PIPE,
            stderr=log, text=True, timeout=840)
        log.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13/classes" in l and ":" in l]
    if not lines:
        fail(f"build printed no classpath; see {log_path}")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(classpath + "\n")
    return classpath


def finite(v):
    return isinstance(v, (int, float)) and math.isfinite(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("BENCHMARK.json", os.path.join(BENCH_DIR, "workloads.json"),
                 os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the repository")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(root, BENCH_DIR, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}")

    classpath = build(root)
    built = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, BUILD_DIR, "work", f"{args.workload}-{os.getpid()}")
    traces = os.path.join(root, BUILD_DIR, "traces")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(traces, exist_ok=True)
    trace_file = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")

    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xms{spec['heap']}", f"-Xmx{spec['heap']}", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={os.path.join(root, BENCH_DIR, 'log4j2.properties')}",
        "-cp", classpath, "dmsbench.Main",
        "--spec", os.path.join(BENCH_DIR, "workloads.json"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--cores", str(cores), "--trace-file", trace_file,
    ]
    # the deadline counts from the end of the build: a first run in a fresh
    # checkout may spend minutes compiling before this point
    remaining = DEADLINE_S - (time.monotonic() - built)
    # Spark would put its scratch files in these instead of the checkout
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=remaining)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"workload {args.workload} did not finish within {remaining:.0f} s")
    shutil.rmtree(work, ignore_errors=True)
    results = [l for l in out.splitlines() if l.startswith("DMSBENCH_RESULT ")]
    if proc.returncode != 0 or not results:
        fail(f"benchmark JVM exited with {proc.returncode} and no result")
    res = json.loads(results[-1][len("DMSBENCH_RESULT "):])

    for p in res["problems"]:
        print(f"dmsbench: FAILED CHECK: {p}", file=sys.stderr)
    notes = {k: v for k, v in res["notes"].items() if k not in ("key_wall_s", "plan_fingerprints")}
    print(f"dmsbench: {args.workload} seed {args.seed}: notes {json.dumps(notes)}", file=sys.stderr)
    print(f"dmsbench: end_to_end {json.dumps(res['end_to_end'])}", file=sys.stderr)

    section = "per_layer" if args.trace else "end_to_end"
    values = res[section]
    metrics = {}
    correct = res["failed"] == 0 and not res["problems"]
    for m in bench[section]:
        v = values.get(m["name"], 0.0 if args.trace else None)
        if not finite(v):
            print(f"dmsbench: metric {m['name']} has no finite value ({v})", file=sys.stderr)
            correct = False
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
