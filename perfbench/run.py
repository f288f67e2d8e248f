#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program from source with sbt the first
time (and again whenever a source file changes), then runs the workload in
one JVM on local[n], n = the machine's cores. Everything a run writes lives
under perfbench/target/ (ignored by git) and the per-run temp root is
deleted afterwards. The last line of stdout is the JSON result; the lines
above it are the workload's named figures. Exits non-zero, printing no result,
if the engine's sources are missing, the build fails or the run fails.
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

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("monthly_tick", "curation_mix", "stream_admit")
BUILD_LIMIT_S = 700
RUN_LIMIT_S = 170
# Initial heap = maximum: G1 then never resizes, so the resident set
# (peak_rss_mb) does not swing with its sizing decisions from run to run.
HEAP = "3g"


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose content decides what the build produces."""
    files = [os.path.join(REPO, "build.sbt"),
             os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Return (classpath, jvm options), building first if sources changed."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    launch = os.path.join(TARGET, "launch.txt")
    stamp_file = os.path.join(TARGET, "launch.stamp")
    fresh = (os.path.exists(launch) and os.path.exists(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        done = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "launchSpec"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
            timeout=BUILD_LIMIT_S)
        if done.returncode != 0:
            die("build failed")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/")

    classpath, jvm_opts = build()
    root = os.path.join(TARGET, "runs", f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(os.path.join(root, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}", *jvm_opts,
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--root", root, "--fixtures", os.path.join(HERE, "fixtures"),
           "--spans", os.path.join(TARGET, "spans", f"{a.workload}.jsonl")]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {RUN_LIMIT_S} s")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        die(f"benchmark JVM exited with {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        die("benchmark JVM printed no result line")
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        die("metrics differ from BENCHMARK.json: "
            f"{sorted(set(got.items()) ^ set(want.items()))}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
