#!/usr/bin/env python3
"""Run one graftbench workload and print its result as one JSON line.

    python3 graftbench/run.py --workload ann-serve --seed 1 --seconds 6 --trace 0

Run from the repository root. The first run builds graft and the
harness with sbt (graftbench/build.sbt) and records the classpath; later
runs reuse the build while the sources are unchanged. Each run works in
its own directory under graftbench/target, which it removes at exit.
Traced runs (--trace 1) also write their spans to
graftbench/target/traces/<workload>-seed<seed>.jsonl.

The last line of standard output is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). Lines before it are figures for the reader.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
LAUNCH = os.path.join(TARGET, "launch")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    """Every file the build reads: graft's sources and build, and the
    harness's."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(proj):
            files += [os.path.join(proj, n) for n in os.listdir(proj)
                      if n.endswith((".sbt", ".properties", ".scala"))]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources."""
    want = stamp()
    stamp_file = os.path.join(LAUNCH, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    print("graftbench: building graft and the harness with sbt", file=sys.stderr)
    try:
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr, check=True,
                       timeout=BUILD_TIMEOUT_S)
    except (subprocess.SubprocessError, OSError) as e:
        fail(f"build failed: {e}")
    with open(stamp_file, "w") as fh:
        fh.write(want)


def launch_command(args, work, trace_file):
    with open(os.path.join(LAUNCH, "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(LAUNCH, "javaopts.txt")) as fh:
        opts = [o for o in fh.read().split("\n") if o]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    return [java, HEAP, *opts, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--trace-file", trace_file]


def run_jvm(cmd):
    """Runs the harness JVM, forwarding its figures; returns its result."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    lines = []

    def pump():
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                lines.append(line)
            elif line:
                print(line, flush=True)

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"the harness ran past {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        reader.join(timeout=10)
    if proc.returncode != 0:
        fail(f"the harness exited with code {proc.returncode}")
    if not lines:
        fail("the harness printed no result")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found beside graftbench/")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are missing; nothing to build")
    if args.seconds <= 0:
        fail("--seconds must be positive")

    build()
    work = os.path.join(TARGET, f"work-{os.getpid()}")
    trace_file = os.path.join(TARGET, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        res = run_jvm(launch_command(args, work, trace_file))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    produced = dict(res["per_layer"] if args.trace else res["end_to_end"])
    names = [m["name"] for m in declared]
    extra = sorted(set(produced) - set(names))
    if extra:
        fail(f"metrics not declared in BENCHMARK.json: {extra}")
    if args.trace:
        # a per-layer metric of a phase the workload does not run reads 0;
        # one of a phase it runs must have been measured, unless the run
        # already failed
        ran = set(res["phases"]) | {"trace"}
        for n in names:
            if n not in produced and (n.split(".")[0] not in ran or res["failed"] > 0):
                produced[n] = 0.0
    missing = [n for n in names if n not in produced]
    if missing:
        fail(f"the workload did not report {missing}")
    metrics = {}
    for m in declared:
        v = produced[m["name"]]
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} is not a finite number: {v!r}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": bool(res["correct"]) and res["failed"] == 0,
                      "attempted": int(res["attempted"]), "failed": int(res["failed"]),
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
