#!/usr/bin/env python3
"""A/B one graftbench workload between a parent tree and a change tree.

    python3 scripts/ab.py --parent ../parent --change ../change \\
        --workload ann-serve --seeds 1-10 --seconds 6 --trace 0

Both trees must be `git clone`s of the repository (never copies that
carry a `target/` directory: sbt's incremental-compiler state in a
copied `target/` points at the original tree). For each seed the script
runs `python3 graftbench/run.py` once in each tree, alternating which
side runs first, and keeps the last JSON line of each run. It then
prints, for every metric that run.py reports (the end-to-end metrics at
--trace 0, the per-layer ones at --trace 1), each side's median and
quartiles, the change of the median, and the pairs the change won
(ties count for neither side). A metric is marked `gain` when at least
ten pairs ran, the change won at least nine tenths of them, and its
median is better than the parent's by more than the parent's
interquartile range.

Before the first run it prints every line that differs between the two
trees' graftbench/target/launch/javaopts.txt (the JVM options run.py
starts the harness with), so a change that is only a JVM option shows
in the log. A tree that run.py has not built yet has no such file; the
comparison then waits until after the first pair.

--log appends every run's result to a JSON-lines file. The script only
calls run.py; it does not change the benchmark.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_arg(text):
    """'1-10' or '3,5,11' (or a mix) -> list of ints."""
    out = []
    for part in text.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out += range(int(lo), int(hi) + 1)
        else:
            out.append(int(part))
    return out


def run(tree, args, seed):
    """One run.py run in `tree`; returns its result object."""
    cmd = [sys.executable, "graftbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                "error": f"run.py exited with {proc.returncode}"}
    return json.loads(lines[-1])


def javaopts_diff(trees):
    """Prints the JVM-option lines that differ between the trees; returns
    False when a tree has not been built yet."""
    opts = {}
    for side, tree in trees.items():
        path = os.path.join(tree, "graftbench", "target", "launch", "javaopts.txt")
        if not os.path.isfile(path):
            print(f"javaopts: {side} not built yet; compared after the first pair", flush=True)
            return False
        with open(path) as fh:
            opts[side] = [l for l in fh.read().split("\n") if l]
    diff = [f"javaopts: {side} only: {line}"
            for side, other in (("parent", "change"), ("change", "parent"))
            for line in opts[side] if line not in opts[other]]
    print("\n".join(diff) if diff else "javaopts: identical", flush=True)
    return True


def quartiles(xs):
    """(q1, median, q3), interpolating between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def declared(tree, trace):
    """metric name -> (unit, better) from the change tree's BENCHMARK.json."""
    with open(os.path.join(tree, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: (m["unit"], m["better"])
            for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="the parent commit's tree")
    ap.add_argument("--change", required=True, help="the change's tree")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True, help="e.g. 1-10 or 3,5,11")
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--metrics", default="", help="comma list; default every metric")
    ap.add_argument("--log", help="append each run's result to this JSON-lines file")
    args = ap.parse_args()

    trees = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    spec = declared(trees["change"], args.trace)
    results = {"parent": [], "change": []}
    compared = javaopts_diff(trees)
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run(trees[side], args, seed)
            results[side].append(res)
            if args.log:
                with open(args.log, "a") as fh:
                    fh.write(json.dumps({"side": side, "seed": seed, "workload": args.workload,
                                         "trace": args.trace, "result": res}) + "\n")
            status = "ok" if res["correct"] and res["failed"] == 0 else \
                f"NOT CORRECT ({res['failed']}/{res['attempted']} failed) {res.get('error', '')}"
            print(f"seed {seed} {side:6s} {status}", file=sys.stderr, flush=True)
        if not compared:
            compared = javaopts_diff(trees)

    wanted = [m for m in args.metrics.split(",") if m] or list(spec)
    print(f"{args.workload}, {len(args.seeds)} pairs, --seconds {args.seconds} --trace {args.trace}")
    for side in ("parent", "change"):
        rs = results[side]
        print(f"{side}: {sum(r['correct'] for r in rs)}/{len(rs)} runs correct, "
              f"{sum(r['failed'] for r in rs)} of {sum(r['attempted'] for r in rs)} operations failed")
    print(f"{'metric':28s} {'unit':6s} {'parent median [q1, q3]':>32s} "
          f"{'change median [q1, q3]':>32s} {'median':>8s} {'won':>6s}")
    for name in wanted:
        unit, better = spec[name]
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in zip(results["parent"], results["change"])
                 if name in p["metrics"] and name in c["metrics"]]
        if not pairs:
            print(f"{name:28s} {unit:6s} no pair reported it")
            continue
        sign = 1 if better == "higher" else -1
        won = sum(1 for p, c in pairs if sign * (c - p) > 0)
        pq1, pmed, pq3 = quartiles([p for p, _ in pairs])
        cq1, cmed, cq3 = quartiles([c for _, c in pairs])
        rel = (cmed - pmed) / pmed * 100 if pmed else float("nan")
        gain = (len(pairs) >= 10 and won >= 0.9 * len(pairs)
                and sign * (cmed - pmed) > (pq3 - pq1))
        print(f"{name:28s} {unit:6s} {pmed:12.4g} [{pq1:8.4g}, {pq3:8.4g}] "
              f"{cmed:12.4g} [{cq1:8.4g}, {cq3:8.4g}] {rel:+7.1f}% {won:>2d}/{len(pairs):<2d}"
              f"{'  gain' if gain else ''}")


if __name__ == "__main__":
    main()
