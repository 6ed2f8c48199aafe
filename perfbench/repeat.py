#!/usr/bin/env python3
"""Runs the benchmark once per seed on each workload and summarizes the
end-to-end metrics the way their bounds are judged: per metric, the median
and the spread (distance between the first and third quartile of the runs,
as a share of the median).

Usage, from the root of a checkout:

    python3 perfbench/repeat.py OUT.jsonl --seeds 1-10 [--trace 1]
    python3 perfbench/repeat.py OUT.jsonl --summary-only

Appends one JSON line per run to OUT.jsonl: workload, seed, wall time, the
run's conditions and its result line. Workloads alternate run by run, so a
drift in the host's speed touches both alike.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def summarize(rows):
    s = spec()
    out = {}
    for w in [w["name"] for w in s["workloads"]]:
        rs = [r for r in rows if r["workload"] == w and r["trace"] == 0]
        if not rs:
            continue
        out[w] = {"runs": len(rs),
                  "failed": sum(r["result"]["failed"] for r in rs),
                  "attempted": sum(r["result"]["attempted"] for r in rs),
                  "wall_s_median": statistics.median(r["wall_s"] for r in rs),
                  "metrics": {}}
        for m in s["end_to_end"]:
            v = [r["result"]["metrics"][m["name"]]["value"] for r in rs]
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4) if len(v) > 1 else [med] * 3
            out[w]["metrics"][m["name"]] = {
                "median": med, "q1": q[0], "q3": q[2],
                "spread": (q[2] - q[0]) / med, "bound": m["bound"]}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out")
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--summary-only", action="store_true")
    a = ap.parse_args()
    if not a.summary_only:
        lo, hi = map(int, a.seeds.split("-"))
        s = spec()
        for seed in range(lo, hi + 1):
            for w in [w["name"] for w in s["workloads"]]:
                t0 = time.time()
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"),
                     "--workload", w, "--seed", str(seed), "--seconds",
                     str(s["run_seconds"]), "--trace", str(a.trace)],
                    stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                    text=True)
                wall = time.time() - t0
                if p.returncode != 0:
                    print(f"{w} seed {seed}: exit {p.returncode}", file=sys.stderr)
                    continue
                result = json.loads(p.stdout.strip().splitlines()[-1])
                with open(os.path.join(
                        HERE, "out", f"{w}-seed{seed}-trace{a.trace}.json")) as fh:
                    conditions = json.load(fh)["conditions"]
                with open(a.out, "a") as fh:
                    fh.write(json.dumps({"workload": w, "seed": seed,
                                         "trace": a.trace, "wall_s": wall,
                                         "conditions": conditions,
                                         "result": result}) + "\n")
                print(f"{w} seed {seed}: {wall:.0f} s", file=sys.stderr)
    with open(a.out) as fh:
        rows = [json.loads(l) for l in fh if l.strip()]
    print(json.dumps(summarize(rows), indent=1))


if __name__ == "__main__":
    main()
