#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics. Runs each workload once per
seed (untraced) and reports, per metric, the median and the distance
between the first and third quartile as a share of the median, the figure
BENCHMARK.json's bounds are set against. With --batches 2 it runs a second
batch of the same code on other seeds (each seed plus 1000), interleaved
run by run with the first, and reports how far the second batch's median
is worse than the first's. Run from the repository root:

    python3 perfbench/spread.py --workloads search_serve curate_corpus \\
        --seeds 1 2 3 4 5 6 7 8 9 10 --batches 2 --out spread.json
"""

import argparse
import json
import statistics
import subprocess
import sys
import time


def run(bench, workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run(bench["command"] + ["--workload", workload, "--seed", str(seed),
                                           "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        print(f"{workload} seed {seed}: incorrect ({res['failed']} of {res['attempted']} failed)")
    print(f"{workload} seed {seed}: {wall:.1f}s " +
          " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    return wall, {k: v["value"] for k, v in res["metrics"].items()}


def summarise(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": med, "spread": (q3 - q1) / med if med else float("inf")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--batches", type=int, choices=(1, 2), default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out", help="also write the summary as JSON here")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    spec = {m["name"]: m for m in bench["end_to_end"]}
    # raw[workload][batch] = (walls, {metric: [values]})
    raw = {w: [([], {}) for _ in range(args.batches)] for w in args.workloads}
    for seed in args.seeds:
        for b in range(args.batches):
            for w in args.workloads:
                wall, vals = run(bench, w, seed + 1000 * b, seconds)
                raw[w][b][0].append(wall)
                for k, v in vals.items():
                    raw[w][b][1].setdefault(k, []).append(v)
    summary = {"seeds": args.seeds, "batches": args.batches, "seconds": seconds,
               "workloads": {}}
    for w in args.workloads:
        batches = [{"seeds": [s + 1000 * b for s in args.seeds], "wall_s": walls,
                    "metrics": {k: summarise(vs) for k, vs in vals.items()}}
                   for b, (walls, vals) in enumerate(raw[w])]
        summary["workloads"][w] = {"batches": batches}
        for k in batches[0]["metrics"]:
            line = f"{w:14s} {k:18s} bound={spec[k]['bound']}"
            for b in batches:
                m = b["metrics"][k]
                line += f"  median={m['median']:.4g} spread={m['spread']:.3f}"
            if len(batches) == 2:
                m1, m2 = (b["metrics"][k]["median"] for b in batches)
                worse = (m2 - m1) / m1 if spec[k]["better"] == "lower" else (m1 - m2) / m1
                batches[1]["metrics"][k]["worse_than_first_by"] = worse
                line += f"  second worse by {worse:+.3f}"
            print(line)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
