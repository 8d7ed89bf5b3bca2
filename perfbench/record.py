#!/usr/bin/env python3
"""Record a baseline: each workload run untraced and traced on the same
seeds. Writes the untraced end-to-end medians, the workload's own figures,
the traced per-layer medians and the tracing overhead (traced over untraced,
minus one) to one JSON file. Run from the repository root:

    python3 perfbench/record.py --out perfbench/results/head.json --seeds 1 2 3
"""

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

WORKLOADS = ("search_serve", "curate_corpus", "ingest_churn")
# ingest_churn's write cycles take about 15 s each; its loop needs three of
# them for one compaction, longer than the gated workloads' run length.
LOOP_SECONDS = {"ingest_churn": 40}


def run(cmd, workload, seed, seconds, trace):
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(".bench_build", "results",
                           f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return line, json.load(f)


def medians(results, key):
    out = {}
    for r in results:
        for k, v in r[key].items():
            x = v["value"] if isinstance(v, dict) and "value" in v else v
            if isinstance(x, (int, float)) and not isinstance(x, bool):
                out.setdefault(k, []).append(x)
    return {k: statistics.median(v) for k, v in out.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--workloads", nargs="+", default=list(WORKLOADS))
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    out = {"seeds": args.seeds, "cores": os.cpu_count(),
           "host": platform.platform(), "workloads": {}}
    for w in args.workloads:
        seconds = LOOP_SECONDS.get(w, bench["run_seconds"])
        plain, traced = [], []
        correct = True
        for seed in args.seeds:
            for trace, into in ((0, plain), (1, traced)):
                line, res = run(bench["command"], w, seed, seconds, trace)
                correct = correct and line["correct"]
                into.append(res)
                print(f"{w} seed {seed} trace {trace}: correct={line['correct']} "
                      f"wall={res['wall_s']:.1f}s", flush=True)
        e2e = medians(plain, "end_to_end")
        e2e_traced = medians(traced, "end_to_end")
        out["workloads"][w] = {
            "seconds": seconds,
            "correct": correct,
            "end_to_end": e2e,
            "workload_metrics": medians(plain, "workload_metrics"),
            "per_layer": medians(traced, "per_layer"),
            "tracing_overhead": {
                k: e2e_traced[k] / e2e[k] - 1 for k in ("op_p50_ms", "throughput_per_s")
                if e2e.get(k)},
            "wall_s": {"untraced": statistics.median(r["wall_s"] for r in plain),
                       "traced": statistics.median(r["wall_s"] for r in traced)},
            "checks": sorted({c["name"] for r in plain for c in r["checks"]}),
        }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
