#!/usr/bin/env python3
"""graft benchmark: one seeded workload against graft's public API in one
process, measured as a library in a closed loop (one caller, local[4]).

    python3 perfbench/run.py --workload search_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft and the harness
from source (perfbench/build.py); later runs reuse the build while the
sources are unchanged. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}, with the end-to-end metrics
when --trace 0 and the per-layer metrics when --trace 1. The full result
(every metric, the workload's own figures, checks and sizes) is written to
.bench_build/results/<workload>-seed<seed>-trace<t>.json.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("search_serve", "curate_corpus", "ingest_churn")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def fail(msg, log=None, code=2):
    """Exit without a result line; with `log`, its last lines go to stderr."""
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(java, cp, args, work, log):
    """Run graftbench.Main; returns its raw run record."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "record.json")
    cmd = [java, "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out]
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"workload run exceeded {RUN_TIMEOUT_S}s; see {log}", log)
        finally:
            # on every way out (time-out, SIGTERM, Ctrl-C) the JVM ends first
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if not os.path.exists(out):
        fail(f"workload run produced no record (exit {proc.returncode}); see {log}", log)
    with open(out) as f:
        return json.load(f)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    out_dir = os.path.join(root, ".bench_build", "perfbench")
    try:
        cp = build.build(root)
        java = build.java_bin()
    except build.BuildError as e:
        fail(str(e), e.log)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(out_dir, "work", f"{tag}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    log = os.path.join(out_dir, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    t0 = time.time()
    try:
        rec = run_jvm(java, cp, args, work, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wall = time.time() - t0
    if rec["status"] != "ok":
        fail(f"workload failed: {rec['status']}; see {log}", log)

    attempted, failed, share = metrics.failed_share(rec["ops"], rec["checks"])
    e2e = metrics.end_to_end(rec)
    result = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "wall_s": wall,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "setups_s": rec["setups_s"],
        "workload_metrics": metrics.workload_metrics(rec),
        "checks": rec["checks"],
        "ops": rec["ops"],
        "info": rec["info"],
    }
    if args.trace:
        layer = metrics.per_layer(rec)
        result["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        shown = {k: v for k, v in result["per_layer"].items()
                 if args.workload == "ingest_churn" or k not in metrics.CHURN_ONLY}
    else:
        shown = result["end_to_end"]
    res_dir = os.path.join(root, ".bench_build", "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{tag}.json"), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": shown}))


if __name__ == "__main__":
    main()
