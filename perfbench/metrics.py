"""Arithmetic of the graft benchmark, kept free of Spark and I/O so it can be
unit-tested on synthetic samples and spans (see test_metrics.py).

The JVM side (src/main/scala/graftbench) only records: set-up times, timed
operations, output checks and, on traced runs, level-1 call spans plus the
Spark, Catalyst and Hadoop events it saw. Everything here turns that raw
record into the metrics named in BENCHMARK.json and README.md.
"""

import math
import statistics

# Store directories of a collection root (graft.index.Stores), and the ones
# whose scan bytes the benchmark reports one by one.
STORES = ("docs", "postings", "doclen", "impact", "impactmeta", "collstats",
          "annindex", "annivf", "annivfcent", "annpq", "annpqbook", "annivfpq",
          "minhash", "manifest")
REPORTED_STORES = ("docs", "postings", "doclen", "impact", "annivf", "annivfpq",
                   "minhash")

# Public Collection operations the workloads call (level-1 span "api.<op>").
API_OPS = ("addDf", "createImpactIndex", "createVectorIndex", "createDedupIndex",
           "delete", "compact", "maintain", "searchTopK", "query", "vectorTopK",
           "hybridTopK")
SEARCH_OPS = ("searchTopK", "query", "vectorTopK", "hybridTopK")
WRITE_OPS = ("addDf", "createImpactIndex", "createVectorIndex", "createDedupIndex",
             "delete", "compact", "maintain")
CURATE_STAGES = ("extract_text", "signal_filter", "dedup_corpus", "dedup_lines",
                 "pack_shards")
# Operation kinds that are upkeep, not the loop's unit of work.
UPKEEP_KINDS = ("compact", "maintain")
# Per-layer metrics only ingest_churn's write cycles can move: they are in
# every result file, but a run of a gated workload does not print them.
CHURN_ONLY = tuple(f"api.{op}.{m}" for op in ("createDedupIndex", "delete", "compact", "maintain")
                   for m in ("calls", "self_ms", "jobs")) + (
    "index.bytes_read.annivfpq", "index.bytes_read.minhash",
    "index.bytes_written_per_user_byte", "index.delta_depth",
    "index.compact_bytes_rewritten", "index.bytes_on_disk_per_live_byte")
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def quantile(values, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values, min_beyond=10):
    """The highest percentile of TAIL_LADDER that still has at least
    `min_beyond` samples strictly above its nearest rank.

    Returns (percentile, value, n) or None when the sample is too small for
    any rung (fewer than 2 * min_beyond samples for the median).
    """
    n = len(values)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            return p, quantile(values, p), n
    return None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, optionally clipped
    to [lo, hi]; overlaps count once."""
    segs = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            segs.append((a, b))
    segs.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it covered by its children."""
    t0, t1 = span
    return (t1 - t0) - union_length(children, t0, t1)


def failed_share(ops, checks):
    """(attempted, failed, share): timed operations that threw or returned a
    wrong answer plus untimed checks that failed, over all of them."""
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    return attempted, failed, (failed / attempted if attempted else 0.0)


def store_of(path):
    """The collection store a scanned path belongs to: the directory just
    above the `collection=` partition directory, else the last path
    component naming a store; None for paths outside any store."""
    parts = [p for p in path.replace("\\", "/").split("/") if p]
    for i, part in enumerate(parts):
        if part.startswith("collection=") and i > 0 and parts[i - 1] in STORES:
            return parts[i - 1]
    for part in reversed(parts):
        if part in STORES:
            return part
    return None


def median(values, default=0.0):
    return statistics.median(values) if values else default


def mean(values, default=0.0):
    return sum(values) / len(values) if values else default


def ratio(a, b):
    return a / b if b else 0.0


def rounds(ops):
    """Latency (ms) of each complete round of the loop: the sum of its
    operations, upkeep (compaction, maintenance) excluded. A round is the
    loop's unit of work: one request of each kind, one write cycle, or one
    pipeline pass."""
    by = {}
    for o in ops:
        if o.get("round", -1) >= 0 and o["kind"] not in UPKEEP_KINDS:
            by.setdefault(o["round"], []).append(o["ms"])
    if not by:
        return []
    size = max(len(v) for v in by.values())
    return [sum(v) for _, v in sorted(by.items()) if len(v) == size]


def round_p50(ops):
    """Median latency (ms) of the loop's unit of work, as the sum over the
    round's operation kinds of each kind's median latency: robust to one
    slow request per kind, which a median over a handful of round sums is
    not."""
    by = {}
    for o in ops:
        if o.get("round", -1) >= 0 and o["kind"] not in UPKEEP_KINDS:
            by.setdefault(o["kind"], []).append(o["ms"])
    return sum(statistics.median(v) for v in by.values())


def end_to_end(rec):
    """The end-to-end metrics of an untraced run record."""
    ops = rec["ops"]
    busy_ms = sum(o["ms"] for o in ops)
    items = sum(o["items"] for o in ops)
    return {
        "setup_s": (median(rec["setups_s"]), "s"),
        "op_p50_ms": (round_p50(ops), "ms"),
        "throughput_per_s": (ratio(items, busy_ms / 1000.0), "1/s"),
    }


def kind_p50(ops, kinds):
    return median([o["ms"] for o in ops if o["kind"] in kinds and o["ok"]])


def workload_metrics(rec):
    """Each workload's own figures (search_p50_ms, upsert_p50_ms, ...),
    recorded in the result file next to the gated end-to-end metrics."""
    ops = rec["ops"]
    info = rec["info"]
    w = rec["workload"]
    attempted, failed, share = failed_share(ops, rec["checks"])
    out = {"failed_share": share, "attempted": attempted, "failed": failed,
           "peak_heap_mb": rec["heap"]["sampled_peak_mb"],
           "old_gen_peak_mb": rec["heap"]["pool_peak_mb"].get("G1 Old Gen", 0.0)}
    if w == "search_serve":
        lat = [o["ms"] for o in ops if o["ok"]]
        out["search_p50_ms"] = median(lat)
        t = tail(lat)
        out["search_tail"] = ({"ms": t[1], "percentile": t[0], "samples": t[2]}
                              if t else {"ms": None, "percentile": None, "samples": len(lat)})
        out["fts_topk_p50_ms"] = kind_p50(ops, ("fts_single", "fts_multi"))
        out["fts_fallback_p50_ms"] = kind_p50(ops, ("fts_prefix_or",))
        out["filtered_query_p50_ms"] = kind_p50(ops, ("filtered_query",))
        out["vector_topk_p50_ms"] = kind_p50(ops, ("vector_topk",))
        out["hybrid_topk_p50_ms"] = kind_p50(ops, ("hybrid_topk",))
        out["vector_recall_at_10"] = info.get("vector_recall_at_10")
    elif w == "ingest_churn":
        docs = info["params"]["docs"]
        out["build_docs_per_s"] = ratio(docs, median(info.get("build_s", [])))
        written = sum(o["items"] for o in ops if o["kind"] in ("upsert", "delete"))
        out["ingest_docs_per_s"] = ratio(written, sum(o["ms"] for o in ops) / 1000.0)
        out["upsert_p50_ms"] = kind_p50(ops, ("upsert",))
        out["delete_p50_ms"] = kind_p50(ops, ("delete",))
        out["read_after_write_p50_ms"] = kind_p50(ops, ("read_after_write", "read_after_delete"))
        out["compact_p50_ms"] = kind_p50(ops, ("compact",))
        out["maintain_ms"] = kind_p50(ops, ("maintain",))
        out["cycles"] = len(rounds(ops))
    elif w == "curate_corpus":
        out["curate_docs_per_s"] = ratio(sum(o["items"] for o in ops),
                                         sum(o["ms"] for o in ops) / 1000.0)
        out["stage_p50_ms"] = {k: kind_p50(ops, (k,)) for k in dict.fromkeys(o["kind"] for o in ops)}
        out["passes"] = len(rounds(ops))
    return out


# --------------------------------------------------------------------------
# traced runs: spans and per-layer metrics


def spans(trace):
    """Join a traced run's events into (calls, jobs, sqls, stages), each call
    carrying the jobs, SQL executions and stages attributed to it.

    Jobs belong to the call whose job group they carry. A SQL execution
    belongs to the call of its jobs, else to the call whose interval
    contains it (executions without jobs, e.g. local relations). Stages
    belong to their job.
    """
    jobs, sqls, stages, qes = {}, {}, {}, {}
    for e in trace["events"]:
        t = e["type"]
        if t == "job_start":
            jobs[e["job"]] = {"job": e["job"], "t0": e["t"], "t1": e["t"],
                              "group": e["group"], "exec": e["exec"],
                              "stages": e["stages"]}
        elif t == "sql_start":
            sqls[e["exec"]] = {"exec": e["exec"], "t0": e["t"], "t1": e["t"]}
        elif t == "stage":
            stages[e["stage"]] = e
        elif t == "qe":
            qes[e["exec"]] = e
    for e in trace["events"]:
        if e["type"] == "job_end" and e["job"] in jobs:
            jobs[e["job"]]["t1"] = e["t"]
        elif e["type"] == "sql_end" and e["exec"] in sqls:
            sqls[e["exec"]]["t1"] = e["t"]
    calls = {c["id"]: dict(c, jobs=[], sqls=[], stages=[]) for c in trace["calls"]}
    exec_call = {}
    for j in jobs.values():
        c = calls.get(j["group"])
        if c is None:
            continue
        c["jobs"].append(j)
        for s in j["stages"]:
            if s in stages:
                c["stages"].append(stages[s])
        if j["exec"] is not None:
            exec_call[int(j["exec"])] = c["id"]
    ordered = sorted(calls.values(), key=lambda c: c["t0"])
    for x, s in sqls.items():
        cid = exec_call.get(x)
        if cid is None:
            for c in ordered:
                if c["t0"] - 1 <= s["t0"] and s["t1"] <= c["t1"] + 1:
                    cid = c["id"]
                    break
        if cid is not None:
            calls[cid]["sqls"].append(dict(s, qe=qes.get(x)))
    return ordered, trace.get("task_ms", {})


def _scans(call):
    for s in call["sqls"]:
        if s["qe"]:
            for sc in s["qe"]["scans"]:
                yield sc


def skew(task_ms):
    """Max over median task time (1.0 for a single task)."""
    if not task_ms:
        return 1.0
    m = statistics.median(task_ms)
    return max(task_ms) / m if m > 0 else 1.0


def per_layer(rec):
    """Per-layer metrics of a traced run record: {name: (value, unit)}.
    Calls of the untimed warm-up are left out: they run cold, and on
    curate_corpus over a smaller crawl."""
    calls, task_ms = spans(rec["trace_data"])
    calls = [c for c in calls if c.get("phase") != "warmup"]
    info = rec["info"]
    ops = rec["ops"]
    out = {}

    def named(prefix):
        return [c for c in calls if c["name"] == prefix]

    # api
    for op in API_OPS:
        cs = named("api." + op)
        out[f"api.{op}.calls"] = (len(cs), "count")
        out[f"api.{op}.self_ms"] = (mean([
            self_time((c["t0"], c["t1"]), [(j["t0"], j["t1"]) for j in c["jobs"]])
            for c in cs]), "ms")
        out[f"api.{op}.jobs"] = (mean([len(c["jobs"]) for c in cs]), "count")

    # plans
    n = len(calls)
    execs = [s for c in calls for s in c["sqls"]]
    out["plans.executions_per_call"] = (ratio(len(execs), n), "count")
    for phase in ("analysis", "optimization", "planning"):
        tot = sum(s["qe"]["phases"].get(phase, 0) for s in execs if s["qe"])
        out[f"plans.{phase}_ms"] = (ratio(tot, n), "ms")

    # parse
    out["parse.us_per_query"] = (info.get("parse_us_per_query", 0.0), "us")

    # exec
    search = [c for c in calls if c["name"] in ["api." + o for o in SEARCH_OPS]]
    rows = sum(sc["rows"] for c in search for sc in _scans(c))
    hits = sum(o.get("hits", 0) for o in ops)
    out["exec.rows_scanned_per_hit"] = (ratio(rows, hits), "rows")
    # which arm served each loop searchTopK, as the workload classified it
    # (a certified multi-term answer reads term-pruned postings too, so the
    # scanned stores cannot tell the arms apart)
    out["exec.impact_served_share"] = (ratio(
        info.get("searchTopK_certified", 0), info.get("searchTopK_issued", 0)), "share")
    vec = named("api.vectorTopK")
    out["exec.vector_rows_scanned_per_query"] = (
        ratio(sum(sc["rows"] for c in vec for sc in _scans(c)), len(vec)), "rows")
    out["exec.shuffle_bytes_per_call"] = (ratio(
        sum(s.get("shuffle_write_bytes", 0) for c in search for s in c["stages"]),
        len(search)), "B")

    # index
    api = [c for c in calls if c["name"].startswith("api.")]
    by_store = {s: 0 for s in REPORTED_STORES}
    for c in api:
        for sc in _scans(c):
            stores = {store_of(p) for p in sc["paths"]} - {None}
            for s in stores & set(REPORTED_STORES):
                by_store[s] += sc["bytes"] / len(stores)
    for s in REPORTED_STORES:
        out[f"index.bytes_read.{s}"] = (ratio(by_store[s], len(api)), "B/call")
    fs_calls = [c for c in calls if c["name"].startswith(("api.", "ext.", "sources."))]
    out["index.fs_list_ops_per_call"] = (ratio(
        sum(c["fs"].get("listOps", 0) for c in fs_calls), len(fs_calls)), "count")
    out["index.fs_read_ops_per_call"] = (ratio(
        sum(c["fs"].get("openOps", 0) for c in fs_calls), len(fs_calls)), "count")
    writes = [c for c in calls if c["name"] in ["api." + o for o in WRITE_OPS]]
    out["index.files_written_per_call"] = (mean([c["files_written"] for c in writes]), "count")
    upserts = [c for c in calls if c["name"] == "api.addDf" and c.get("phase") == "loop"]
    out["index.bytes_written_per_user_byte"] = (ratio(
        sum(c["bytes_written"] for c in upserts), info.get("user_bytes_written", 0)), "ratio")
    depth = [o["delta_depth"] for o in ops if "delta_depth" in o]
    out["index.delta_depth"] = (mean(depth), "count")
    out["index.compact_bytes_rewritten"] = (mean(
        [c["bytes_written"] for c in named("api.compact")]), "B")
    out["index.bytes_on_disk_per_live_byte"] = (ratio(
        info.get("disk_bytes", 0), info.get("live_user_bytes", 0)), "ratio")

    # ext and sources
    def stage_calls(name):
        return [c for c in calls if c["name"] == name]

    for st in CURATE_STAGES:
        cs = stage_calls("ext." + st)
        out[f"ext.{st}.s"] = (mean([(c["t1"] - c["t0"]) / 1000.0 for c in cs]), "s")
        out[f"ext.{st}.shuffle_bytes"] = (mean([
            sum(s.get("shuffle_write_bytes", 0) for s in c["stages"]) for c in cs]), "B")
    wr = stage_calls("sources.warc_read")
    wr_s = mean([(c["t1"] - c["t0"]) / 1000.0 for c in wr])
    out["sources.warc_read.s"] = (wr_s, "s")
    out["sources.warc_read.records_per_s"] = (ratio(info.get("pages", 0), wr_s), "1/s")
    verify_rows = sum(s["qe"].get("verify_rows", 0) for c in stage_calls("ext.dedup_corpus")
                      for s in c["sqls"] if s["qe"])
    dd = stage_calls("ext.dedup_corpus")
    out["ext.near_dedup.verify_per_pair"] = (ratio(
        ratio(verify_rows, len(dd)), info.get("near_pairs_kept", 0)), "ratio")
    out["ext.near_dedup.oversized_buckets"] = (sum(
        r.get("oversized_buckets", 0) for r in info.get("lsh_bucket_stats", [])), "count")

    # spark runtime
    all_stages = [s for c in calls for s in c["stages"]]
    out["spark.stages_per_call"] = (ratio(len(all_stages), n), "count")
    out["spark.tasks_per_call"] = (ratio(sum(s["tasks"] for s in all_stages), n), "count")
    loop = [c for c in calls if c.get("phase") == "loop"]
    run_ms = sum(s.get("run_ms", 0) for c in loop for s in c["stages"])
    wall_ms = sum(c["t1"] - c["t0"] for c in loop)
    out["spark.core_busy_share"] = (ratio(run_ms, wall_ms * rec["cores"]), "share")
    out["spark.gc_share"] = (ratio(sum(s.get("gc_ms", 0) for s in all_stages),
                                   sum(s.get("run_ms", 0) for s in all_stages)), "share")
    out["spark.spill_bytes"] = (sum(s.get("spill_bytes", 0) for s in all_stages), "B")
    skews = []
    for c in loop:
        if c["stages"]:
            longest = max(c["stages"], key=lambda s: s["t1"] - s["t0"])
            skews.append(skew(task_ms.get(str(longest["stage"]), [])))
    out["spark.task_skew"] = (median(skews, 1.0), "ratio")
    return out
