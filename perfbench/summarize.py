#!/usr/bin/env python3
"""Summarize committed run records into per-layer tables.

    python3 perfbench/summarize.py perfbench/results

For every `<workload>-s<seed>-t1.json` traced record (with its
`.spans.json`) in the directory, writes `<workload>.summary.json`:

  per_op        each timed op's latency and per-layer counters
  per_kind      per op kind: median latency, warmup cost (summed over
                the warmup passes), jobs and tasks per op
  spans         per span name: count, total time and self time (its
                duration minus the part its child spans cover)
  totals        exec.jobs / exec.tasks summed over the timed ops
  tracing_overhead_s  traced minus untraced op_p50_s, when the
                untraced record `<workload>-s<seed>-t0.json` is present
"""
import collections
import glob
import json
import os
import statistics
import sys


def union(intervals):
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = collections.defaultdict(lambda: {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union([(max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                         for c in children[s["id"]] if c["end_ms"] > lo and c["start_ms"] < hi])
        row = out[s["name"]]
        row["count"] += 1
        row["total_ms"] += hi - lo
        row["self_ms"] += hi - lo - covered
    return dict(out)


def summarize(path):
    record = json.load(open(path))
    spans = json.load(open(path[:-len(".json")] + ".spans.json"))
    ops = record["ops"]
    per_op = [{k: v for k, v in o.items() if k not in ("hash", "rows", "error")} for o in ops]
    by_kind = collections.defaultdict(list)
    for o in ops:
        by_kind[o["kind"]].append(o)
    warm = collections.defaultdict(list)
    for w in record["setup"]["warmup_ops"]:
        warm[w["kind"]].append(w["lat_s"])
    per_kind = {k: {"ops": len(v),
                    "lat_s_median": statistics.median(o["lat_s"] for o in v),
                    "warmup_s": sum(warm[k]) if k in warm else None,
                    "exec.jobs_per_op": statistics.mean(o.get("exec.jobs", 0) for o in v),
                    "exec.tasks_per_op": statistics.mean(o.get("exec.tasks", 0) for o in v)}
                for k, v in sorted(by_kind.items())}
    for k, lats in warm.items():
        per_kind.setdefault(k, {"ops": 0, "warmup_s": sum(lats)})
    summary = {
        "workload": record["workload"], "seed": record["seed"], "inputs": record.get("inputs"),
        "result": record["result"]["contract"]["metrics"],
        "totals": {k: sum(o.get(k, 0) for o in ops) for k in ("exec.jobs", "exec.tasks")},
        "timed_ops": len(ops),
        "per_kind": per_kind,
        "spans": self_times(spans),
        "per_op": per_op,
    }
    untraced = path.replace("-t1.json", "-t0.json")
    if os.path.exists(untraced):
        t0 = json.load(open(untraced))["result"]["end_to_end"]["op_p50_s"]
        t1 = record["result"]["end_to_end"]["op_p50_s"]
        summary["tracing_overhead_s"] = {"traced_op_p50_s": t1, "untraced_op_p50_s": t0,
                                         "difference_s": t1 - t0}
    return summary


def main():
    d = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "results")
    for path in sorted(glob.glob(os.path.join(d, "*-t1.json"))):
        s = summarize(path)
        out = os.path.join(d, f"{s['workload']}.summary.json")
        json.dump(s, open(out, "w"), indent=1)
        print(f"{out}: {s['timed_ops']} ops, exec.jobs total {s['totals']['exec.jobs']}")


if __name__ == "__main__":
    main()
