#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, and agreement of two sets.

    python3 perfbench/steadiness.py <workload> <first seed> <runs> [--fixed-seed] [--out f.json]

Runs the benchmark untraced `runs` times, with consecutive seeds from
`first seed` (or `first seed` every time with --fixed-seed). The runs
alternate between two sets, A and B, so that both see the same host
conditions, as two sets of runs of one tree would. Prints, per
end-to-end metric, the median over all runs, the interquartile range
over all runs as a share of the median (statistics.quantiles(values,
n=4)), and by how much set B's median is worse than set A's, next to
the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(a, b, better):
    """How much median `b` is worse than median `a`, as a share of `a`."""
    return (b - a) / a if better == "lower" else (a - b) / a


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload")
    ap.add_argument("first_seed", type=int)
    ap.add_argument("runs", type=int)
    ap.add_argument("--fixed-seed", action="store_true")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    results = []
    for i in range(args.runs):
        seed = args.first_seed if args.fixed_seed else args.first_seed + i
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                              "--workload", args.workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                             check=True, capture_output=True, text=True).stdout
        result = json.loads(out.strip().splitlines()[-1])
        results.append({"set": "AB"[i % 2], "seed": seed, **result})
        print(json.dumps({"set": "AB"[i % 2], "seed": seed, "correct": result["correct"],
                          **{k: round(v["value"], 4) for k, v in result["metrics"].items()}}),
              flush=True)
    summary = {}
    for m in bench["end_to_end"]:
        name = m["name"]
        every = [r["metrics"][name]["value"] for r in results]
        med = {s: statistics.median(r["metrics"][name]["value"] for r in results if r["set"] == s)
               for s in "AB"}
        summary[name] = {"median": statistics.median(every), "iqr_share": spread(every),
                         "median_a": med["A"], "median_b": med["B"],
                         "b_worse_by": worse_by(med["A"], med["B"], m["better"]),
                         "bound": m["bound"]}
        s = summary[name]
        print(f"{name:12s} median {s['median']:10.4f}  iqr/median {s['iqr_share']:.4f}  "
              f"B worse than A by {s['b_worse_by']:+.4f}  bound {m['bound']}")
    if args.out:
        json.dump({"workload": args.workload, "fixed_seed": args.fixed_seed, "runs": results,
                   "summary": summary}, open(args.out, "w"), indent=1)


if __name__ == "__main__":
    main()
