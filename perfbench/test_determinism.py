#!/usr/bin/env python3
"""Counter determinism check for the benchmark's traced counters.

    python3 perfbench/test_determinism.py [workload ...]

Runs every workload traced twice with one seed on a small input
(stream_replay on the sf0.01 corpus, three ops; star_etl for two
cycles, six ops, of a 12-week league) and requires identical totals of the counters a
later change may rest a count claim on. Exits non-zero, naming the
counter, when any total differs between the two runs.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTERS = ["exec.jobs", "exec.tasks", "shuffle.write_mb",
            "model.bytes_written_mb", "streaming.batches"]
SMALL = {
    "stream_replay": ["--cycles", "3"],
    "star_etl": ["--weeks", "12", "--cycles", "2"],
}


def traced_totals(workload, out):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", "7", "--seconds", "0", "--trace", "1",
                    "--out", out] + SMALL[workload], check=True, stdout=subprocess.DEVNULL)
    record = json.load(open(os.path.join(out, f"{workload}-s7-t1.json")))
    return {k: sum(o.get(k, 0) for o in record["ops"]) for k in COUNTERS}


def main():
    workloads = sys.argv[1:] or list(SMALL)
    out = os.path.join(HERE, ".work", "determinism")
    bad = []
    for w in workloads:
        a = traced_totals(w, os.path.join(out, "a"))
        b = traced_totals(w, os.path.join(out, "b"))
        for k in COUNTERS:
            same = a[k] == b[k]
            print(f"{w:14s} {k:24s} {a[k]!r:>22} {b[k]!r:>22} {'same' if same else 'DIFFERS'}")
            if not same:
                bad.append(f"{w}:{k}")
    if bad:
        sys.exit("counters differ between identical runs: " + ", ".join(bad))


if __name__ == "__main__":
    main()
