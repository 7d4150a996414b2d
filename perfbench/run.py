#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from the checkout's sources (sbt,
once per source state), prepares the workload's inputs (cached per
corpus; seed-dependent inputs per seed), runs one closed-loop session
in a fresh JVM (perfbench/src/main/scala/perfbench/Main.scala), checks
every op's output (star_etl's after the JVM exits, warehouse.py), and
prints as its last stdout line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) named in BENCHMARK.json. The full run record is written to
perfbench/.work/records/.

Exits non-zero without printing a result when the engine sources are
missing or any step fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import football  # noqa: E402
import reduce  # noqa: E402
import warehouse  # noqa: E402

# Every workload is a closed loop with one client on local[CORES].
CORES = 4
HEAP = "1g"
RUN_LIMIT_S = 150  # the harness JVM; building and input generation come before it

# Registry workloads name their op kinds and how many untimed passes
# over them warm the session; star_etl's ops come from football.py.
# `min_ops` is the least number of timed ops per run, so every run
# holds a sample of the same size whatever --seconds is.
WORKLOADS = {
    # AvailableNow replays through graft.streaming of one stateful
    # query, a watermarked dropDuplicates over events. Replays keep
    # speeding up, by a third in all, until the JIT has seen about
    # eight of them, so six replays warm the session.
    "stream_replay": {"type": "registry", "sf": 0.01, "ops": ["st05_stream_dedup"],
                      "warmup_passes": 6, "tail_pct": 75, "min_ops": 12},
    # one weekly load takes seconds, so a run holds one cycle of
    # (new week, replay, new week), too few for any percentile to have
    # 10 samples beyond it: the tail is the maximum
    "star_etl": {"type": "star", "tail_pct": 100, "min_ops": football.CYCLE},
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sh(cmd, cwd, env, timeout):
    """Run `cmd`, streaming its output to stderr; kill it after `timeout`
    seconds; raise unless it exits 0."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    timer = threading.Timer(timeout, p.kill)
    timer.start()
    out = []
    try:
        for line in p.stdout:
            out.append(line)
            sys.stderr.write(line)
        p.wait()
    finally:
        timer.cancel()
        if p.poll() is None:
            p.kill()
            p.wait()
    if p.returncode != 0:
        raise RuntimeError(f"{cmd[0]} exited with {p.returncode}")
    return "".join(out)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        walk = ([(os.path.dirname(r), [], [os.path.basename(r)])] if os.path.isfile(r)
                else os.walk(r))
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("engine sources (src/main/scala) not found next to perfbench/")
    stamp_file = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building engine + harness (sbt compile)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    # keep sbt's own scratch files (server socket, file watcher, JNA) in the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djna.tmpdir={tmp} -Dsbt.server.autostart=false"
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    out = sh(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
              "export Runtime/fullClasspath"], cwd=HERE, env=env, timeout=880)
    cp = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l][-1].strip()
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    open(cp_file, "w").write(cp)
    open(stamp_file, "w").write(stamp)
    return cp


def java(cp, main, args, timeout, props=()):
    tmp = os.path.join(WORK, "tmp")
    run_dir = os.path.join(WORK, "run")
    for d in (tmp, run_dir):
        os.makedirs(d, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dgraft.stream.ckpt={tmp}",
            *props, "-cp", cp, main] + args
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    env["SPARK_GRAFT_BPE_DIR"] = os.path.join(run_dir, "bpe")
    return sh(cmd, cwd=run_dir, env=env, timeout=timeout)


def registry_corpus(cp, sf):
    """Generate (once) the sf corpus and seed its optimizer statistics
    with graft.Analyze, as the engine's users do after loading data."""
    out = os.path.join(WORK, "corpus", f"sf{sf}")
    done = os.path.join(out, ".done")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        log(f"generating sf{sf} corpus")
        corpus.generate(ROOT, sf, out)
        stats = os.path.join(out, "graft-stats")
        os.makedirs(stats)
        java(cp, "graft.Analyze", [out], 300, props=[f"-Dspark.graft.stats.dir={stats}"])
        open(done, "w").write("ok")
    return out


def expected_path(workload, sf):
    return os.path.join(HERE, "expected", f"{workload}_sf{sf}.json")


def make_plan(cp, args, spec, work):
    seed = args.seed
    plan = {"workload": args.workload, "seed": seed, "seconds": args.seconds,
            "trace": bool(args.trace), "cores": CORES,
            "min_ops": spec["min_ops"], "work": work, "expected": None}
    if spec["type"] == "registry":
        sf = spec["sf"]
        data = registry_corpus(cp, sf)
        plan["corpus"] = data
        plan["stats_seed"] = os.path.join(data, "graft-stats")
        plan["select"] = spec["ops"]
        plan["warmup_passes"] = spec["warmup_passes"]
        plan["cycles"] = args.cycles or 1000
        if args.cycles:
            plan["seconds"] = 1e9
            plan["min_ops"] = 0
        if not args.record and os.path.exists(expected_path(args.workload, sf)):
            plan["expected"] = json.load(open(expected_path(args.workload, sf)))["digests"]
        plan["inputs"] = {"sf": sf, "generator": "tools/gen_sf.py", "seed": 42,
                          "tables": corpus.size_of(data)}
    else:
        league = os.path.join(work, "league")
        shutil.rmtree(league, ignore_errors=True)
        weeks = min(args.weeks or football.SEASON_WEEKS, football.SEASON_WEEKS)
        warmup, timed, inputs = football.generate(league, seed, weeks)
        plan["warmup"] = warmup
        plan["timed"] = timed
        if args.cycles:
            plan["timed"] = [o for o in timed if o["cycle"] < args.cycles]
            plan["seconds"] = 1e9
            plan["min_ops"] = 0
        plan["inputs"] = inputs
    return plan


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cycles", type=int, default=None,
                    help="run exactly this many cycles of ops instead of --seconds")
    ap.add_argument("--weeks", type=int, default=None, help="star_etl: league length in weeks")
    ap.add_argument("--record", action="store_true",
                    help="write the observed digests as the expected ones")
    ap.add_argument("--out", default=None, help="directory for the run record")
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
    spec = WORKLOADS[args.workload]
    cp = build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(WORK, "run", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan = make_plan(cp, args, spec, work)
    out_dir = os.path.abspath(args.out or os.path.join(WORK, "records"))
    os.makedirs(out_dir, exist_ok=True)
    plan["out"] = os.path.join(out_dir, f"{tag}.json")
    plan["spans"] = os.path.join(out_dir, f"{tag}.spans.json")
    plan_file = os.path.join(work, "plan.json")
    json.dump(plan, open(plan_file, "w"))
    java(cp, "perfbench.Main", [plan_file], RUN_LIMIT_S if args.cycles is None else 1800)
    record = json.load(open(plan["out"]))
    if spec["type"] == "star":
        warehouse.check_run(record, plan["warmup"] + plan["timed"])
    record["inputs"] = plan["inputs"]
    record["tail_pct"] = spec["tail_pct"]
    result = reduce.summarize(record, CORES, trace=bool(args.trace))
    record["result"] = result
    if args.record:
        digests = {o["kind"]: [o["rows"], o["hash"]] for o in record["ops"]}
        path = expected_path(args.workload, plan["inputs"]["sf"])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        json.dump({"inputs": plan["inputs"], "digests": digests}, open(path, "w"),
                  indent=1, sort_keys=True)
    json.dump(record, open(plan["out"], "w"), indent=1)
    shutil.rmtree(work, ignore_errors=True)
    reduce.report(record, log)
    print(json.dumps(result["contract"]))


if __name__ == "__main__":
    main()
