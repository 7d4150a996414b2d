"""Reduce one run record (written by perfbench.Main) to the benchmark's
metrics. The metric names and units here are the ones BENCHMARK.json
lists; `END_TO_END` and `PER_LAYER` are the single source of both."""
import statistics

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "op_tail_s": ("s", "lower"),
    "ops_per_s": ("ops/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

PER_LAYER = {
    "session.start_s": ("s", "lower"), "session.warmup_s": ("s", "lower"),
    "queries.build_s": ("s", "lower"), "queries.build_jobs": ("count", "lower"),
    "plans.actions": ("count", "lower"), "plans.analysis_ms": ("ms", "lower"),
    "plans.optimization_ms": ("ms", "lower"), "plans.planning_ms": ("ms", "lower"),
    "exec.jobs": ("count", "lower"), "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"), "driver.solo_s": ("s", "lower"),
    "exec.busy_share": ("ratio", "higher"), "exec.core_util": ("ratio", "higher"),
    "exec.task_run_s": ("s", "lower"), "exec.task_cpu_s": ("s", "lower"),
    "exec.cpu_share": ("ratio", "higher"), "exec.gc_s": ("s", "lower"),
    "exec.peak_mem_mb": ("MB", "lower"),
    "shuffle.write_mb": ("MB", "lower"), "shuffle.read_mb": ("MB", "lower"),
    "shuffle.spill_mb": ("MB", "lower"),
    "sources.input_mb": ("MB", "lower"), "sources.input_rows": ("count", "lower"),
    "cache.persisted_frames": ("count", "lower"), "cache.mem_mb": ("MB", "lower"),
    "cache.disk_mb": ("MB", "lower"),
    "streaming.batches": ("count", "lower"), "streaming.trigger_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"), "streaming.planning_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"), "streaming.state_rows": ("count", "lower"),
    "streaming.state_mem_mb": ("MB", "lower"), "streaming.state_commit_ms": ("ms", "lower"),
    "model.build_star_s": ("s", "lower"), "model.load_s": ("s", "lower"),
    "model.rows_written": ("count", "lower"), "model.files_written": ("count", "lower"),
    "model.bytes_written_mb": ("MB", "lower"), "model.write_amp": ("ratio", "lower"),
    "model.bytes_stored_per_input_byte": ("ratio", "lower"),
    "host.canary_shuffle_s": ("s", "lower"), "host.canary_cpu_s": ("s", "lower"),
    "host.steal_share": ("ratio", "lower"),
}

# per-op counters averaged over the timed ops
PER_OP_MEAN = [
    "queries.build_jobs", "plans.actions", "plans.analysis_ms",
    "plans.optimization_ms", "plans.planning_ms", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb",
    "sources.input_mb", "sources.input_rows", "streaming.batches",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.planning_ms",
    "streaming.wal_commit_ms", "streaming.state_rows", "streaming.state_mem_mb",
    "streaming.state_commit_ms", "model.rows_written", "model.files_written",
    "model.bytes_written_mb",
]


def tail(lats, pct):
    """The pct-th percentile (inclusive method; 100 = the maximum) and
    the number of samples beyond it."""
    q = max(lats) if pct >= 100 else statistics.quantiles(lats, n=100, method="inclusive")[pct - 1]
    return q, sum(1 for x in lats if x > q)


def failures(record):
    warm = record["setup"]["warmup_ops"]
    ops = record["ops"]
    return len(warm) + len(ops), sum(1 for o in warm + ops if not o["ok"])


def layer_metrics(record, cores):
    ops = record["ops"]
    n = len(ops)
    lat = sum(o["lat_s"] for o in ops)

    def total(k):
        return sum(o.get(k, 0) for o in ops)

    m = {k: total(k) / n for k in PER_OP_MEAN}
    m["session.start_s"] = record["setup"]["start_s"]
    m["session.warmup_s"] = record["setup"]["warmup_s"]
    m["queries.build_s"] = total("build_s") / n
    busy = total("exec.busy_s")
    m["driver.solo_s"] = (lat - busy) / n
    m["exec.busy_share"] = busy / lat
    m["exec.core_util"] = total("exec.task_wall_s") / (lat * cores)
    run = total("exec.task_run_s")
    m["exec.cpu_share"] = total("exec.task_cpu_s") / run if run else 0.0
    m["exec.peak_mem_mb"] = max(o.get("exec.peak_mem_mb", 0) for o in ops)
    last = ops[-1]
    for k in ("cache.persisted_frames", "cache.mem_mb", "cache.disk_mb"):
        m[k] = last.get(k, 0)
    m["model.build_star_s"] = total("build_star_s") / n
    m["model.load_s"] = total("load_s") / n
    raw = sum(o.get("raw_bytes", 0) for o in ops)
    mb = 1024.0 * 1024.0
    m["model.write_amp"] = total("model.bytes_written_mb") * mb / raw if raw else 0.0
    loaded = record.get("raw_bytes_loaded", 0)
    m["model.bytes_stored_per_input_byte"] = (
        record["warehouse_bytes"] / loaded if loaded else 0.0)
    c = record["canary"]
    m["host.canary_shuffle_s"] = statistics.median([c["pre_shuffle_s"], c["post_shuffle_s"]])
    m["host.canary_cpu_s"] = statistics.median([c["pre_cpu_s"], c["post_cpu_s"]])
    m["host.steal_share"] = record["steal_share"]
    return m


def summarize(record, cores, trace):
    ops = record["ops"]
    lats = [o["lat_s"] for o in ops]
    attempted, failed = failures(record)
    p50 = statistics.median(lats)
    pct = record["tail_pct"]
    tail_v, beyond = tail(lats, pct)
    completed = sum(1 for o in ops if o["ok"])
    e2e = {
        "setup_s": record["setup"]["setup_s"],
        "op_p50_s": p50,
        "op_tail_s": tail_v,
        # the warehouse copies and trace snapshots after each op are not
        # the program's work
        "ops_per_s": completed / (record["timed_wall_s"] - sum(o["untimed_s"] for o in ops)),
        "peak_rss_mb": record["peak_rss_mb"],
    }
    extra = {
        "fail_ratio": failed / attempted,
        "op_tail_pct": pct, "op_tail_beyond": beyond, "op_samples": len(ops),
        "timed_wall_s": record["timed_wall_s"],
        "host_steal_share": record["steal_share"],
    }
    if record["workload"] == "star_etl":
        extra["bytes_stored_per_input_byte"] = (
            record["warehouse_bytes"] / record["raw_bytes_loaded"])
    if trace:
        layers = layer_metrics(record, cores)
        metrics = {k: {"value": layers[k], "unit": u} for k, (u, _) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, (u, _) in END_TO_END.items()}
    checked = all(o.get("checked", False) for o in ops)
    contract = {"correct": failed == 0 and checked,
                "attempted": attempted, "failed": failed, "metrics": metrics}
    return {"end_to_end": e2e, "extra": extra, "contract": contract}


def report(record, log):
    r = record["result"]
    for k, v in r["end_to_end"].items():
        log(f"{k} = {v:.6g} {END_TO_END[k][0]}")
    for k, v in r["extra"].items():
        log(f"{k} = {v:.6g}" if isinstance(v, float) else f"{k} = {v}")
    c = record["canary"]
    log("host canaries (pre/post): shuffle %.3f/%.3f s, cpu %.3f/%.3f s" % (
        c["pre_shuffle_s"], c["post_shuffle_s"], c["pre_cpu_s"], c["post_cpu_s"]))
    bad = [o for o in record["setup"]["warmup_ops"] if not o["ok"]]
    bad += [o for o in record["ops"] if not o["ok"]]
    for o in bad:
        log(f"FAILED {o['kind']}: {o['error']}")
