package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point — one call gives a user the
  * deployment-grade configuration the test gates run under:
  *
  *  - `spark.sql.extensions = graft.functions.GraftExtensions`: the
  *    13 native `graft_*` functions (`graft_dot`,
  *    `graft_rolling_minhash`, the frequent-items sketch, …) resolve
  *    from SQL text, and the `row_number() <= k` → [[graft.plans.TopKPerKey]]
  *    optimizer rewrite + planner strategy are active for every query
  *    in the session, not just Column-API callers;
  *  - cost-based optimization on, reading statistics that only
  *    ANALYZE writes (`graft.Analyze` → [[graft.plans.StatsStore]]);
  *  - shuffle partitions sized to the session's parallelism rather
  *    than the 200 default (a 32-core local run wants 32; a
  *    1000-executor cluster sets cores to its total slots — at real
  *    scale AQE coalescing then splits/merges from a sane starting
  *    width);
  *  - UTC session timezone (timestamp determinism across engines and
  *    clusters);
  *  - nanosAsLong for parquet TIMESTAMP(NANOS) inputs (the events
  *    table; Spark cannot otherwise read nano precision);
  *  - a compiled-code cache of [[CodegenCacheEntries]] classes instead
  *    of Spark's 100, so a repeated weekly star load
  *    ([[graft.model.Pipeline.load]], [[graft.streaming.Streams.incrementalLoad]])
  *    reuses its generated classes instead of recompiling them. Spark's
  *    cache is LRU, and a smaller one evicts each class before its next
  *    use. Spark reads the size ONCE per JVM, when the first query is
  *    compiled (`CodeGenerator`'s object init), so it holds only where a
  *    session built here runs the JVM's first codegen — as in Verify,
  *    Bench, Analyze and perfbench;
  *  - Hadoop's local filesystem without its forks ([[LocalFs]], keys in
  *    [[LocalFileSystems]]). Spark ships no libhadoop, so stock Hadoop
  *    execs `chmod` for every local file create and mkdir and `readlink`
  *    for every FileContext rename. Counted with JFR (`jdk.ProcessStart`,
  *    4 cores, one benchmark run each), that was 153 processes per st05
  *    streaming replay (checkpoint logs and state-store commits) and
  *    about 103 per weekly star load (write tasks and the output
  *    committer); with these classes it is none. Hadoop caches one
  *    FileSystem per scheme per JVM, built from the configuration of
  *    its first caller, so — like the codegen cache size — this holds
  *    where a context built here touches `file:` first;
  *  - session artifact isolation off ([[NoArtifactIsolation]]), so each
  *    generated class is compiled once per JVM. Spark keys its codegen
  *    cache by (thread context class loader, code). Every streaming
  *    query runs on a `cloneSession()` of its caller, and with
  *    isolation on each clone carries its own artifact-state UUID, for
  *    which the executor builds a fresh class loader. So every st05
  *    replay compiled its generated classes again (Janino, then C2):
  *    `-Xlog:class+load` showed 18–36 `GeneratedClass` loads a second
  *    through a benchmark run, and a repeated st05 replay compiled 9
  *    classes; with isolation off, none. Isolation only separates the
  *    jars, files and classes a session adds as artifacts, and the
  *    engine adds none, so it buys nothing here. Traced per st05
  *    replay (4 cores, sf0.01): task run time 0.65 → 0.27 s,
  *    `addBatch` 345 → 175 ms, with the same 4 jobs and 14 tasks.
  *
  * `graft.Verify` and `graft.Bench` — the correctness and benchmark
  * gates — build their sessions HERE, so this path is exercised by
  * every gate run rather than sitting as untested deployment advice.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`. Measured with an unbounded
    * cache (4 cores): a star_etl session's warmup load plus one cycle of
    * three loads compiles 160 distinct classes, and each later load
    * reuses them. A `graft.Verify` pass at sf0.01 compiles 2,474
    * distinct classes, each query's once; at this size it compiles
    * 2,740 in all, against 4,016 at Spark's default of 100. That
    * JVM's peak RSS (`-Xmx8g`, one run each) was 4,049 MB at 100,
    * 4,236 MB at 1000 and 4,632 MB unbounded. */
  val CodegenCacheEntries = 1000

  /** Hadoop's `file:` scheme for both of its APIs, FileSystem and
    * FileContext, as `spark.hadoop.*` keys ([[LocalFs]]). */
  val LocalFileSystems: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs.Fs].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.AbstractFs].getName)

  /** `spark.sql.artifact.isolation.enabled` off: every session, cloned
    * ones included, runs its tasks in the executor's one class loader
    * and so shares one codegen cache. */
  val NoArtifactIsolation: Map[String, String] = Map(
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** Pre-configured builder; caller may override/extend before
    * `getOrCreate()`. `master` empty ⇒ leave to spark-submit. */
  def builder(cores: Int, master: String = ""): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .config(LocalFileSystems)
      .config(NoArtifactIsolation)
      .config("spark.sql.shuffle.partitions", cores)
      // Scan-parallelism FLOOR (guide §6): file splits follow BYTES
      // (maxPartitionBytes), so a table that is small on disk but
      // expensive per row — the media family's real-codec decodes —
      // lands in ONE split and runs single-core at any core count
      // (measured: m06 at sf1 took 5.1 s on 32 cores and 5.3 s on 8 —
      // no scaling, because there was nothing to schedule). A floor of
      // `cores` splits small scans across the session's slots and is
      // scale-adaptive by construction: at 100 TB every scan already
      // has thousands of byte-sized splits and the floor is inert.
      .config("spark.sql.files.minPartitionNum", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Cost-based optimization fed by the ANALYZE sidecar
      // (graft.plans.StatsStore): AttachSidecarStats (a preCBO
      // extension rule) folds persisted (rows, NDV, nulls, avgLen,
      // numeric min/max) into CatalogStatistics on analyzed file scans,
      // so broadcast selection and filter-cardinality estimation run on
      // measured numbers instead of compressed file bytes — ANALYZE
      // once, every decision benefits (the Postgres contract the
      // reference delegates to, SURVEY §4.1). Un-analyzed tables keep
      // stock size-only estimation. Join REORDER stays at Spark's own
      // default (off) even under CBO: the registry's plans are
      // hand-ordered and measured (A/B at sf0.1: reorder rewrote q18's
      // join tree 0.93 → 1.42 s by widening the broadcast build side) —
      // reorder is for naive plans, opt in with
      // spark.sql.cbo.joinReorder.enabled=true (StatsCboSpec proves the
      // sidecar steers it when enabled).
      .config("spark.sql.cbo.enabled", "true")
    if (master.nonEmpty) b.master(master) else b
  }

  /** Local session at the given core count (the gate configuration). */
  def local(cores: Int, uiEnabled: Boolean = false): SparkSession = {
    val s = builder(cores, s"local[$cores]")
      .config("spark.ui.enabled", uiEnabled.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
