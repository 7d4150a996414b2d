package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Headline bench measures SHIPPING shapes only: the Complete-mode
    // finite-replay oracle twins (QueryDef.oracleOnly —
    // st01/st10/st11/st13/st14/st19) exist to feed the correctness gate
    // and each names a graduated Append production form that IS
    // benched. SPARK_GRAFT_BENCH_TWINS=only measures just the twin
    // class (the committed twin artifact).
    val twinsMode = sys.env.get("SPARK_GRAFT_BENCH_TWINS")
    val base: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      twinsMode match {
        case Some("only") =>
          graft.queries.Registry.oracleTwins.map(q => q.name -> q.build).toMap
        case None =>
          graft.queries.Registry.production.map(q => q.name -> q.build).toMap
        // fail fast: a typo ("twins", "true", "1") silently measuring
        // the production set would commit headline numbers as a twin
        // artifact — the silent-miscapture class the errors map exists
        // to prevent
        case Some(other) => sys.error(
          s"SPARK_GRAFT_BENCH_TWINS must be 'only' (or unset), got '$other'")
      }
    // optional subset: comma-separated name prefixes (e.g.
    // "d02,d05,d11" for the near-dup scale study) — default all
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    def selected = only match {
      case Some(ps) => base.filter {
        case (n, _) => ps.exists(n.startsWith) }
      case None => base
    }
    // fail fast on an empty selection: a prefix typo
    // — or a twin name like 'st19' under the default twin-exclusion
    // mode — would otherwise silently run NOTHING and overwrite the
    // default artifact with an empty queries map and value 0.0, the
    // same silent-miscapture class the TWINS guard above closes
    only.foreach { ps =>
      require(selected.nonEmpty,
        s"SPARK_GRAFT_BENCH_ONLY matched no queries in this mode " +
          s"(${ps.mkString(",")}); twin names need SPARK_GRAFT_BENCH_TWINS")
    }
    val spark = GraftSession.local(cpus)
    // Steady-state methodology: one untimed warmup pass (codegen, JIT,
    // parquet reader paths), then TWO timed passes, each from a cold
    // cache (clearCache drops every persisted dataset so each pass
    // recomputes all data — only JVM warmth carries over), reporting
    // the per-query MIN: host load spikes inflate single runs by ±25%,
    // and the minimum of independent cold-cache runs is the standard
    // low-variance steady-state estimator.
    // SPARK_GRAFT_BENCH_MODE: `count` (default — the methodology every
    // committed artifact uses) or `noop` (write to the noop datasource,
    // forcing FULL materialization of every output column). count()
    // lets Catalyst prune work that doesn't affect cardinality — a
    // query whose tail is a filter-free windowed projection (q30/q41's
    // as-of pattern) times its scan, not its window, under count. The
    // noop mode exists to measure that honestly; the default stays
    // count so artifacts from different runs compare like with like.
    val noop = sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("noop")
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      if (noop) df.write.format("noop").mode("overwrite").save()
      else { df.count(); () }
    // A failing query must be VISIBLE in the artifact, not recorded as
    // a fast success: a silent `catch Throwable` would publish a
    // query's time-to-exception as its time-to-answer.
    // Failures land in an `errors` map in the JSON and on stderr; only
    // NonFatal is caught (an OOM/interrupt must propagate, and
    // swallowing InterruptedException would clear the interrupt flag).
    val errors = scala.collection.mutable.Map[String, String]()
    def guarded(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Boolean =
      try { run(fn(spark, sfDir)); true } catch {
        case scala.util.control.NonFatal(e) =>
          errors.put(name, e.getClass.getSimpleName)
          System.err.println(s"[bench] $name FAILED: $e")
          false
      }
    selected.foreach { case (name, fn) => guarded(name, fn) }
    // An errored query contributes NO timing: its
    // time-to-exception would deflate the headline total, making
    // totals across runs with differing error sets incomparable. The
    // failure itself stays visible in the errors map.
    def timedPassTL(tick: () => Unit): Map[String, Double] = {
      spark.catalog.clearCache()
      selected.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val t0 = System.nanoTime()
        val r = if (guarded(name, fn))
          Some(name -> (System.nanoTime() - t0) / 1e9)
        else None
        tick() // timeline sampling happens OUTSIDE the timed window
        r
      }.toMap
    }
    // HOST-SPEED CANARY: a fixed-size, corpus-
    // independent calibration workload — 8M longs hashed, shuffled on
    // the hash, sorted within partitions, fully materialized through
    // the noop sink (exercising codegen, exchange, and sort, the three
    // cost centers host drift moves). Timed AFTER the warmup pass
    // (JIT-warm, like every timed query), min of two runs, emitted as
    // `canary_sec` in the artifact so totals from different runs can
    // be drift-adjusted mechanically (tools/audit_table.py --prev)
    // instead of by a same-session A/B run.
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 8L * 1000 * 1000, 1, 32)
        .selectExpr("xxhash64(id) AS h")
        .repartition(32, org.apache.spark.sql.functions.col("h"))
        .sortWithinPartitions("h")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // CPU-BOUND CANARY: the shuffle canary above tracks
    // exchange/codegen/sort speed but is blind to pure-CPU drift — the
    // media family once inflated +15-25% at a FLAT shuffle canary
    // (PLANS_HISTORY), leaving decode-bound rows unadjudicable. This
    // leg is a fixed, deterministic
    // javax.imageio PNG encode→decode loop — the exact codec path
    // MediaDecode's m-family runs per row — single-threaded on
    // purpose: decode work in the m-family is per-row single-core, so
    // single-core codec throughput is the right divisor for those
    // rows (tools/audit_table.py --cpu-prev). ~0.4 s at reference
    // speed; emitted as `canary_cpu_sec` (min of pre samples) +
    // `canary_cpu_post_sec` + its own spread.
    // match MediaDecode's JVM-wide imageio configuration (no disk-
    // backed stream cache) so the canary measures the same codec path
    // the m-family runs, even when the selection excludes m-queries
    javax.imageio.ImageIO.setUseCache(false)
    def canaryCpuOnce(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < 24) {
        val img = new java.awt.image.BufferedImage(
          256, 256, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var s = 0x9E3779B97F4A7C15L + i  // seeded LCG pixels: every
        var y = 0                        // iteration encodes identical
        while (y < 256) {                // entropy, so the work is fixed
          var x = 0
          while (x < 256) {
            s = s * 6364136223846793005L + 1442695040888963407L
            img.setRGB(x, y, (s >>> 40).toInt)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        val back = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bos.toByteArray))
        require(back.getWidth == 256, "cpu canary decode corrupted")
        i += 1
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Min of THREE pre-run samples (one min-of-two ~1 s sample
    // propagates its noise 1:1 into the drift-adjusted headline), plus
    // two post-run samples so drift DURING the bench is visible; the
    // artifact carries the pre-min (`canary_sec`; `canary_pre2_sec`,
    // the min of the first two samples, compares with artifacts that
    // took a min of two), the post-min, and the total spread as the
    // adjustment's error bar.
    val canaryPre = Seq.fill(3)(canaryOnce())
    val canary = canaryPre.min
    // one untimed warmup: the first imageio call pays one-time codec
    // registry + JIT cost (~2x), which would pollute the SPREAD metric
    // (the error bar) even though the min absorbs it
    canaryCpuOnce()
    val canaryCpuPre = Seq.fill(3)(canaryCpuOnce())
    val canaryCpu = canaryCpuPre.min
    // MID-BENCH CANARY TIMELINE: the bracketing
    // samples above/below cannot localize WHEN drift hit a run; one
    // (shuffle, cpu) sample pair every TL_EVERY completed queries —
    // recorded as [queries_completed, shuffle_sec, cpu_sec] triples
    // across both timed passes — lets the audit discard a drifted
    // WINDOW instead of the whole comparison. Samples run BETWEEN
    // queries, so per-query timings are untouched; ~12 pairs × ~1 s
    // on the sf0.1 run is wall overhead only, not measurement.
    val TL_EVERY = 35
    val timeline = scala.collection.mutable.ArrayBuffer[(Int, Double, Double)]()
    var completed = 0
    def timelineTick(): Unit = {
      completed += 1
      if (completed % TL_EVERY == 0)
        timeline += ((completed, canaryOnce(), canaryCpuOnce()))
    }
    val p1 = timedPassTL(timelineTick)
    val p2 = timedPassTL(timelineTick)
    val canaryPost = Seq.fill(2)(canaryOnce())
    val canaryCpuPost = Seq.fill(2)(canaryCpuOnce())
    val canaryAll = canaryPre ++ canaryPost
    val canarySpreadPct =
      100.0 * (canaryAll.max - canaryAll.min) / canaryAll.min
    val canaryCpuAll = canaryCpuPre ++ canaryCpuPost
    val canaryCpuSpreadPct =
      100.0 * (canaryCpuAll.max - canaryCpuAll.min) / canaryCpuAll.min
    val results = p1.flatMap { case (k, v) =>
      p2.get(k).map(v2 => k -> math.min(v, v2)) }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // The 15 most expensive queries, repeated compactly near the END of
    // the line: harness logs keep only the final ~2KB, and the full map
    // exceeds that — without this the expensive tail is invisible to
    // anyone reading the truncated log.
    val top15 = results.toSeq.sortBy(-_._2).take(15)
      .map { case (k, v) => s"\"" + k + s"""":${math.round(v * 1000) / 1000.0}""" }
      .mkString("{", ",", "}")
    // Key order puts top15 + the headline total LAST: harness logs keep
    // only the final ~2KB of output, and with 90+ queries the map alone
    // exceeds that — leading keys would be truncated out of the tail.
    // optional provenance note (e.g. the gen_sf.py invocation + seed
    // that produced a generated corpus) — pinned INSIDE the artifact
    // so a committed bench_full_*.json is self-describing
    val note = sys.env.get("SPARK_GRAFT_BENCH_NOTE")
      .map(n => s""""note":"${n.replace("\"", "'")}",""").getOrElse("")
    val errs =
      if (errors.isEmpty) ""
      else errors.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
        .mkString("\"errors\":{", ",", "},")
    def r3(d: Double) = math.round(d * 1000) / 1000.0
    val tl = timeline
      .map { case (n, sh, cp) => s"[$n,${r3(sh)},${r3(cp)}]" }
      .mkString("[", ",", "]")
    val line = s"""{$note$errs"canary_sec":$canary,"canary_pre2_sec":${canaryPre.take(2).min},"canary_post_sec":${canaryPost.min},"canary_spread_pct":${math.round(canarySpreadPct * 10) / 10.0},"canary_cpu_sec":$canaryCpu,"canary_cpu_post_sec":${canaryCpuPost.min},"canary_cpu_spread_pct":${math.round(canaryCpuSpreadPct * 10) / 10.0},"canary_timeline":$tl,"queries":$qs,"sf":"$sfDir","metric":"total","unit":"sec","top15":$top15,"value":$total}"""
    // Complete per-query artifact ON DISK (a log tail truncates ~2/3
    // of the per-query numbers, so diffs across runs would depend on
    // regexing tails). Default lands in the repo as
    // bench_full_latest.json; a committed copy is bench_full_rN.json.
    // Resolved against user.dir CAPTURED HERE (absolute), not left to
    // whatever CWD the JVM has when the write happens; only NonFatal
    // is swallowed — an OOM/interrupt must propagate, not vanish
    // behind a stderr line (and catching InterruptedException would
    // also clear the interrupt flag).
    // twin-mode default artifact is its OWN file: a twins run left on
    // the default path would clobber the headline bench_full_latest
    // with a 6-query map, and a later audit_table regeneration from it
    // would blank the sf0.1 column for every production query
    // ... and a noop-mode run is likewise NOT count-mode-comparable:
    // landing it on the headline path would poison the next audit
    // table regeneration with full-materialization numbers
    val defaultOut = (twinsMode, noop) match {
      case (Some("only"), true) => "bench_twins_noop_latest.json"
      case (Some("only"), false) => "bench_twins_latest.json"
      case (_, true) => "bench_noop_latest.json"
      case _ => "bench_full_latest.json"
    }
    val outPath = java.nio.file.Paths.get(
      System.getProperty("user.dir", ".")).resolve(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut))
    try java.nio.file.Files.write(outPath, line.getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"bench artifact write failed ($outPath): $e") }
    spark.stop()
    // Two stdout lines, full then SHORT, both after spark.stop() so
    // nothing interleaves. The driver parses the tail of stdout and
    // its window is smaller than the full per-query map (a one-line
    // summary that exceeded the tail once parsed as null) — so the
    // FINAL line is a compact
    // summary guaranteed to survive any tail: headline total, query
    // count, errors count, and the top-5 map as `queries` (the
    // driver's documented key). The full per-query detail stays in
    // the on-disk artifact (bench_full_*.json) and the first line.
    println(line)
    val top5 = results.toSeq.sortBy(-_._2).take(5)
      .map { case (k, v) => s"\"" + k + s"""":${math.round(v * 1000) / 1000.0}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","n":${results.size},""" +
      s""""n_errors":${errors.size},"canary_sec":$canary,"queries":$top5,""" +
      s""""full_artifact":"${outPath.getFileName}","value":$total}""")
  }
}
