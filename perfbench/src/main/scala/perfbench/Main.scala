package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import graft.queries.Registry
import org.apache.spark.sql.SparkSession

/** One benchmark run: `Main <plan.json>`.
  *
  * The plan (written by `perfbench/run.py`) names the workload, its
  * warmup ops and its timed ops in seeded order. The run is a closed
  * loop with one client: each op starts when the previous one has
  * finished. It sets up once — `GraftSession.local` followed by
  * `warmup_passes` untimed passes that each run every op kind once, so
  * session memos and JIT are warm — and then runs timed ops, whole
  * cycles at a time, until `seconds` have passed and at least
  * `min_ops` ops have completed.
  *
  * The run record (per-op latencies, correctness, set-up time, host
  * canaries, peak RSS and, when traced, per-op layer counters and the
  * span list) is written as JSON for `run.py` to reduce to metrics.
  */
object Main {
  /** One op of the plan: its kind, the seeded cycle it belongs to and,
    * for star_etl, its generated inputs and expectations. */
  final case class Op(kind: String, cycle: Int, node: JsonNode)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  private def treeStats(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
        val data = files.filter(_.getFileName.toString.startsWith("part-"))
        (data.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }

  /** (steal, total) CPU time of all CPUs so far, in ticks, from /proc/stat. */
  private def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
      (t(7), t.sum)
    } finally f.close()
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def unionMs(intervals: Seq[(Long, Long)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var end = Double.MinValue
    clipped.foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  private def layer(spark: SparkSession, op: Int, startMs: Double, endMs: Double): Map[String, Any] = {
    val c = Trace.countersOf(op)
    val sc = spark.sparkContext
    val storage = sc.getRDDStorageInfo
    val mb = 1024.0 * 1024.0
    Map(
      "exec.jobs" -> c.jobs, "queries.build_jobs" -> c.buildJobs,
      "exec.stages" -> c.stages, "exec.tasks" -> c.tasks,
      "exec.busy_s" -> unionMs(c.taskIntervals.toSeq, startMs, endMs) / 1e3,
      "exec.task_wall_s" -> c.taskIntervals.map { case (a, b) => b - a }.sum / 1e3,
      "exec.task_run_s" -> c.taskRunMs / 1e3, "exec.task_cpu_s" -> c.taskCpuNs / 1e9,
      "exec.gc_s" -> c.gcMs / 1e3, "exec.peak_mem_mb" -> c.peakMem / mb,
      "shuffle.write_mb" -> c.shuffleWrite / mb, "shuffle.read_mb" -> c.shuffleRead / mb,
      "shuffle.spill_mb" -> c.spill / mb,
      "sources.input_mb" -> c.inputBytes / mb, "sources.input_rows" -> c.inputRows,
      "model.rows_written" -> c.outputRows, "model.bytes_written_mb" -> c.outputBytes / mb,
      "plans.actions" -> c.actions, "plans.analysis_ms" -> c.analysisMs,
      "plans.optimization_ms" -> c.optimizationMs, "plans.planning_ms" -> c.planningMs,
      "streaming.batches" -> c.batches, "streaming.trigger_ms" -> c.triggerMs,
      "streaming.add_batch_ms" -> c.addBatchMs, "streaming.planning_ms" -> c.batchPlanningMs,
      "streaming.wal_commit_ms" -> c.walCommitMs, "streaming.state_rows" -> c.stateRows,
      "streaming.state_mem_mb" -> c.stateMem / mb, "streaming.state_commit_ms" -> c.stateCommitMs,
      "cache.persisted_frames" -> sc.getPersistentRDDs.size,
      "cache.mem_mb" -> storage.map(_.memSize).sum / mb,
      "cache.disk_mb" -> storage.map(_.diskSize).sum / mb)
  }

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val plan = mapper.readTree(new File(args(0)))
    def list(k: String): Seq[JsonNode] = plan.get(k).elements.asScala.toSeq
    val workload = plan.get("workload").asText
    val cores = plan.get("cores").asInt
    val seconds = plan.get("seconds").asDouble
    val minOps = plan.get("min_ops").asInt
    val trace = plan.get("trace").asBoolean
    val corpus = plan.path("corpus").asText("")
    val work = Paths.get(plan.get("work").asText)
    val statsSeed = Option(plan.get("stats_seed")).filterNot(_.isNull).map(n => Paths.get(n.asText))
    val isStar = workload == "star_etl"
    val prod = Registry.production.map(q => q.name -> q).toMap
    // registry workloads name their op kinds and the harness orders
    // them with the seed; star_etl's ops come listed, with their
    // generated inputs
    val (warmup, timed): (Seq[Op], Seq[Op]) =
      if (isStar) {
        def ops(k: String) = list(k).map(n => Op(n.get("kind").asText, n.get("cycle").asInt, n))
        (ops("warmup"), ops("timed"))
      } else {
        val kinds = list("select").map(_.asText).distinct.sorted
        val unknown = kinds.filterNot(prod.contains)
        require(unknown.isEmpty, s"not production registry queries: ${unknown.mkString(",")}")
        val rng = new scala.util.Random(plan.get("seed").asLong)
        ((0 until plan.get("warmup_passes").asInt).flatMap(_ => kinds.map(Op(_, 0, null))),
          (0 until plan.get("cycles").asInt).flatMap(c => rng.shuffle(kinds).map(Op(_, c, null))))
      }
    require(warmup.nonEmpty && timed.nonEmpty, s"$workload: empty op selection")
    val expected: Option[Map[String, (Long, Long)]] =
      Option(plan.get("expected")).filterNot(_.isNull).map(_.fields.asScala.map { e =>
        e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asLong)
      }.toMap)
    expected.foreach { e =>
      val missing = warmup.map(_.kind).filterNot(e.contains)
      require(missing.isEmpty, s"no expected digest for ${missing.mkString(",")}")
    }

    Trace.enabled = trace
    if (trace) {
      System.setProperty("spark.extraListeners", "perfbench.JobListener")
      System.setProperty("spark.sql.queryExecutionListeners", "perfbench.PlanListener")
      System.setProperty("spark.sql.streaming.streamingQueryListeners", "perfbench.StreamListener")
    }

    var spark: SparkSession = null
    var nextOp = 0
    val warehouse = work.resolve("warehouse").toString
    var rawLoaded = 0L

    /** One op: timed from the first call into the engine to the end of
      * the action that materializes its result; checks and trace
      * snapshots follow, untimed, and their time is recorded as
      * `untimed_s`. A star_etl op's check runs after the run, on the
      * copy of the warehouse taken here (perfbench/warehouse.py). */
    def runOp(op: Op, parent: Long): mutable.LinkedHashMap[String, Any] = {
      val id = nextOp
      nextOp += 1
      val kind = op.kind
      val rec = mutable.LinkedHashMap[String, Any]("op" -> id, "kind" -> kind, "cycle" -> op.cycle)
      Trace.span("op", parent, id) { opSpan =>
        Trace.beginOp(id, opSpan)
        val startMs = Trace.nowMs
        val t0 = System.nanoTime()
        var failure: Option[String] = None
        try {
          if (isStar) {
            val t = Star.run(spark, op.node, warehouse, id, opSpan)
            rec ++= Seq("week" -> op.node.get("week").asInt, "read_s" -> t.readS,
              "build_star_s" -> t.buildStarS, "load_s" -> t.loadS,
              "raw_bytes" -> op.node.get("raw_bytes").asLong, "checked" -> true)
          } else {
            val q = prod(kind)
            val b0 = System.nanoTime()
            val df = Trace.buildSpan(opSpan, id)(q.build(spark, corpus))
            val b1 = System.nanoTime()
            val (rows, hash) = Trace.span("materialize", opSpan, id)(_ => Digest.of(df))
            val b2 = System.nanoTime()
            rec ++= Seq("build_s" -> (b1 - b0) / 1e9, "materialize_s" -> (b2 - b1) / 1e9,
              "rows" -> rows, "hash" -> hash, "checked" -> expected.isDefined)
            expected.foreach { e =>
              if (e(kind) != ((rows, hash)))
                failure = Some(s"DigestMismatch: got ($rows, $hash), expected ${e(kind)}")
            }
          }
        } catch {
          case NonFatal(e) =>
            failure = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        val lat = (System.nanoTime() - t0) / 1e9
        val endMs = Trace.nowMs
        val u0 = System.nanoTime()
        Trace.endOp()
        rec ++= Seq("lat_s" -> lat, "start_ms" -> startMs)
        if (trace) {
          rec ++= layer(spark, id, startMs, endMs)
          if (isStar) rec("model.files_written") = treeStats(Paths.get(warehouse))._1
        }
        if (isStar && failure.isEmpty) {
          rawLoaded += op.node.get("raw_bytes").asLong
          val snapshot = work.resolve("snapshots").resolve(id.toString)
          copyTree(Paths.get(warehouse), snapshot)
          rec("snapshot") = snapshot.toString
        }
        rec ++= Seq("ok" -> failure.isEmpty, "error" -> failure.orNull,
          "untimed_s" -> (System.nanoTime() - u0) / 1e9)
        failure.foreach(f => System.err.println(s"[perfbench] op $id $kind failed: $f"))
      }
      rec
    }

    var setupRec = Map.empty[String, Any]
    val opRecs = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    var canaries = Map.empty[String, Double]
    var timedWall = 0.0
    var stealShare = 0.0

    Trace.span("run", 0L) { runSpan =>
      statsSeed.foreach(s => copyTree(s, work.resolve("graft-stats")))
      System.setProperty("spark.graft.stats.dir", work.resolve("graft-stats").toString)
      Trace.span("setup", runSpan) { setupSpan =>
        spark = Trace.span("session.start", setupSpan)(_ => GraftSession.local(cores))
        val startS = (System.nanoTime() - entryNs) / 1e9
        val warm = Trace.span("session.warmup", setupSpan) { w => warmup.map(runOp(_, w)) }
        // the harness's own checks, drains and snapshots between ops are not set-up work
        val warmupS = warm.map(_("lat_s").asInstanceOf[Double]).sum
        setupRec = Map("start_s" -> startS, "warmup_s" -> warmupS, "setup_s" -> (startS + warmupS),
          "warmup_ops" -> warm.map(_.filter { case (k, _) =>
            Set("op", "kind", "lat_s", "ok", "error", "snapshot", "checked")(k) }))
      }
      canaries = Canary.sample(spark, cores).map { case (k, v) => s"pre_$k" -> v }

      val ticks0 = cpuTicks()
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var i = 0
      def inCycle = i > 0 && i < timed.size && timed(i).cycle == timed(i - 1).cycle
      while (i < timed.size && (inCycle || elapsed < seconds || opRecs.size < minOps)) {
        opRecs += runOp(timed(i), runSpan)
        i += 1
      }
      timedWall = elapsed
      val ticks1 = cpuTicks()
      // the share of the host's CPU time the hypervisor gave to other
      // guests while the timed ops ran: a busy host shows here first
      stealShare = (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
      canaries ++= Canary.sample(spark, cores).map { case (k, v) => s"post_$k" -> v }
    }

    val (whFiles, whBytes) = if (isStar) treeStats(Paths.get(warehouse)) else (0L, 0L)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> plan.get("seed").asLong, "trace" -> trace,
      "cores" -> cores, "timed_wall_s" -> timedWall, "peak_rss_mb" -> peakRssMb(),
      "canary" -> canaries, "steal_share" -> stealShare, "setup" -> setupRec, "ops" -> opRecs)
    if (isStar)
      record ++= Seq("warehouse_bytes" -> whBytes, "warehouse_files" -> whFiles,
        "raw_bytes_loaded" -> rawLoaded)
    spark.stop()
    mapper.writeValue(new File(plan.get("out").asText), record)
    if (trace)
      mapper.writeValue(new File(plan.get("spans").asText), Trace.allSpans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
  }
}
