package graft.plans

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.functions._

/** Sidecar statistics feeding CATALYST'S OWN cost-based decisions
  * ([[AttachSidecarStats]], round-10 verdict top item). Pins the three
  * observable contracts:
  *
  *  1. BROADCAST FLIP — a filtered dim whose file size exceeds the
  *     broadcast threshold plans as SMJ without statistics, and as
  *     BroadcastHashJoin once ANALYZE gives FilterEstimation the
  *     NDV to prove the filtered side is tiny. Same rows both ways.
  *  2. JOIN-ORDER FLIP — a 3-relation join declared worst-first is
  *     left in declared order without statistics (CostBasedJoinReorder
  *     requires row counts on every input) and reordered with them.
  *     Same rows both ways.
  *  3. ZERO OPTIMIZER-TIME JOBS — attaching statistics is a sidecar
  *     file read, never a Spark job.
  *
  * The suite builds its own session because preCBO rules inject only
  * at session construction (`spark.sql.extensions` →
  * [[graft.functions.GraftExtensions]]); the shared SparkContext is
  * reused, and the plain suite session is restored as default so
  * sibling suites are unaffected. AQE is disabled inside the flip
  * tests: at runtime AQE would ALSO discover the filtered side is
  * small and convert to broadcast — the point pinned here is that
  * statistics get the plan right BEFORE execution (at 100 TB the
  * initial shuffle AQE would observe is the cost being avoided).
  */
class StatsCboSpec extends SparkSpec {

  /** session with GraftExtensions (preCBO rule) + CBO enabled —
    * [[graft.GraftSession]]'s exact gate configuration. */
  private lazy val cbo: SparkSession = graftSpark

  private def freshStoreDir(): String =
    graft.TempDirs.create("graft-cbo-spec").toString

  /** deterministic uncompressible-ish tables: `fact` (rows × (fk, v)),
    * `dim` (dk unique, grp ∈ [0, nGroups)). */
  private def writeTables(dir: String, factRows: Int, dimRows: Int,
      nGroups: Int): (DataFrame, DataFrame) = {
    import cbo.implicits._
    (0 until factRows).map(i => (i % dimRows, i.toLong * 2654435761L))
      .toDF("fk", "v").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/fact")
    (0 until dimRows).map(k => (k, k % nGroups, s"payload_${k * 48271}"))
      .toDF("dk", "grp", "pay").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/dim")
    (cbo.read.parquet(s"$dir/fact"), cbo.read.parquet(s"$dir/dim"))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("broadcast decision flips under sidecar statistics, same result rows") {
    val store = freshStoreDir()
    val data = graft.TempDirs.create("graft-cbo-data").toString
    val (fact, dim) = writeTables(data, factRows = 20000, dimRows = 8000,
      nGroups = 100)
    val dimBytes = Files.walk(java.nio.file.Paths.get(data, "dim"))
      .filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
    // threshold strictly below the dim FILE size: without statistics
    // even the filtered dim is costed at ~file size (the default
    // visitor passes a Filter's child size through) → no broadcast;
    // with ANALYZE, FilterEstimation prices grp = 7 at rows/ndv(grp)
    // = 8000/100 = 80 rows → far under the threshold → broadcast
    def query() = fact.join(dim.filter(col("grp") === 7),
        col("fk") === col("dk"))
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    withConf(cbo,
        StatsStore.DIR -> store,
        "spark.sql.adaptive.enabled" -> "false",
        // /8: the size-only visitor scales the pruned (dk, grp) scan to
        // ~0.44× of the file bytes — the threshold must sit below THAT
        // estimate so the un-analyzed side stays SMJ, while the
        // NDV-priced 80-row filtered estimate lands far beneath it
        "spark.sql.autoBroadcastJoinThreshold" -> (dimBytes / 8).toString) {
      StatsStore.clearLoaded()
      def joins(df: DataFrame): String = df.queryExecution.sparkPlan.toString
      val withoutStats = joins(query())
      assert(withoutStats.contains("SortMergeJoin"),
        s"un-analyzed: expected SMJ (file-size costing above threshold):\n$withoutStats")
      val rowsBefore = sortedRows(query())
      StatsStore.analyze(dim, Seq("dk", "grp"), note = "cbo spec dim")
      StatsStore.analyze(fact, Seq("fk"), note = "cbo spec fact")
      StatsStore.clearLoaded() // force the disk path, not the write cache
      val withStats = joins(query())
      assert(withStats.contains("BroadcastHashJoin"),
        s"analyzed: expected broadcast (NDV-priced filter under threshold):\n$withStats")
      val rowsAfter = sortedRows(query())
      assert(rowsAfter === rowsBefore,
        "the flipped plan must return identical rows")
    }
  }

  test("RANGE-predicate broadcast flip: min/max bounds price a BETWEEN, same rows") {
    // equality predicates flip on NDV alone (test above); a range
    // predicate needs the column BOUNDS — without min/max,
    // FilterEstimation cannot interpolate and the filtered dim keeps
    // ~file-size costing (SMJ); with ANALYZE's numeric min/max the
    // 2-of-100 group BETWEEN prices at ~2% and broadcasts.
    val store = freshStoreDir()
    val data = graft.TempDirs.create("graft-cbo-data4").toString
    val (fact, dim) = writeTables(data, factRows = 20000, dimRows = 8000,
      nGroups = 100)
    val dimBytes = Files.walk(java.nio.file.Paths.get(data, "dim"))
      .filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
    def query() = fact.join(dim.filter(col("grp").between(3, 4)),
        col("fk") === col("dk"))
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    withConf(cbo,
        StatsStore.DIR -> store,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> (dimBytes / 8).toString) {
      StatsStore.clearLoaded()
      def plan(df: DataFrame): String = df.queryExecution.sparkPlan.toString
      val withoutStats = plan(query())
      assert(withoutStats.contains("SortMergeJoin"),
        s"un-analyzed: range filter must keep file-size costing → SMJ:\n$withoutStats")
      val rowsBefore = sortedRows(query())
      StatsStore.analyze(dim, Seq("dk", "grp"), note = "cbo range spec")
      StatsStore.clearLoaded()
      val withStats = plan(query())
      assert(withStats.contains("BroadcastHashJoin"),
        s"analyzed: min/max-priced BETWEEN must broadcast:\n$withStats")
      assert(sortedRows(query()) === rowsBefore,
        "the flipped plan must return identical rows")
    }
  }

  test("3-relation join order flips under sidecar statistics, same result rows") {
    val store = freshStoreDir()
    val data = graft.TempDirs.create("graft-cbo-data2").toString
    import cbo.implicits._
    // big ⋈ big ⋈ tiny declared WORST-FIRST: (bigA ⋈ bigB) ⋈ tiny.
    // Reordered, the selective tiny dim joins first and the big-big
    // join carries only surviving keys. Both "big" sides share key
    // space; tiny matches 1% of it.
    (0 until 30000).map(i => (i % 3000, i.toLong)).toDF("k1", "a")
      .repartition(1).write.mode("overwrite").parquet(s"$data/bigA")
    (0 until 30000).map(i => (i % 3000, i.toLong + 7)).toDF("k2", "b")
      .repartition(1).write.mode("overwrite").parquet(s"$data/bigB")
    (0 until 30).map(i => (i * 100, s"t$i")).toDF("k3", "t")
      .repartition(1).write.mode("overwrite").parquet(s"$data/tiny")
    val bigA = cbo.read.parquet(s"$data/bigA")
    val bigB = cbo.read.parquet(s"$data/bigB")
    val tiny = cbo.read.parquet(s"$data/tiny")
    def query() = bigA
      .join(bigB, col("k1") === col("k2"))
      .join(tiny, col("k1") === col("k3"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    def joinLeaves(plan: LogicalPlan): Seq[String] = plan.collect {
      case j: Join => j
    }.lastOption.toSeq.flatMap(_.collectLeaves().map(_.toString))
    withConf(cbo,
        StatsStore.DIR -> store,
        "spark.sql.adaptive.enabled" -> "false",
        // reorder is opt-in (GraftSession keeps Spark's own default,
        // off — the registry's joins are hand-ordered); this test IS
        // the opt-in path
        "spark.sql.cbo.joinReorder.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      StatsStore.clearLoaded()
      val before = query()
      val orderBefore = joinLeaves(before.queryExecution.optimizedPlan)
      val rowsBefore = sortedRows(before)
      StatsStore.analyze(bigA, Seq("k1"), note = "cbo spec bigA")
      StatsStore.analyze(bigB, Seq("k2"), note = "cbo spec bigB")
      StatsStore.analyze(tiny, Seq("k3"), note = "cbo spec tiny")
      StatsStore.clearLoaded()
      val after = query()
      val orderAfter = joinLeaves(after.queryExecution.optimizedPlan)
      assert(orderAfter !== orderBefore,
        s"CostBasedJoinReorder must reorder the analyzed join tree:\n" +
          s"before=$orderBefore\nafter=$orderAfter")
      assert(sortedRows(after) === rowsBefore,
        "the reordered plan must return identical rows")
    }
  }

  test("SQL-text entry point: reorder + sidecar stats fix a naive worst-first join") {
    // The consumer join reorder serves (round-11 verdict #3): someone
    // typing SQL against registered tables, with no opportunity to
    // hand-order the join tree the way the registry's Column-API
    // pipelines are. Same worst-first 3-relation shape as above, but
    // declared AS SQL TEXT — the q28/q86/q88 entry-point class. With
    // reorder on and the tables ANALYZEd, the optimizer rewrites the
    // declared (bigA ⋈ bigB) ⋈ tiny into a selective-first tree;
    // rows are identical either way. README's "Cost-based
    // optimization" section documents this as the one case to flip
    // spark.sql.cbo.joinReorder.enabled=true.
    val store = freshStoreDir()
    val data = graft.TempDirs.create("graft-cbo-data4").toString
    import cbo.implicits._
    (0 until 30000).map(i => (i % 3000, i.toLong)).toDF("k1", "a")
      .repartition(1).write.mode("overwrite").parquet(s"$data/bigA")
    (0 until 30000).map(i => (i % 3000, i.toLong + 7)).toDF("k2", "b")
      .repartition(1).write.mode("overwrite").parquet(s"$data/bigB")
    (0 until 30).map(i => (i * 100, s"t$i")).toDF("k3", "t")
      .repartition(1).write.mode("overwrite").parquet(s"$data/tiny")
    val bigA = cbo.read.parquet(s"$data/bigA")
    val bigB = cbo.read.parquet(s"$data/bigB")
    val tiny = cbo.read.parquet(s"$data/tiny")
    bigA.createOrReplaceTempView("sql_biga")
    bigB.createOrReplaceTempView("sql_bigb")
    tiny.createOrReplaceTempView("sql_tiny")
    def query() = cbo.sql("""
      SELECT t, count(1) AS n
      FROM sql_biga
      JOIN sql_bigb ON k1 = k2
      JOIN sql_tiny ON k1 = k3
      GROUP BY t""")
    def joinLeaves(plan: LogicalPlan): Seq[String] = plan.collect {
      case j: Join => j
    }.lastOption.toSeq.flatMap(_.collectLeaves().map(_.toString))
    withConf(cbo,
        StatsStore.DIR -> store,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.cbo.joinReorder.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      StatsStore.clearLoaded()
      val before = query()
      val orderBefore = joinLeaves(before.queryExecution.optimizedPlan)
      val rowsBefore = sortedRows(before)
      StatsStore.analyze(bigA, Seq("k1"), note = "cbo sql spec bigA")
      StatsStore.analyze(bigB, Seq("k2"), note = "cbo sql spec bigB")
      StatsStore.analyze(tiny, Seq("k3"), note = "cbo sql spec tiny")
      StatsStore.clearLoaded()
      val after = query()
      val orderAfter = joinLeaves(after.queryExecution.optimizedPlan)
      assert(orderAfter !== orderBefore,
        s"SQL-text join must reorder under statistics:\n" +
          s"before=$orderBefore\nafter=$orderAfter")
      assert(sortedRows(after) === rowsBefore,
        "the reordered SQL plan must return identical rows")
    }
  }

  test("attaching statistics runs zero Spark jobs at optimize time") {
    val store = freshStoreDir()
    val data = graft.TempDirs.create("graft-cbo-data3").toString
    val (fact, dim) = writeTables(data, factRows = 5000, dimRows = 500,
      nGroups = 20)
    withConf(cbo, StatsStore.DIR -> store) {
      StatsStore.analyze(fact, Seq("fk"), note = "cbo spec jobs")
      StatsStore.analyze(dim, Seq("dk"), note = "cbo spec jobs")
      StatsStore.clearLoaded()
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      cbo.sparkContext.addSparkListener(listener)
      try {
        val q = fact.join(dim, col("fk") === col("dk"))
          .groupBy(col("grp")).agg(sum(col("v")).as("sv"))
        q.queryExecution.optimizedPlan // forces analysis + optimization
        Thread.sleep(300) // let any stray job-start event reach the bus
        assert(jobs.get() === 0,
          s"optimization must not run jobs (stats come from the sidecar); ran ${jobs.get()}")
        // and the stats actually arrived: the dim scan carries rowCount
        val stats = q.queryExecution.optimizedPlan.collectLeaves()
          .map(_.stats.rowCount)
        assert(stats.exists(_.contains(BigInt(500))),
          s"expected a leaf with rowCount=500 from the sidecar: $stats")
      } finally cbo.sparkContext.removeSparkListener(listener)
    }
  }
}
