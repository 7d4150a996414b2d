package graft.model

import graft.SparkSpec
import graft.ops.Upsert

/** End-to-end ETL: build the star schema from synthetic raw inputs,
  * load twice, prove idempotence and the two conflict modes, and pin
  * the concurrent load's contract: same tables as a sequential merge,
  * caller's local properties on every job, per-table failures. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def rawInputs(captain: String) = PlayerMatchFixture.rawInputs(spark, captain)

  test("full ETL: build + load produces all 8 tables; reload is idempotent") {
    val wh = graft.TempDirs.create("graft-wh").toString
    val star = Pipeline.buildStar(spark, rawInputs("Bukayo Saka"))
    Pipeline.load(spark, wh, star)
    val counts1 = star.keys.map(t => t -> spark.read.parquet(s"$wh/$t").count()).toMap
    assert(counts1.size === 8)
    assert(counts1("dim_player") === 3L)
    assert(counts1("fact_team_match") === 1L)
    assert(counts1("fact_team_point") === 1L)
    assert(counts1("fact_player_match") === 2L)
    // re-load the SAME increment: every table unchanged
    Pipeline.load(spark, wh, Pipeline.buildStar(spark, rawInputs("Bukayo Saka")))
    val counts2 = star.keys.map(t => t -> spark.read.parquet(s"$wh/$t").count()).toMap
    assert(counts2 === counts1)
  }

  test("facts are written partitioned by season and prune on a season filter") {
    val wh = graft.TempDirs.create("graft-wh3").toString
    Pipeline.load(spark, wh, Pipeline.buildStar(spark, rawInputs("Bukayo Saka")))
    val dirs = new java.io.File(s"$wh/fact_team_match").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("season=")), dirs.mkString(","))
    val read = spark.read.parquet(s"$wh/fact_team_match").filter($"season" === 2526)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(season"), plan.take(800))
    assert(read.count() === 1)
  }

  test("dims update-wins, facts ignore-new across loads") {
    val wh = graft.TempDirs.create("graft-wh2").toString
    Pipeline.load(spark, wh, Pipeline.buildStar(spark, rawInputs("Bukayo Saka")))
    // second load: same keys, changed captain (fact attr) and team seed
    val changed = rawInputs("Declan Rice").copy(
      teamSeed = Seq(("Q1", "Arsenal F.C.", "1886", "Q10", "AFC"), // short_name changed
        ("Q2", "Manchester Utd F.C.", "1878", "Q11", "MUN"))
        .toDF("team_id", "team_name", "founded_year", "stadium_id", "short_name"))
    Pipeline.load(spark, wh, Pipeline.buildStar(spark, changed))
    // dim update-wins: new short_name visible
    val ars = spark.read.parquet(s"$wh/dim_team")
      .filter($"team_id" === 1).collect()(0)
    assert(ars.getAs[String]("short_name") === "AFC")
    // fact ignore-new: original captain (Saka, id 1) retained
    val fact = spark.read.parquet(s"$wh/fact_team_match").collect()(0)
    assert(fact.getAs[Int]("captain_id") === 1)
  }

  private def tablesOf(wh: String) =
    Pipeline.keys.keys.map(t => t -> spark.read.parquet(s"$wh/$t")).toMap

  private def assertSameRows(a: org.apache.spark.sql.DataFrame,
                             b: org.apache.spark.sql.DataFrame, what: String): Unit = {
    assert(a.exceptAll(b).isEmpty, s"$what: rows only in the first")
    assert(b.exceptAll(a).isEmpty, s"$what: rows only in the second")
  }

  test("concurrent load equals a sequential per-table mergeSwap") {
    val whA = graft.TempDirs.create("graft-whA").toString
    val whB = graft.TempDirs.create("graft-whB").toString
    // two increments, so the second one merges into live tables
    for (captain <- Seq("Bukayo Saka", "Declan Rice")) {
      val star = Pipeline.buildStar(spark, rawInputs(captain))
      Pipeline.load(spark, whA, star)
      // reference: one mergeSwap after another, dims update-wins,
      // facts ignore-new and partitioned by season
      star.foreach { case (name, df) =>
        val dim = name.startsWith("dim_")
        val key = Pipeline.keys(name)
        Pipeline.mergeSwap(spark, whB, name, df,
          if (dim) Upsert.updateWins(_, _, key) else Upsert.ignoreNew(_, _, key),
          if (dim) Nil else Seq("season", "season_id").filter(df.columns.contains).take(1))
      }
    }
    val (a, b) = (tablesOf(whA), tablesOf(whB))
    assert(a.size === 8)
    a.keys.foreach(t => assertSameRows(a(t), b(t), t))
  }

  test("mergeSwap reads a live table's schema from a footer, as Spark infers it, without a job") {
    val wh = graft.TempDirs.create("graft-wh-footer").toString
    Pipeline.load(spark, wh, Pipeline.buildStar(spark, rawInputs("Bukayo Saka")))
    // unpartitioned dims, facts partitioned by season / season_id
    for (t <- Seq("dim_player", "dim_match", "fact_team_match", "fact_team_point")) {
      val path = s"$wh/$t"
      val (live, jobs) = jobsStarted(Pipeline.liveTable(spark, path))
      assert(jobs === 0, s"$t: reading the schema started $jobs job(s)")
      val spark_ = spark.read.parquet(path)
      assert(live.schema === spark_.schema, t)
      assertSameRows(live, spark_, t)
    }
  }

  test("a third identical load compiles no generated class and starts a pinned number of jobs") {
    val wh = graft.TempDirs.create("graft-wh-repeat").toString
    def load(): Unit = Pipeline.load(spark, wh, Pipeline.buildStar(spark, rawInputs("Bukayo Saka")))
    load() // creates every table
    load() // merges into them: the shapes every later load repeats
    val ((_, jobs), compiled) = classesCompiled(jobsStarted(load()))
    assert(compiled === 0)
    assert(jobs === 35)
  }

  test("every job load starts carries the caller's job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    // one job under a named group, in listener order after every job before it
    def marker(group: String): Unit = {
      sc.setJobGroup(group, group)
      sc.parallelize(Seq(1), 1).count()
    }
    val wh = graft.TempDirs.create("graft-wh-attr").toString
    val star = Pipeline.buildStar(spark, rawInputs("Bukayo Saka"))
    sc.addSparkListener(listener)
    try {
      marker("pipeline-spec-begin")
      sc.setJobGroup("pipeline-spec-load", "load")
      Pipeline.load(spark, wh, star)
      marker("pipeline-spec-end")
    } finally sc.clearJobGroup()
    val seen = Iterator.continually(groups.poll(60, java.util.concurrent.TimeUnit.SECONDS))
      .takeWhile(g => g != null && g != "pipeline-spec-end").toSeq
    sc.removeSparkListener(listener)
    val during = seen.dropWhile(_ != "pipeline-spec-begin").drop(1)
    assert(during.nonEmpty)
    assert(during.forall(_ == "pipeline-spec-load"), during.mkString(","))
  }

  test("a failed table is named; the other seven load and their temp dirs are gone") {
    val wh = graft.TempDirs.create("graft-wh-fail").toString
    // a dim_season with a missing column: its update-wins union cannot resolve
    Seq(2526).toDF("season_id").write.parquet(s"$wh/dim_season")
    val others = Pipeline.keys.keys.filterNot(_ == "dim_season").toSeq
    def loadFails(): Unit = {
      val e = intercept[Exception](
        Pipeline.load(spark, wh, Pipeline.buildStar(spark, rawInputs("Bukayo Saka"))))
      assert(e.getMessage.contains("dim_season"), e.getMessage)
      others.foreach(t => assert(!e.getMessage.contains(t), e.getMessage))
    }
    loadFails()
    val first = others.map(t => t -> spark.read.parquet(s"$wh/$t").localCheckpoint()).toMap
    assert(first("dim_player").count() === 3L)
    assert(first("fact_player_match").count() === 2L)
    loadFails()
    others.foreach { t =>
      assertSameRows(spark.read.parquet(s"$wh/$t"), first(t), t)
      assert(!new java.io.File(s"$wh/.${t}_tmp").exists(), t)
      assert(!new java.io.File(s"$wh/.${t}_old").exists(), t)
    }
    assert(spark.read.parquet(s"$wh/dim_season").columns.toSeq === Seq("season_id"))
  }
}
