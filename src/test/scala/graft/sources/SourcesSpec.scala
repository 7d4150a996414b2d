package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.types._
import java.nio.file.Files

/** S1–S5 CSV ingest behaviors against fixture files that mirror the
  * reference's raw-tier quirks (two-level FBref headers, malformed
  * scraped rows). */
class SourcesSpec extends SparkSpec {

  private def fixture(name: String, content: String): String = {
    val dir = graft.TempDirs.create("graft-src")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  test("S1 csvRaw reads all columns as strings") {
    val p = fixture("raw.csv", "player,goals\nAlice,3\nBob,0\n")
    val df = Sources.csvRaw(spark, p)
    assert(df.schema.fields.map(_.dataType).forall(_ == StringType))
    assert(df.count() === 2)
  }

  private def inferred(p: String) = spark.read.option("header", "true").csv(p).schema

  test("S1 csvRaw's schema is Spark's inferred header schema, read without a job") {
    val files = Seq(
      "plain.csv" -> "player,goals\nAlice,3\n",
      "case_dups.csv" -> "Goals,goals,GOALS,ast,ast\n1,2,3,4,5\n",
      "empty_cells.csv" -> "a,,b,,a\n1,2,3,4,5\n",
      "quoted.csv" -> "\"last, first\",\"goals\"\n\"Saka, Bukayo\",3\n",
      "bom.csv" -> "\uFEFFplayer,goals\nAlice,3\n",
      "leading_blank.csv" -> "\n   \nplayer,goals\nAlice,3\n",
      "header_only.csv" -> "player,goals\n",
      "empty.csv" -> "")
    for ((name, content) <- files; caseSensitive <- Seq("false", "true"))
      withConf(spark, "spark.sql.caseSensitive" -> caseSensitive) {
        val p = fixture(name, content)
        val (df, jobs) = jobsStarted(Sources.csvRaw(spark, p))
        assert(jobs === 0, s"$name: building the DataFrame started $jobs job(s)")
        assert(df.schema === inferred(p), s"$name, caseSensitive=$caseSensitive")
        assert(df.collect().toSeq ===
          spark.read.option("header", "true").csv(p).collect().toSeq, name)
      }
  }

  test("the header comes from the file Spark reads: hidden and empty files are passed over") {
    val dir = graft.TempDirs.create("graft-src-dir")
    def put(name: String, content: String): Unit = Files.writeString(dir.resolve(name), content)
    // sorted by name, each of these would come first: a hidden file, a
    // metadata file and an empty part file
    put(".stray.csv", "wrong,header\n,names\n")
    put("_SUCCESS", "")
    put("part-00000.csv", "")
    put("part-00001.csv", "player,Performance\n,Gls\nAlice,3\nBob,0\n")
    val p = dir.toString
    assert(Sources.csvRaw(spark, p).schema === inferred(p))
    assert(Sources.csvRaw(spark, p).columns.toSeq === Seq("player", "Performance"))
    val two = Sources.csvTwoRowHeader(spark, p)
    assert(two.columns.toSeq === Seq("player", "Performance_Gls"))
    assert(two.count() === 2)
    // two visible files with different headers: Spark's scan takes the
    // larger one first, whatever the names' order
    put("part-00002.csv", "big,header,wins\n" + "1,2,3\n" * 20)
    assert(Sources.csvRaw(spark, p).schema === inferred(p))
    assert(inferred(p).fieldNames.toSeq === Seq("big", "header", "wins"))
  }

  test("S2 csvTwoRowHeader flattens two-level headers like the reference") {
    // mirrors FBref shape: leading index col with empty level-1,
    // grouped stat columns with repeating level-0
    val p = fixture("two.csv",
      "player,Performance,Performance,Expected\n" +
      ",Gls,Ast,xG\n" +
      "Alice,3,1,2.5\n" +
      "Bob,0,2,0.7\n")
    val df = Sources.csvTwoRowHeader(spark, p)
    assert(df.columns.toSeq ===
      Seq("player", "Performance_Gls", "Performance_Ast", "Expected_xG"))
    assert(df.count() === 2)
    val alice = df.filter(df("player") === "Alice").collect()(0)
    assert(alice.getString(1) === "3")
  }

  test("S2 skips Unnamed levels like flatten_dataframe_columns") {
    val p = fixture("unnamed.csv",
      "player,Unnamed: 1_level_0\n,goals\nAlice,3\n")
    val df = Sources.csvTwoRowHeader(spark, p)
    assert(df.columns.toSeq === Seq("player", "goals"))
  }

  test("S3 csvTyped applies the declared schema") {
    val p = fixture("typed.csv", "id,score\n1,2.5\n2,3.5\n")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("score", DoubleType)))
    val df = Sources.csvTyped(spark, p, schema)
    assert(df.schema === schema)
    assert(df.selectExpr("sum(score)").collect()(0).getDouble(0) === 6.0)
  }

  test("S4 csvTolerant drops rows that don't parse (on_bad_lines='skip')") {
    val p = fixture("bad.csv", "id,score\n1,2.5\nnot-an-int,oops,extra\n2,3.5\n")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("score", DoubleType)))
    val df = Sources.csvTolerant(spark, p, schema)
    // Note: materialize columns — under CSV column pruning a bare
    // count() skips parsing and malformed rows would not be dropped.
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(1, 2))
  }

  test("S5 writeCsv/writeParquet roundtrip") {
    val dir = graft.TempDirs.create("graft-sink").toString
    val df = Sources.csvRaw(spark, fixture("r.csv", "a,b\n1,x\n2,y\n"))
    Sources.writeCsv(df, s"$dir/csv")
    Sources.writeParquet(df, s"$dir/parquet")
    assert(Sources.csvRaw(spark, s"$dir/csv").count() === 2)
    assert(spark.read.parquet(s"$dir/parquet").count() === 2)
  }

  test("S5/S1 round-trip survives commas, quotes, and newlines in values") {
    import spark.implicits._
    val dir = graft.TempDirs.create("graft-rt").toString
    val nasty = Seq(
      ("a,b", "say \"hi\""),
      ("line1\nline2", "plain"),
      ("", "trailing,comma,"))
      .toDF("c1", "c2")
    Sources.writeCsv(nasty, s"$dir/rt")
    val back = spark.read.option("header", "true").option("multiLine", "true")
      .option("inferSchema", "false").csv(s"$dir/rt")
    val got = back.collect().map(r => (r.getString(0), r.getString(1))).toSet
    // empty string reads back as null in Spark CSV (documented asymmetry)
    assert(got === Set(("a,b", "say \"hi\""), ("line1\nline2", "plain"), (null, "trailing,comma,")))
  }

  test("parseCsvLine handles quoted commas and escaped quotes") {
    assert(Sources.parseCsvLine("a,\"b,c\",\"say \"\"hi\"\"\",d") ===
      Seq("a", "b,c", "say \"hi\"", "d"))
  }

  test("JSONL roundtrip with explicit schema; tolerant mode drops bad lines") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = graft.TempDirs.create("graft-jsonl").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val df = Seq((1L, "a, with \"quotes\"", 0.5), (2L, "bü", 1.25))
      .toDF("id", "name", "score")
    Sources.writeJsonl(df, s"$dir/out")
    val back = Sources.jsonl(spark, s"$dir/out", schema)
    assert(back.schema === schema)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet ===
      Set((1L, "a, with \"quotes\"", 0.5), (2L, "bü", 1.25)))
    // corrupt line: tolerant scan drops it, permissive yields nulls
    val mixed = s"$dir/mixed"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(mixed))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$mixed/part.json"),
      """{"id": 1, "name": "ok", "score": 2.0}
        |this is not json
        |{"id": 2, "name": "also ok", "score": 3.0}
        |""".stripMargin)
    assert(Sources.jsonlTolerant(spark, mixed, schema).count() === 2)
  }

  test("DSv2 synthetic source: range pushdown narrows generation, projection prunes the schema") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", "1000").option("slices", "4").load()
      .filter(col("id") >= 100L && col("id") < 200L)
      .select("bucket")
    val plan = df.queryExecution.executedPlan.toString
    // the filters were CONSUMED by the source: generation itself is
    // [100, 200), and with id used only in the pushed filter the
    // pruned read schema is bucket alone
    assert(plan.contains("range=[100,200)"), plan.take(2000))
    assert(plan.contains("cols=bucket"), plan.take(2000))
    assert(df.count() === 100)
    // generated values match the declared arithmetic
    val full = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", "50").load().collect()
    assert(full.length === 50)
    full.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) === ((id * 2654435761L) % 97L).toInt)
      assert(r.getDouble(2) === (id % 1000L) / 10.0)
    }
    // parallelism: the scan really splits
    val parts = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", "1000").option("slices", "4").load().rdd.getNumPartitions
    assert(parts === 4)
    // LIMIT pushdown: limit(7) after the filter narrows generation to
    // exactly 7 rows — the scan's range proves no over-generation
    val limited = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", "1000000").load()
      .filter(col("id") >= 100L).limit(7)
    val lplan = limited.queryExecution.executedPlan.toString
    assert(lplan.contains("range=[100,107)"), lplan.take(2000))
    assert(limited.count() === 7)
  }

  test("DSv2 synthetic source: bounds near Long.MaxValue don't overflow") {
    import org.apache.spark.sql.functions.col
    // limit pushdown at the top of the id space: lo + limit would wrap
    // negative and empty the scan; the clamp returns the 5 real rows
    val top = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", Long.MaxValue.toString).load()
      .filter(col("id") >= Long.MaxValue - 5L).limit(7)
    assert(top.count() === 5)
    // full-range slice planning: span + n - 1 wrapping negative used to
    // collapse step to 1 (8 one-row slices for a 9.2e18-row table).
    // Plan through the private scan builder — materializing is absurd.
    val b = new SyntheticScanBuilder(Long.MaxValue, 8)
    val slices = b.build().toBatch.planInputPartitions()
      .map { case SyntheticSlice(s, e) => (s, e) }.sortBy(_._1)
    assert(slices.head._1 === 0L)
    assert(slices.last._2 === Long.MaxValue)
    slices.sliding(2).foreach { case Array((_, e1), (s2, _)) =>
      assert(e1 === s2, s"gap between slices: $e1 vs $s2")
    }
    assert(slices.forall { case (s, e) => s < e })
    // last-slice end near MaxValue: lo + (i+1)*step wrapping used to
    // silently drop the final slice's rows
    val nb = new SyntheticScanBuilder(Long.MaxValue, 8)
    nb.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("id",
        java.lang.Long.valueOf(Long.MaxValue - 10L))))
    val near = nb.build().toBatch.planInputPartitions()
      .map { case SyntheticSlice(s, e) => (s, e) }.sortBy(_._1)
    assert(near.map { case (s, e) => e - s }.sum === 10L)
    assert(near.last._2 === Long.MaxValue)
  }

  test("DSv2 synthetic source reports post-pushdown stats: filtered slice auto-broadcasts") {
    import org.apache.spark.sql.functions.col
    // a narrow filtered slice of a HUGE declared table: with
    // SupportsReportStatistics the planner sees the post-pushdown row
    // count (1000 rows ≈ 24KB), under the broadcast threshold — so the
    // join picks BroadcastHashJoin from MEASURED size, no hint. A
    // stats-less source would be presumed enormous and shuffle.
    val dim = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", "100000000").load()
      .filter(col("id") >= 5000L && col("id") < 6000L)
      .select(col("id").as("dim_id"), col("bucket"))
    val fact = graft.Tables.orders(spark, sfDir)
    val plan = fact.join(dim, fact("o_orderkey") === dim("dim_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("DSv2 runtime filtering: a filtered dim join prunes fact generation to matched ids") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // DPP in DSv2 form: the fact is this source (100k rows), the dim
    // has a selective predicate the optimizer can't statically push
    // into the fact. SupportsRuntimeFiltering hands the dim's JOIN
    // KEYS (from the reused broadcast) to the scan at runtime; the
    // scan re-plans to an id-LIST partition — the fact generates 3
    // rows, not 100k. numOutputRows on the scan node proves it.
    // the dim must be SOURCE-backed: a literal Seq folds to a
    // LocalRelation at plan time, leaving no Filter for the DPP
    // rule's selectivity check — parquet keeps the predicate live
    val dir = graft.TempDirs.create("graft-dpp").toString
    Seq((10L, "x"), (777L, "x"), (33333L, "x"), (50L, "y"), (60L, "y"))
      .toDF("key", "tag").write.mode("overwrite").parquet(s"$dir/dim")
    val fact = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", "100000").option("slices", "4").load()
    val dim = spark.read.parquet(s"$dir/dim")
    val joined = fact.join(dim.filter(col("tag") === "x"),
      fact("id") === dim("key"))
    val rows = joined.collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) === ((id * 2654435761L) % 97L).toInt)
    }
    // AQE hides stages behind leaf QueryStageExec nodes — recurse
    // through them explicitly to reach the scan's runtime metrics
    def scanRows(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = {
      val nested = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scanRows(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scanRows(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          scanRows(r.child)
        case _ => Seq.empty
      }
      val here = p match {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.scan.description().contains("graft-synthetic") =>
          Seq(b.metrics("numOutputRows").value)
        case _ => Seq.empty
      }
      here ++ nested ++ p.children.flatMap(scanRows)
    }
    val generated = scanRows(joined.queryExecution.executedPlan)
    assert(generated.nonEmpty, "synthetic BatchScanExec not found in plan")
    assert(generated.head === 3L,
      s"runtime filter did not prune generation: ${generated.head} rows")
  }

  test("DSv2 runtime filtering: zero matched ids plans zero slices, not a crash") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // the empty-match edge of the runtime-filter re-plan: every dim key
    // falls OUTSIDE the fact's [0, rows) range, so the surviving id
    // list is empty and planInputPartitions must return zero
    // partitions (an empty scan), not divide-by-zero on the slice math
    // or fall back to generating the full range
    val dir = graft.TempDirs.create("graft-dpp0").toString
    Seq((200000L, "x"), (-5L, "x"), (999999L, "x"))
      .toDF("key", "tag").write.mode("overwrite").parquet(s"$dir/dim")
    val fact = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", "100000").option("slices", "4").load()
    val dim = spark.read.parquet(s"$dir/dim")
    val joined = fact.join(dim.filter(col("tag") === "x"),
      fact("id") === dim("key"))
    assert(joined.count() === 0L)
  }

  test("ORC roundtrip preserves schema and values; filters push to the ORC scan") {
    val dir = graft.TempDirs.create("graft-orc").toString
    val orders = graft.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    Sources.writeOrc(orders, s"$dir/orders")
    val back = Sources.orc(spark, s"$dir/orders")
    assert(back.schema === orders.schema)
    assert(back.count() === orders.count())
    val filtered = back.filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      plan.take(2000))
    assert(filtered.count() ===
      orders.filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F").count())
  }

  test("dynamic partition overwrite replaces only the touched partitions") {
    import org.apache.spark.sql.functions._
    val base = graft.TempDirs.create("graft_dpo").toString
    val tbl = s"$base/events"
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("user_id"))
    Sources.overwritePartitions(ev, tbl, Seq("event_type"))
    val types = spark.read.parquet(tbl).select("event_type").distinct()
      .collect().map(_.getString(0)).sorted
    assert(types.length >= 3)
    val restated = types.head
    val untouched = types.last
    // restate ONE partition: same type, user_id bumped by a marker
    val patch = ev.filter(col("event_type") === restated)
      .withColumn("user_id", col("user_id") + 1000000L)
    Sources.overwritePartitions(patch, tbl, Seq("event_type"))
    val after = spark.read.parquet(tbl)
    // the restated partition carries the marker...
    assert(after.filter(col("event_type") === restated)
      .agg(min(col("user_id"))).head.getLong(0) >= 1000000L)
    // ...while an untouched partition kept its original rows
    assert(after.filter(col("event_type") === untouched)
      .agg(max(col("user_id"))).head.getLong(0) < 1000000L)
    assert(after.count() === ev.count())
    // static overwrite (the default mode) would have truncated: prove
    // the contrast on a copy
    val tbl2 = s"$base/events_static"
    ev.write.mode("overwrite").partitionBy("event_type").parquet(tbl2)
    patch.write.mode("overwrite").partitionBy("event_type").parquet(tbl2)
    assert(spark.read.parquet(tbl2).select("event_type").distinct().count() === 1L,
      "static overwrite unexpectedly preserved other partitions")
  }
}
