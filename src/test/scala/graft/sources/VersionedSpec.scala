package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Versioned tables: commit-by-rename visibility, time travel,
  * snapshot immutability, vacuum horizon, staging-junk invisibility. */
class VersionedSpec extends SparkSpec {

  private def freshDir() =
    graft.TempDirs.create("graft_versioned").toString + "/t"

  test("commits number sequentially; read defaults to latest, asOf pins") {
    val dir = freshDir()
    val base = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    assert(Versioned.versions(spark, dir).isEmpty)
    assert(Versioned.commit(spark, dir, base) === 1L)
    val v2data = base.withColumn("n_name", upper(col("n_name")))
    assert(Versioned.commit(spark, dir, v2data) === 2L)
    assert(Versioned.versions(spark, dir) === Seq(1L, 2L))
    // latest = v2 (uppercased), asOf 1 = original
    val latestNames = Versioned.read(spark, dir).select("n_name")
      .collect().map(_.getString(0))
    assert(latestNames.forall(n => n == n.toUpperCase))
    val v1Names = Versioned.read(spark, dir, Some(1L)).select("n_name")
      .orderBy("n_name").collect().map(_.getString(0))
    val origNames = base.select("n_name").orderBy("n_name")
      .collect().map(_.getString(0))
    assert(v1Names.sameElements(origNames), "v1 snapshot mutated by v2 commit")
  }

  test("a staging dir (crashed writer) is invisible and swept by the next commit") {
    val dir = freshDir()
    val base = Tables.region(spark, sfDir)
    Versioned.commit(spark, dir, base)
    // fake a crashed writer: leave junk in a _tmp_v staging dir
    val junk = new java.io.File(s"$dir/_tmp_v2")
    assert(junk.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_tmp_v2/part-junk"), Array[Byte](1, 2, 3))
    assert(Versioned.versions(spark, dir) === Seq(1L), "staging dir leaked into versions")
    // next commit sweeps it and takes version 2 itself
    assert(Versioned.commit(spark, dir, base) === 2L)
    assert(!new java.io.File(s"$dir/_tmp_v2/part-junk").exists())
    assert(Versioned.read(spark, dir, Some(2L)).count() === base.count())
  }

  test("vacuum drops old versions but keeps the horizon readable") {
    val dir = freshDir()
    val base = Tables.region(spark, sfDir)
    (1 to 4).foreach(_ => Versioned.commit(spark, dir, base))
    assert(Versioned.vacuum(spark, dir, keep = 2) === Seq(1L, 2L))
    assert(Versioned.versions(spark, dir) === Seq(3L, 4L))
    assert(Versioned.read(spark, dir, Some(3L)).count() === base.count())
    intercept[IllegalArgumentException] {
      Versioned.read(spark, dir, Some(1L))
    }
    intercept[IllegalArgumentException] {
      Versioned.vacuum(spark, dir, keep = 0)
    }
  }

  test("changes() yields keyed I/U/D between two versions") {
    val dir = freshDir()
    val base = Tables.nation(spark, sfDir)
      .select("n_nationkey", "n_name").filter(col("n_nationkey") < 20)
    Versioned.commit(spark, dir, base)
    // v2: drop key 0 (D), rename key 1 (U), add key 99 (I)
    val v2 = base.filter(col("n_nationkey") =!= 0)
      .withColumn("n_name",
        when(col("n_nationkey") === 1, lit("RENAMED")).otherwise(col("n_name")))
      .unionByName(spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(99, "NEWLAND")),
        base.schema))
    Versioned.commit(spark, dir, v2)
    val ops = Versioned.changes(spark, dir, 1L, 2L, Seq("n_nationkey"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(ops === Map(0 -> "D", 1 -> "U", 99 -> "I"))
    intercept[IllegalArgumentException] {
      Versioned.changes(spark, dir, 2L, 1L, Seq("n_nationkey"))
    }
  }

  test("partition columns prune inside a version") {
    val dir = freshDir()
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("user_id"))
    Versioned.commit(spark, dir, ev, partitionCols = Seq("event_type"))
    val plan = Versioned.read(spark, dir)
      .filter(col("event_type") === "click")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition filter in scan:\n${plan.take(800)}")
  }
}
