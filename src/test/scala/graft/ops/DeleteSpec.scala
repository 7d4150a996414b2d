package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Delete.targetedDelete]] — the file-skipping contract the q78 gate
  * cannot express in SQL: untouched files must be carried forward
  * BYTE-IDENTICAL (no rewrite), only key-bearing files rewritten, and
  * the surviving content must equal the anti join exactly. */
class DeleteSpec extends SparkSpec {
  import spark.implicits._

  private def checksums(dir: String): Map[String, (Long, String)] = {
    val d = new java.io.File(dir)
    d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      f.getName -> (f.length(), md.map("%02x".format(_)).mkString)
    }.toMap
  }

  private def freshDirs(): (String, String) = {
    val tmp = graft.TempDirs.create("graft-delete-spec")
    (s"$tmp/in", s"$tmp/out")
  }

  test("untouched files byte-identical; only key-range files rewritten; content exact") {
    val (in, out) = freshDirs()
    // 4 range-clustered files over ids 0..399: file boundaries at ~100
    spark.range(0, 400).select(col("id"), (col("id") % 7).as("v"))
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
      .write.parquet(in)
    val before = checksums(in)
    assert(before.size === 4)
    // doom a narrow band that lives in one file
    val keys = spark.range(10, 30).toDF("id")
    val stats = Delete.targetedDelete(spark, in, out, "id", keys)
    assert(stats.filesTotal === 4)
    assert(stats.filesRewritten === 1, s"expected 1 touched file, got $stats")
    assert(stats.rowsDeleted === 20)
    val after = checksums(out)
    // the 3 untouched files exist under their ORIGINAL names with the
    // ORIGINAL bytes; the rewritten file has a fresh name
    val carried = after.keySet intersect before.keySet
    assert(carried.size === 3)
    carried.foreach(n => assert(after(n) === before(n), s"$n was rewritten"))
    // surviving content == anti join
    val got = spark.read.parquet(out).orderBy("id").as[(Long, Long)].collect()
    val want = (0L until 400L).filterNot(i => i >= 10 && i < 30).map(i => (i, i % 7))
    assert(got.toSeq === want)
  }

  test("no matching key → zero rewrites, all files carried") {
    val (in, out) = freshDirs()
    spark.range(0, 100).toDF("id").repartition(3).write.parquet(in)
    val stats = Delete.targetedDelete(spark, in, out, "id",
      Seq(5000L, 6000L).toDF("id"))
    assert(stats.filesRewritten === 0)
    assert(stats.rowsDeleted === 0)
    assert(checksums(out) === checksums(in))
  }

  test("duplicate and extra-column key frames behave; same dir rejected") {
    val (in, out) = freshDirs()
    spark.range(0, 50).toDF("id").repartition(2).write.parquet(in)
    val keys = Seq((1L, "x"), (1L, "y"), (7L, "z")).toDF("id", "junk")
    val stats = Delete.targetedDelete(spark, in, out, "id", keys)
    assert(stats.rowsDeleted === 2)
    assert(spark.read.parquet(out).count() === 48)
    intercept[IllegalArgumentException] {
      Delete.targetedDelete(spark, in, in, "id", keys)
    }
  }
}
