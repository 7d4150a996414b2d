package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ChecksSpec extends SparkSpec {
  import spark.implicits._

  private def viol(df: org.apache.spark.sql.DataFrame): Long =
    df.select("violations").as[Long].head()

  test("pkUnique counts extra rows per duplicated key") {
    val df = Seq(1, 1, 1, 2, 3).toDF("k")
    assert(viol(Checks.pkUnique(df, Seq("k"), "pk")) == 2L)
    assert(viol(Checks.pkUnique(df.distinct(), Seq("k"), "pk")) == 0L)
  }

  test("pkUnique on an empty table reports zero, not null") {
    val df = Seq.empty[Int].toDF("k")
    assert(viol(Checks.pkUnique(df, Seq("k"), "pk")) == 0L)
  }

  test("referential counts orphans including null fks") {
    val child = Seq(Some(1), Some(2), Some(9), None).toDF("fk")
    val parent = Seq(1, 2, 3).toDF("pk")
    assert(viol(Checks.referential(child, "fk", parent, "pk", "fk")) == 2L)
  }

  test("referential works when fk and pk share a column name") {
    // the common warehouse case: child.order_key REFERENCES
    // parent.order_key — unqualified col() on both sides would raise
    // an ambiguous-reference analysis error
    val child = Seq(1, 2, 9).toDF("order_key")
    val parent = Seq(1, 2, 3).toDF("order_key")
    assert(viol(Checks.referential(
      child, "order_key", parent, "order_key", "fk")) == 1L)
  }

  test("acceptedValues flags out-of-set and null") {
    val df = Seq(Some("a"), Some("b"), Some("zz"), None).toDF("v")
    assert(viol(Checks.acceptedValues(df, "v", Seq("a", "b"), "av")) == 2L)
  }

  test("invariant treats NULL predicate as violation") {
    val df = Seq(Some(5), Some(-1), None).toDF("x")
    assert(viol(Checks.invariant(df, col("x") > 0, "inv")) == 2L)
  }

  test("report unions checks in stable name order") {
    val df = Seq(1, 1).toDF("k")
    val r = Checks.report(Seq(
      Checks.pkUnique(df, Seq("k"), "b_pk"),
      Checks.notNull(df, "k", "a_nn")))
      .collect().map(x => (x.getString(0), x.getLong(1)))
    assert(r.toSeq == Seq(("a_nn", 0L), ("b_pk", 1L)))
  }

  test("observed metrics piggyback on the action: counts with no second scan") {
    import org.apache.spark.sql.functions.{count, lit, sum, when}
    val df = Seq(Some(5), Some(-1), None, Some(2)).toDF("x")
    val (instrumented, fetch) = Checks.observed(df, "load_metrics", Map(
      "n_rows" -> count(lit(1)),
      "n_null" -> sum(when(col("x").isNull, 1L).otherwise(0L)),
      "n_neg" -> sum(when(col("x") < 0, 1L).otherwise(0L))))
    val out = graft.TempDirs.create("graft_obs").toString
    instrumented.write.mode("overwrite").parquet(s"$out/t") // THE action
    assert(fetch() === Map("n_rows" -> 4L, "n_null" -> 1L, "n_neg" -> 1L))
    // and the written data is intact
    assert(spark.read.parquet(s"$out/t").count() === 4L)
  }
}
