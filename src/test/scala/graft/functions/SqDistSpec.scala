package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native SqDist vs the interpreted aggregate(zip_with) squared-L2 it
  * replaced on the PQ scoring path: bit-identical values (same
  * left-to-right fold), null semantics, SQL registration. */
class SqDistSpec extends SparkSpec {
  import spark.implicits._

  private def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  test("matches aggregate(zip_with) bit-for-bit on random vectors") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((
      Seq.fill(16)(rnd.nextDouble() * 2 - 1),
      Seq.fill(16)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
      .select(GraftFunctions.sqdist(col("a"), col("b")).as("native"),
        hof(col("a"), col("b")).as("interp"))
    assert(df.filter(col("native") =!= col("interp")).count() === 0)
  }

  test("null array yields null; empty arrays yield 0.0; identical arrays 0.0") {
    GraftFunctions.register(spark)
    val df = Seq(
      (Some(Seq(1.0, 2.0)), None: Option[Seq[Double]]),
      (Some(Seq.empty[Double]), Some(Seq.empty[Double])),
      (Some(Seq(1.5, -2.5)), Some(Seq(1.5, -2.5)))
    ).toDF("a", "b").select(GraftFunctions.sqdist(col("a"), col("b")).as("d"))
    val out = df.collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getDouble(0) === 0.0)
    assert(out(2).getDouble(0) === 0.0)
    // unequal lengths and a NULL element yield NULL like the
    // aggregate(zip_with) form: checked on the interpreted path (local
    // rows) and on the codegen path (arrays computed per row)
    val local = Seq(
      (Seq(Some(1.0), Some(2.0)), Seq(Some(1.0))),
      (Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0)))
    ).toDF("a", "b")
    val computed = spark.range(1)
      .select(array(col("id") + 1.0, col("id") + 2.0).as("a"),
        array(col("id") + 1.0).as("b"))
      .unionByName(spark.range(1)
        .select(array(col("id") + 1.0, when(col("id") > 0, 1.0)).as("a"),
          array(col("id") + 1.0, col("id") + 2.0).as("b")))
    for (edge <- Seq(local, computed)) {
      val got = edge.select(GraftFunctions.sqdist(col("a"), col("b")),
        hof(col("a"), col("b"))).collect()
      assert(got.length === 2 && got.forall(r => r.isNullAt(0) && r.isNullAt(1)),
        got.mkString(", "))
    }
  }

  test("usable from SQL text") {
    GraftFunctions.register(spark)
    Seq((Seq(1.0, 2.0), Seq(3.0, 6.0))).toDF("a", "b")
      .createOrReplaceTempView("sq_vecs")
    assert(spark.sql("SELECT graft_sqdist(a, b) AS d FROM sq_vecs")
      .collect()(0).getDouble(0) === 20.0)
  }
}
