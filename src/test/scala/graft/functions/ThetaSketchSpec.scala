package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Theta sketches through Spark's built-in `theta_*` functions (the
  * calls q61/q64 make): exact below saturation, partial-agg invariant,
  * union/intersection/difference correct on stored sketch bytes. */
class ThetaSketchSpec extends SparkSpec {
  import spark.implicits._

  private def estimate(df: DataFrame, sketch: Column): Double =
    df.select(theta_sketch_estimate(sketch)).head().getAs[Number](0).doubleValue

  /** Per-group sketches collected to the driver: STORED bytes. */
  private def stored(df: DataFrame): Map[String, Array[Byte]] =
    df.groupBy("g").agg(theta_sketch_agg(col("v"), 12).as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap

  /** `op` applied to two stored sketches, estimated. */
  private def pair(op: (Column, Column) => Column,
                   a: Array[Byte], b: Array[Byte]): Double =
    estimate(Seq((a, b)).toDF("a", "b"), op(col("a"), col("b")))

  test("below saturation the estimate is EXACT and partial-agg invariant") {
    // 3000 distinct < 2^12 nominal entries ⇒ exact mode (theta = 1)
    val df = (1L to 3000L).toDF("v")
    for (parts <- Seq(1, 7)) {
      val sk = df.repartition(parts).agg(theta_sketch_agg(col("v"), 12).as("sk"))
      assert(estimate(sk, col("sk")) === 3000.0, s"parts=$parts")
    }
  }

  test("string input counts distinct strings, nulls skipped") {
    val df = Seq(Some("a"), Some("b"), Some("a"), None, Some("c"))
      .toDF("s")
    val sk = df.agg(theta_sketch_agg(col("s"), 12).as("sk"))
    assert(estimate(sk, col("sk")) === 3.0)
  }

  test("intersection of stored sketches equals exact overlap (exact mode)") {
    // A = [1,2000], B = [1001,3000] ⇒ |A∩B| = 1000, disjoint C gives 0
    val sk = stored(((1L to 2000L).map(("A", _)) ++ (1001L to 3000L).map(("B", _)) ++
      (9001L to 9500L).map(("C", _))).toDF("g", "v"))
    assert(pair(theta_intersection, sk("A"), sk("B")) === 1000.0)
    assert(pair(theta_intersection, sk("A"), sk("C")) === 0.0)
  }

  test("difference of stored sketches equals exact A\\B (exact mode)") {
    // A = [1,2000], B = [1001,3000] ⇒ |A\B| = 1000, |B\A| = 1000;
    // vs disjoint C: |A\C| = |A| = 2000; |A\A| = 0
    val df = ((1L to 2000L).map(("A", _)) ++ (1001L to 3000L).map(("B", _)) ++
      (9001L to 9500L).map(("C", _))).toDF("g", "v")
    val sk = stored(df)
    assert(pair(theta_difference, sk("A"), sk("B")) === 1000.0)
    assert(pair(theta_difference, sk("B"), sk("A")) === 1000.0)
    assert(pair(theta_difference, sk("A"), sk("C")) === 2000.0)
    assert(pair(theta_difference, sk("A"), sk("A")) === 0.0)
    // in-plan sketches agree with the stored ones (conditional sketch
    // columns — null inputs are skipped by the aggregate)
    val both = df.agg(
      theta_sketch_agg(when(col("g") === "A", col("v")), 12).as("ska"),
      theta_sketch_agg(when(col("g") === "B", col("v")), 12).as("skb"))
    assert(estimate(both, theta_difference(col("ska"), col("skb"))) === 1000.0)
  }

  test("theta_union_agg rolls stored sketches up to the coarser grouping") {
    // fine buckets (g, sub) → union back to g must equal a direct sketch
    val df = (1L to 4000L).map(v => ("G", v % 4, v)).toDF("g", "sub", "v")
    val fine = df.groupBy("g", "sub")
      .agg(theta_sketch_agg(col("v"), 12).as("sk"))
    val rolled = fine.groupBy("g").agg(theta_union_agg(col("sk"), 12).as("sk"))
    assert(estimate(rolled, col("sk")) === 4000.0)
  }

  test("estimation mode stays within 3 standard errors") {
    // 200k distinct >> 2^12 ⇒ estimation mode; rse ≈ 1/sqrt(2^12)
    val n = 200000L
    val est = estimate((1L to n).toDF("v").repartition(13)
      .agg(theta_sketch_agg(col("v"), 12).as("sk")), col("sk"))
    val rse = 1.0 / math.sqrt(1 << 12)
    assert(math.abs(est - n) / n <= 3 * rse,
      s"estimate $est off by ${math.abs(est - n) / n}")
  }
}
