package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** KLL quantile sketches through Spark's built-in `kll_*_double`
  * functions and the engine's NULL-on-empty probe
  * ([[GraftFunctions.kllQuantile]]): exact below compaction,
  * partial-agg invariant, merge of stored sketches honors the rank
  * guarantee, and the SQL-text path works. */
class KllSketchSpec extends SparkSpec {
  import spark.implicits._

  test("small input (n <= k) is EXACT and partial-agg invariant") {
    // 100 values < k=200 ⇒ the sketch retains every value
    val df = (1 to 100).map(_.toDouble).toDF("v")
    for (parts <- Seq(1, 7)) {
      val qs = df.repartition(parts)
        .agg(kll_sketch_agg_double(col("v"), 200).as("sk"))
        .select(
          GraftFunctions.kllQuantile(col("sk"), 0.5).as("q50"),
          GraftFunctions.kllQuantile(col("sk"), 1.0).as("q100"))
        .as[(Double, Double)].head()
      assert(qs._1 === 50.0, s"parts=$parts")
      assert(qs._2 === 100.0, s"parts=$parts")
    }
  }

  test("nulls are skipped; empty sketch probes to NULL") {
    val someVals = Seq[Option[Double]](Some(1.0), None, Some(3.0)).toDF("v")
    val q = someVals.agg(kll_sketch_agg_double(col("v"), 200).as("sk"))
      .select(GraftFunctions.kllQuantile(col("sk"), 1.0).as("q"))
      .as[Double].head()
    assert(q === 3.0)
    val empty = Seq[Option[Double]](None, None).toDF("v")
      .agg(kll_sketch_agg_double(col("v"), 200).as("sk"))
      .select(GraftFunctions.kllQuantile(col("sk"), 0.5).as("q"))
      .collect()
    assert(empty.head.isNullAt(0))
  }

  test("an empty or all-NULL group yields a NULL quantile, merged or not") {
    // kll_sketch_get_quantile_double throws on the empty sketch these
    // groups produce; the probe's kll_sketch_get_n_double guard turns
    // that into NULL, also after a rollup merge of empty sketches
    val df = Seq[(String, Option[Double])](
      ("a", Some(1.0)), ("a", Some(2.0)), ("nulls", None), ("nulls", None))
      .toDF("g", "v")
    val sk = df.groupBy("g").agg(kll_sketch_agg_double(col("v"), 200).as("sk"))
    val byGroup = sk
      .select(col("g"), GraftFunctions.kllQuantile(col("sk"), 0.5).as("q"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(byGroup === Map("a" -> Some(1.0), "nulls" -> None))
    val merged = sk.filter(col("g") === "nulls")
      .agg(kll_merge_agg_double(col("sk"), 200).as("sk"))
      .select(GraftFunctions.kllQuantile(col("sk"), 0.9))
      .collect()
    assert(merged.head.isNullAt(0))
    val noRows = df.filter(lit(false))
      .agg(kll_sketch_agg_double(col("v"), 200).as("sk"))
      .select(GraftFunctions.kllQuantile(col("sk"), 0.5))
      .collect()
    assert(noRows.head.isNullAt(0))
  }

  test("merged STORED sketches honor the rank guarantee on 50k values") {
    // 10 stored sketches of 5k uniform values each; merged p50/p90
    // must land within 2*eps of the true rank (eps ~ 1.65% at k=200)
    val df = (0 until 50000).map(i => (i % 10, i.toDouble)).toDF("g", "v")
    val parts = df.groupBy("g").agg(kll_sketch_agg_double(col("v"), 200).as("sk"))
    val qs = parts.agg(kll_merge_agg_double(col("sk"), 200).as("m"))
      .select(
        GraftFunctions.kllQuantile(col("m"), 0.5).as("q50"),
        GraftFunctions.kllQuantile(col("m"), 0.9).as("q90"))
      .as[(Double, Double)].head()
    assert(math.abs(qs._1 / 50000.0 - 0.5) <= 0.033, s"p50=${qs._1}")
    assert(math.abs(qs._2 / 50000.0 - 0.9) <= 0.033, s"p90=${qs._2}")
  }

  test("SQL-text path: kll_sketch_agg/merge_agg/get_quantile (double)") {
    (1 to 100).map(i => (i % 5, i.toDouble)).toDF("g", "v")
      .createOrReplaceTempView("kll_in")
    val out = spark.sql("""
      WITH parts AS (
        SELECT g, kll_sketch_agg_double(v, 200) AS sk FROM kll_in GROUP BY g)
      SELECT kll_sketch_get_quantile_double(kll_merge_agg_double(sk, 200), 1.0d) AS mx
      FROM parts""").as[Double].head()
    assert(out === 100.0)
  }

  test("rank argument outside [0,1] fails loudly") {
    val df = (1 to 10).map(_.toDouble).toDF("v")
      .agg(kll_sketch_agg_double(col("v"), 200).as("sk"))
    val e = intercept[Exception] {
      df.select(GraftFunctions.kllQuantile(col("sk"), 1.5)).collect()
    }
    assert(e.getMessage != null)
  }
}
