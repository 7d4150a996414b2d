package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.classic.GraftPlanBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property pin for [[PushPartialAggThroughUniqueJoin]]: on random
  * fact/dim shapes (duplicate fact keys, fact keys without a dim
  * match, dim keys without fact rows, null-ish empty groups), the
  * rewritten plan must return byte-identical aggregates to the naive
  * one for every merge shape at once (sum / count / min / max). This
  * is the soundness claim (the join keeps or drops a partial group
  * atomically) under adversarial generation rather than one fixture.
  */
class PushPartialAggPropertySpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    addOptimizerRule(PushPartialAggThroughUniqueJoin)
  }

  private def holds(p: Prop, n: Int = 15): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  // fact rows: (key, measure); dim rows: (key, group-label)
  private val factGen = Gen.listOf(for {
    k <- Gen.chooseNum(0, 12)
    v <- Gen.chooseNum(-50L, 50L)
  } yield (k, v))
  private val dimGen = Gen.listOf(Gen.chooseNum(0, 15))

  test("rewrite preserves sum/count/min/max on random fact/dim shapes") {
    holds(Prop.forAll(factGen, dimGen) { (f: List[(Int, Long)], dk: List[Int]) =>
      val fact = f.toDF("k", "v")
      val dim = dk.map(k => (k, s"g${k % 3}")).toDF("dk", "label")
        .dropDuplicates("dk")
      val q = fact.join(dim, col("k") === col("dk"))
        .groupBy(col("label"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("c"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
      // naive: the registered rule switched off by name; rewritten:
      // the ungated rewrite of the same analyzed plan
      def run(rewrite: Boolean): Seq[(String, Long, Long, Option[Long], Option[Long])] =
        withConf(spark, SQLConf.OPTIMIZER_EXCLUDED_RULES.key ->
            PushPartialAggThroughUniqueJoin.ruleName) {
          val analyzed = q.queryExecution.analyzed
          GraftPlanBridge.ofRows(spark,
              if (rewrite) PushPartialAggThroughUniqueJoin.force(analyzed)
              else analyzed)
            .orderBy(col("label"))
            .collect().toSeq.map(r => (r.getString(0), r.getLong(1),
              r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
              Option(r.get(4)).map(_.asInstanceOf[Long])))
        }
      run(rewrite = false) == run(rewrite = true)
    })
  }
}
