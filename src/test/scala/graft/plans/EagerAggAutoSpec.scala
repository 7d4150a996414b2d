package graft.plans

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DecimalType

/** The cost gate of [[PushPartialAggThroughUniqueJoin]]. Pins:
  * (1) a high-reduction fact (many rows per join key) FIRES; (2) a
  * reduction-1 fact (keys unique in the fact — the classic
  * eager-aggregation loss case) is SKIPPED while [[force]] still
  * rewrites it (the gate, not the soundness check, is what skipped);
  * (3) the bar sits at 3.0 — ~2× skips, ~4× fires; (4) a TRY-mode sum
  * blocks the rewrite gated or forced (merge Sum would skip NULL
  * overflow markers); (5) fired results equal the naive plan's;
  * (6) in a GraftSession the rule is on, and naming it in Spark's
  * `excludedRules` turns it off.
  */
class EagerAggAutoSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    addOptimizerRule(PushPartialAggThroughUniqueJoin)
  }

  private val excluded = SQLConf.OPTIMIZER_EXCLUDED_RULES.key ->
    PushPartialAggThroughUniqueJoin.ruleName

  private def aggBelowJoin(plan: LogicalPlan): Boolean = plan.collect {
    case j: Join if j.left.collectFirst { case a: Aggregate => a }.isDefined => j
  }.nonEmpty

  /** fact with `rep` rows per key over `nKeys` keys + a unique dim. */
  private def shaped(nKeys: Int, rep: Int): DataFrame = {
    import spark.implicits._
    val fact = (0 until nKeys * rep).map(i => (i % nKeys, i.toLong))
      .toDF("fk", "v")
    val dim = (0 until nKeys).map(k => (k, s"g${k % 7}")).toDF("dk", "grp")
      .dropDuplicates("dk")
    fact.join(dim, col("fk") === col("dk"))
      .groupBy(col("grp"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
  }

  test("auto fires on a high-reduction fact and skips a reduction-1 fact") {
    PushPartialAggThroughUniqueJoin.clearProbeCache()
    val hot = shaped(nKeys = 50, rep = 40) // reduction ≈ 40
    assert(aggBelowJoin(hot.queryExecution.optimizedPlan),
      "reduction≈40 must clear the 3.0 bar")
    val flat = shaped(nKeys = 2000, rep = 1) // reduction ≈ 1
    assert(!aggBelowJoin(flat.queryExecution.optimizedPlan),
      "reduction≈1 is the Yan&Larson loss case — the gate must skip it")
    // prove the skip was the COST gate, not a soundness bail: the
    // ungated rewrite fires on the identical reduction-1 plan
    assert(aggBelowJoin(PushPartialAggThroughUniqueJoin.force(
      flat.queryExecution.analyzed)),
      "soundness holds on the flat fact — only the gate may skip it")
  }

  test("the reduction bar is 3.0: a ~2x fact skips, a ~4x fact fires") {
    assert(PushPartialAggThroughUniqueJoin.MinReduction === 3.0)
    PushPartialAggThroughUniqueJoin.clearProbeCache()
    assert(!aggBelowJoin(shaped(nKeys = 500, rep = 2).queryExecution.optimizedPlan),
      "reduction≈2 must not clear the 3.0 bar")
    assert(aggBelowJoin(shaped(nKeys = 500, rep = 4).queryExecution.optimizedPlan),
      "reduction≈4 must clear the 3.0 bar")
  }

  test("try_sum blocks the rewrite in every mode (NULL-on-overflow partials don't merge)") {
    import spark.implicits._
    val fact = (0 until 1000).map(i => (i % 10, i.toLong)).toDF("fk", "v")
    val dim = (0 until 10).map(k => (k, s"g$k")).toDF("dk", "grp")
      .dropDuplicates("dk")
    val q = fact.join(dim, col("fk") === col("dk"))
      .groupBy(col("grp"))
      .agg(try_sum(col("v")).as("sv"))
    PushPartialAggThroughUniqueJoin.clearProbeCache()
    assert(!aggBelowJoin(q.queryExecution.optimizedPlan),
      "try_sum must bail under the gated rule")
    assert(!aggBelowJoin(PushPartialAggThroughUniqueJoin.force(
      q.queryExecution.analyzed)), "try_sum must bail under force")
  }

  test("auto-fired plan returns the naive plan's exact rows") {
    PushPartialAggThroughUniqueJoin.clearProbeCache()
    val naive = withConf(spark, excluded) {
      val df = shaped(nKeys = 50, rep = 40)
      assert(!aggBelowJoin(df.queryExecution.optimizedPlan))
      df.orderBy("grp").collect().toSeq
    }
    val df = shaped(nKeys = 50, rep = 40)
    assert(aggBelowJoin(df.queryExecution.optimizedPlan))
    assert(df.orderBy("grp").collect().toSeq === naive)
  }

  test("a GraftSession runs the rule; excludedRules leaves q84's naive plan alone") {
    val s = graftSpark
    // q84's naive Aggregate-over-Join plan, built fresh per optimization
    def q84Naive(): DataFrame = Tables.lineitem(s, sfDir)
      .select(col("l_orderkey"),
        col("l_quantity").cast(DecimalType(18, 4)).as("qty"))
      .join(Tables.orders(s, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .dropDuplicates("o_orderkey"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n_rows"))
    PushPartialAggThroughUniqueJoin.clearProbeCache()
    assert(aggBelowJoin(q84Naive().queryExecution.optimizedPlan),
      "the injected rule must fire on q84's shape (~4 lines per order)")
    withConf(s, excluded) {
      assert(!aggBelowJoin(q84Naive().queryExecution.optimizedPlan),
        "a rule named in spark.sql.optimizer.excludedRules must not fire")
    }
  }
}
