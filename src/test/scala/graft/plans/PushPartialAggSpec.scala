package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.apache.spark.sql.classic.GraftPlanBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DecimalType

/** [[PushPartialAggThroughUniqueJoin]] — eager aggregation through a
  * unique-keyed join, the rewrite q01 does by hand. Pins: (1) naming
  * the rule in `spark.sql.optimizer.excludedRules` keeps it from
  * firing, (2) the rewrite ([[PushPartialAggThroughUniqueJoin.force]])
  * lands the partial Aggregate BELOW the Join, (3) results are
  * identical for every merge shape (long sum, decimal sum re-cast,
  * count, min/max), (4) a non-unique dim side blocks the rewrite.
  */
class PushPartialAggSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    addOptimizerRule(PushPartialAggThroughUniqueJoin)
  }

  private def fact = graft.Tables.lineitem(spark, sfDir)
    .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
  private def dim = graft.Tables.orders(spark, sfDir)
    .select(col("o_orderkey"), col("o_orderpriority"))
    .dropDuplicates("o_orderkey") // structural uniqueness proof

  private def query: DataFrame = fact
    .join(dim, col("l_orderkey") === col("o_orderkey"))
    .groupBy(col("o_orderpriority"))
    .agg(
      sum(col("l_quantity")).as("sum_qty"),
      sum(col("l_extendedprice").cast(DecimalType(18, 4))).as("sum_price"),
      count(lit(1)).as("n_rows"),
      min(col("l_quantity")).as("min_qty"),
      max(col("l_quantity")).as("max_qty"))
    .orderBy(col("o_orderpriority"))

  /** `body` with the registered rule switched off by name. */
  private def excluded[T](body: => T): T = withConf(spark,
    SQLConf.OPTIMIZER_EXCLUDED_RULES.key ->
      PushPartialAggThroughUniqueJoin.ruleName)(body)

  /** `df` rewritten by the ungated rule, to be optimized without it. */
  private def forced(df: DataFrame): DataFrame = GraftPlanBridge.ofRows(
    spark, PushPartialAggThroughUniqueJoin.force(df.queryExecution.analyzed))

  /** Does the optimized plan hold an Aggregate strictly below a Join? */
  private def aggBelowJoin(plan: LogicalPlan): Boolean = plan.collect {
    case j: Join if j.left.collectFirst { case a: Aggregate => a }.isDefined => j
  }.nonEmpty

  test("flag off: no pushdown; flag on: partial aggregate lands below the join") {
    excluded {
      assert(!aggBelowJoin(query.queryExecution.optimizedPlan))
      assert(aggBelowJoin(forced(query).queryExecution.optimizedPlan),
        "expected the partial Aggregate below the Join")
    }
  }

  test("rewritten plan returns identical results (all four merge shapes)") {
    val (base, pushed) = excluded((query.collect().toSeq,
      forced(query).collect().toSeq))
    assert(pushed === base)
    assert(base.nonEmpty)
  }

  test("non-unique dim side blocks the rewrite") {
    // dim with duplicate keys (no dedup): a key matching d rows
    // multiplies fact rows d times, which partials can't reproduce
    val dup = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val q = fact.join(dup, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
    assert(!aggBelowJoin(PushPartialAggThroughUniqueJoin.force(
      q.queryExecution.analyzed)),
      "raw scan is not structurally unique; rewrite must bail")
  }

  test("distinct and right-side aggregates block the rewrite") {
    val qDistinct = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("l_quantity")).as("d"))
    assert(!aggBelowJoin(PushPartialAggThroughUniqueJoin.force(
      qDistinct.queryExecution.analyzed)))
    val qRight = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(max(col("o_orderpriority")).as("p"))
    assert(!aggBelowJoin(PushPartialAggThroughUniqueJoin.force(
      qRight.queryExecution.analyzed)))
  }
}
