package graft.plans

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.EliminateOuterJoin
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Spark's own `EliminateOuterJoin` drops a LEFT OUTER join whose
  * right side contributes no column above it and is unique on the
  * join keys (`distinctKeys`), so the engine ships no rule of its own
  * for it. These cases pin that it fires on the warehouse idiom (fact
  * LEFT JOIN a dropDuplicates or groupBy dim, dim columns unused),
  * returns the identical result, and stays away from every unsafe
  * shape: right side not provably unique, right columns used,
  * non-left joins. */
class EliminateUniqueLeftJoinSpec extends SparkSpec {

  /** `body` with Spark's elimination switched off by name. */
  private def kept[T](body: => T): T = withConf(spark,
    SQLConf.OPTIMIZER_EXCLUDED_RULES.key -> EliminateOuterJoin.ruleName)(body)

  /** A dim that is unique on d_custkey via dropDuplicates. */
  private def dedupDim: DataFrame = Tables.orders(spark, sfDir)
    .select(col("o_custkey").as("d_custkey"), col("o_orderdate").as("first_order"))
    .dropDuplicates("d_custkey")

  private def joinPlan(useRight: Boolean): DataFrame = {
    val fact = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val joined = fact.join(dedupDim,
      col("c_custkey") === col("d_custkey"), "left_outer")
    if (useRight) joined.select("c_custkey", "c_name", "first_order")
    else joined.select("c_custkey", "c_name", "c_acctbal")
  }

  private def hasJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty

  test("eliminated plan returns the identical rows") {
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(!hasJoin(joinPlan(useRight = false)))
    assert(rows(joinPlan(useRight = false)) ===
      kept(rows(joinPlan(useRight = false))))
  }

  test("does NOT fire when a right-side column is used") {
    assert(hasJoin(joinPlan(useRight = true)))
  }

  test("does NOT fire when the right side is not provably unique") {
    val fact = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name"))
    val dim = Tables.orders(spark, sfDir)
      .select(col("o_custkey").as("d_custkey"), col("o_totalprice"))
    val df = fact.join(dim, col("c_custkey") === col("d_custkey"), "left_outer")
      .select("c_custkey", "c_name")
    assert(hasJoin(df))
  }

  test("does NOT fire on an inner join (row count could change)") {
    val fact = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name"))
    val df = fact.join(dedupDim, col("c_custkey") === col("d_custkey"), "inner")
      .select("c_custkey", "c_name")
    assert(hasJoin(df))
  }

  test("fires on a groupBy-unique right side under an Aggregate parent") {
    val dim = Tables.orders(spark, sfDir).groupBy(col("o_custkey").as("d_custkey"))
      .agg(max(col("o_totalprice")).as("max_price"))
    // a def: each call plans afresh (a DataFrame caches its optimized plan)
    def df = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_acctbal"))
      .join(dim, col("c_custkey") === col("d_custkey"), "left_outer")
      .groupBy(col("c_custkey")).agg(sum(col("c_acctbal")).as("bal"))
    assert(!hasJoin(df))
    assert(kept(hasJoin(df)), "sanity: without the rule the join stays")
  }

  test("fires on a dropDuplicates-unique right side") {
    def df = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"))
      .join(dedupDim, col("c_custkey") === col("d_custkey"), "left_outer")
      .select("c_custkey", "c_name")
    assert(!hasJoin(df))
    assert(kept(hasJoin(df)), "sanity: without the rule the join stays")
  }

  test("property: eliminated result == un-eliminated result over random data") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // random fact/dim key multisets (incl. unmatched keys on both
    // sides and duplicate dim keys pre-dedup), random unique-making
    // construction — the result must not depend on the rule, always
    val keysGen = Gen.listOf(Gen.chooseNum(0, 20))
    val styleGen = Gen.oneOf("window", "groupBy", "dropDup")
    val p = Prop.forAll(keysGen, keysGen, styleGen) {
      (fk: List[Int], dk: List[Int], style: String) =>
        def build(): Set[(Int, Int)] = {
          val fact = fk.zipWithIndex.toDF("k", "tag")
          val dimRaw = dk.zipWithIndex.toDF("dk", "payload")
          val dim = style match {
            case "window" =>
              val w = Window.partitionBy(col("dk")).orderBy(col("payload"))
              dimRaw.withColumn("rn", row_number().over(w))
                .filter(col("rn") === 1).drop("rn")
            case "groupBy" =>
              dimRaw.groupBy("dk").agg(max(col("payload")).as("payload"))
            case _ => dimRaw.dropDuplicates("dk")
          }
          fact.join(dim, col("k") === col("dk"), "left_outer")
            .select("k", "tag")
            .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
        }
        build() == kept(build())
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(res.passed, res.status.toString)
  }
}
