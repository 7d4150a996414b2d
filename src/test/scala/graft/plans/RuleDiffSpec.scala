package graft.plans

import graft.{SparkSpec, TempDirs}
import graft.queries.Registry
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf

/** Registry-wide plan diff for the optimizer rule
  * [[graft.functions.GraftExtensions]] injects: [[RewriteRowNumberTopK]]
  * is on in every [[graft.GraftSession]], so it must not silently
  * rewrite plans beyond its pinned set — and if it stops firing
  * anywhere (a dead rule) that must fail here too. With the rule and
  * [[TopKStrategy]] registered, as in a GraftSession, every batch
  * registry query is optimized twice, once with the rule named in
  * `spark.sql.optimizer.excludedRules`, and the set of queries whose
  * canonicalized optimized plan changes is pinned EXACTLY, at BOTH
  * sf0.001 and sf0.01 — a new fire (or a lost one) fails here before
  * it can drift into the oracle gate.
  *
  * Streaming queries are excluded for the same reason as RegistrySpec's
  * batch plan gate: their builders run the stream to completion and
  * return a materialized sink, so the inspected plan never contains the
  * streaming shape.
  *
  * The suite also pins that planning is pure: optimizing any batch
  * registry plan in a GraftSession starts no Spark job.
  */
class RuleDiffSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    addOptimizerRule(RewriteRowNumberTopK)
    addStrategy(TopKStrategy)
  }

  /** sf0.001 and the sf0.01 corpus beside it. */
  private val dirs = Seq(sfDir, new java.io.File(sfDir).getParent + "/sf0.01")

  private def batch: Seq[String] =
    Registry.all.map(_.name).filterNot(_.startsWith("st"))

  /** The exact fire set of the row_number → [[TopKPerKey]] rewrite:
    * the registry queries that filter a per-key `row_number()` to a
    * constant bound and drop the rank — q11's keep-first dedup, q47's
    * best match per dirty name, q88's LATERAL top-N (decorrelated into
    * a per-key window) and s06's exact per-query top-5. The rule has no
    * cost gate, so one set serves both SFs. */
  private val topKFires = Set("q11_dedup_first_order", "q47_fuzzy_match",
    "q88_lateral_topk", "s06_ann_recall")

  private def fireSet(dir: String): Set[String] = {
    // defined cache state: a registry builder that persists a dataset
    // leaves an InMemoryRelation behind, and on a RE-build the
    // optimizer substitutes it into the plan — opaque to the rule's
    // pattern match, so the fire decision would depend on which
    // queries ran before. Cold cache ⇒ the diff is a pure function of
    // the data.
    spark.catalog.clearCache()
    val excluded = SQLConf.OPTIMIZER_EXCLUDED_RULES.key ->
      RewriteRowNumberTopK.ruleName
    batch.filter { name =>
      // build ONCE, then optimize the SAME analyzed plan with and
      // without the rule: two separate builds get fresh exprIds, and
      // RewriteDistinctAggregates orders its Expand branches by an
      // exprId-keyed hash — a multi-distinct query (q03) then differs
      // between builds for reasons that have nothing to do with the
      // rule. One analyzed tree, two optimizations, exprIds fixed ⇒
      // only rule-driven differences survive.
      val analyzed = Registry.queries(name)(spark, dir).queryExecution.analyzed
      def optimized(): String = GraftBridge.ofRows(spark, analyzed)
        .queryExecution.optimizedPlan.canonicalized.toString
      withConf(spark, excluded)(optimized()) != optimized()
    }.toSet
  }

  for (dir <- dirs) {
    test(s"RewriteRowNumberTopK changes EXACTLY the pinned registry plans at ${dir.split('/').last}") {
      // run the whole diff twice: the rule must yield the SAME fire
      // set on a fresh cache
      val first = fireSet(dir)
      val second = fireSet(dir)
      assert(first === second,
        s"fire-set nondeterminism: $first vs $second on identical inputs")
      assert(first === topKFires,
        s"RewriteRowNumberTopK fire-set drift at $dir: got $first, pinned $topKFires")
    }
  }

  test("optimizing every batch registry plan starts no Spark job") {
    // GraftSession-configured sessions (every injected rule, CBO on)
    // over an empty statistics store: nothing is analyzed, so any rule
    // that measured its input while planning would have to run a job.
    // Builders may run jobs of their own (eager checkpoints, driver-side
    // collects) and may optimize their own plan, so only the
    // optimization after the build is counted, twice: in the building
    // session, where the frames a builder persisted replace their
    // sub-plans, and in a second session that has seen nothing, so no
    // state the builder left behind can hide work done from cold
    val store = StatsStore.DIR ->
      TempDirs.create("graft-rule-diff-stats").toString
    val builder = graftSpark
    val cold = newGraftSession()
    StatsStore.clearLoaded()
    builder.catalog.clearCache()
    def planningJobs(s: SparkSession, plan: LogicalPlan): Int =
      withConf(s, store)(jobsStarted(
        GraftBridge.ofRows(s, plan).queryExecution.optimizedPlan)._2)
    val planning = batch.map { name =>
      val analyzed = withConf(builder, store)(
        Registry.queries(name)(builder, sfDir).queryExecution.analyzed)
      name -> (planningJobs(cold, analyzed) + planningJobs(builder, analyzed))
    }.filter(_._2 > 0)
    assert(planning.isEmpty,
      s"optimization started Spark jobs (query -> jobs): $planning")
  }
}
