package graft.plans

import graft.SparkSpec
import graft.queries.Registry
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.GraftPlanBridge
import org.apache.spark.sql.internal.SQLConf

/** Registry-wide plan diff for every optimizer rule
  * [[graft.functions.GraftExtensions]] injects: each rule is on in
  * every [[graft.GraftSession]], so it must not silently rewrite plans
  * beyond its pinned set — and a rule that stops firing anywhere (a
  * dead rule) must fail here too. With both rules and [[TopKStrategy]]
  * registered, as in a GraftSession, every batch registry query is
  * optimized twice, once with the rule under test named in
  * `spark.sql.optimizer.excludedRules`, and the set of queries whose
  * canonicalized optimized plan changes is pinned EXACTLY, at BOTH
  * sf0.001 and sf0.01 — a new fire (or a lost one) fails here before
  * it can drift into the oracle gate.
  *
  * The eager-aggregation probe measures one full pass over the
  * column-pruned keys (count + HLL, both order-insensitive —
  * reproducible AND layout-independent; a `LocalLimit` prefix was
  * deterministic but biased low on key-unclustered layouts, a racy
  * `.limit` sample flapped), so near-threshold decisions like t17's do
  * not flap and the fire set is an exact per-SF pin. Streaming
  * queries are excluded for the same reason as RegistrySpec's batch
  * plan gate: their builders run the stream to completion and return
  * a materialized sink, so the inspected plan never contains the
  * streaming shape (the eager-agg gate itself bails on streaming
  * threads — see the rule's scaladoc).
  */
class EagerAggDiffSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    addOptimizerRule(RewriteRowNumberTopK)
    addOptimizerRule(PushPartialAggThroughUniqueJoin)
    addStrategy(TopKStrategy)
  }

  /** The exact per-SF fire sets of eager aggregation:
    *  - q84 fires at both SFs: its naive Aggregate-over-Join plan
    *    exists precisely to hand the rule its shape; lineitem→orders
    *    measures ~4 lines per order — safely above the 3.0 bar.
    *  - t17 fires at both SFs under a cold cache: `hit` is a per-doc
    *    count over trainShingles ⋈ DISTINCT testShingles — the dim
    *    side is provably unique on h60 and within-doc shingle
    *    repetition collapses repeated (doc, h60) pairs before the
    *    join. Its sub-plan is WIDE (a join below the probe), so the
    *    probe takes the full-pass regime and measures the true
    *    rows/NDV — above the 3.0 bar at both corpora (cache-state
    *    dependent planning is excluded too — see [[fireSet]]).
    * Every other registry query either lacks the shape (hand-pushed
    * aggregates, non-unique dims, non-pushable calls) or fails the
    * measured reduction. */
  private val expectedFires = Map(
    "/root/testdata/sf0.001" ->
      Set("q84_eager_agg_rule", "t17_decontaminate"),
    "/root/testdata/sf0.01" ->
      Set("q84_eager_agg_rule", "t17_decontaminate"))

  /** The exact fire set of the row_number → [[TopKPerKey]] rewrite:
    * the registry queries that filter a per-key `row_number()` to a
    * constant bound and drop the rank — q11's keep-first dedup, q47's
    * best match per dirty name, q88's LATERAL top-N (decorrelated into
    * a per-key window) and s06's exact per-query top-5. The rule has no
    * cost gate, so one set serves both SFs. */
  private val topKFires = Set("q11_dedup_first_order", "q47_fuzzy_match",
    "q88_lateral_topk", "s06_ann_recall")

  /** (rule, test label, SF dir → pinned fire set). */
  private val pinned: Seq[(Rule[LogicalPlan], String, Map[String, Set[String]])] = Seq(
    (PushPartialAggThroughUniqueJoin, "flag=auto", expectedFires),
    (RewriteRowNumberTopK, "RewriteRowNumberTopK",
      expectedFires.map { case (dir, _) => dir -> topKFires }))

  private def fireSet(rule: Rule[LogicalPlan], dir: String): Set[String] = {
    // defined cache state: a registry builder that persists a dataset
    // leaves an InMemoryRelation behind, and on a RE-build the
    // optimizer substitutes it into the plan — opaque to the rules'
    // pattern matches, so the fire decision would depend on which
    // queries ran before (cache-state-dependent planning is normal
    // Spark behavior, but the pin here must be reproducible). Cold
    // cache + cold probe cache ⇒ the diff is a pure function of the
    // data.
    spark.catalog.clearCache()
    PushPartialAggThroughUniqueJoin.clearProbeCache()
    val excluded = SQLConf.OPTIMIZER_EXCLUDED_RULES.key -> rule.ruleName
    val batch = Registry.all.map(_.name).filterNot(_.startsWith("st"))
    batch.filter { name =>
      // build ONCE (rules on, so q84's builder takes its session-rule
      // path), then optimize the SAME analyzed plan with and without
      // the rule: two separate builds get fresh exprIds, and
      // RewriteDistinctAggregates orders its Expand branches by an
      // exprId-keyed hash — a multi-distinct query (q03) then differs
      // between builds for reasons that have nothing to do with the
      // rule. One analyzed tree, two optimizations, exprIds fixed ⇒
      // only rule-driven differences survive.
      val analyzed = Registry.queries(name)(spark, dir).queryExecution.analyzed
      def optimized(): String = GraftPlanBridge.ofRows(spark, analyzed)
        .queryExecution.optimizedPlan.canonicalized.toString
      withConf(spark, excluded)(optimized()) != optimized()
    }.toSet
  }

  for ((rule, label, fires) <- pinned; (dir, expected) <- fires) {
    test(s"$label changes EXACTLY the pinned registry plans at ${dir.split('/').last}") {
      // run the whole diff twice: the rule must yield the SAME fire
      // set on a fresh cache (the eager-agg probe is deterministic)
      val first = fireSet(rule, dir)
      val second = fireSet(rule, dir)
      assert(first === second,
        s"fire-set nondeterminism: $first vs $second on identical inputs")
      assert(first === expected,
        s"${rule.ruleName} fire-set drift at $dir: got $first, pinned $expected")
    }
  }
}
