package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Optimizer rule: EAGER AGGREGATION through a unique-keyed inner join
  * (Yan & Larson, VLDB'95) — push a partial aggregate below the join
  * when the dim side is provably unique on its equi-join keys:
  *
  * {{{ Aggregate(g, aggs(fact cols), Join(fact, dim, Inner, k))
  *     →  Aggregate(g, merge(aggs),
  *          Join(Aggregate(k ∪ (g∩fact), partials, fact), dim, Inner, k)) }}}
  *
  * This is exactly the rewrite `q01_topk_revenue` performs BY HAND
  * ("aggregate pushed below the join — Catalyst has no
  * aggregate-pushdown rule"): the join then carries one row per
  * (key, fact-group) instead of one row per fact row. At 100 TB the
  * difference is the shuffle: lineitem joins orders on 6B rows or on
  * 1.5B pre-aggregated ones.
  *
  * Soundness (why unique matters): with ≤1 dim row per key value, the
  * join multiplies each fact row by 0 or 1 — never duplicates. All
  * fact rows sharing a partial group share the join key, so the join
  * keeps or drops a partial group ATOMICALLY, and partial sums merge
  * to exactly the original totals. Null keys: under EqualTo both
  * plans drop them (no match); under EqualNullSafe the partial null
  * group joins the ≤1 null dim row once, contributing the same merged
  * totals the row-at-a-time matches did. Without uniqueness a dim key
  * matching d rows would multiply individual fact ROWS d times, which
  * a collapsed partial group cannot reproduce — the rule bails.
  *
  * Merge algebra: SUM → SUM of partials (re-cast when the decimal
  * widening differs), MIN/MAX → MIN/MAX of partials, COUNT →
  * coalesce(SUM of partial counts, 0). Pushed aggregates must
  * reference only fact columns, be non-DISTINCT and FILTER-free;
  * grouping expressions must be plain attributes (either side — dim
  * grouping columns are functions of the join key, so grouping the
  * partial by the key preserves them). A TRY-mode sum (`try_sum`)
  * bails: its NULL-on-overflow marker would be silently SKIPPED by
  * the merge Sum (Sum ignores nulls), converting "overflow ⇒ NULL
  * total" into "overflow ⇒ partial total" — a semantics change no
  * merge algebra over partial columns can reproduce. LEGACY/ANSI
  * modes propagate into both layers unchanged (ordering-dependent
  * ANSI overflow is already inherent to Spark's own physical partial
  * aggregation). Anything else ⇒ no rewrite.
  *
  * COST GATE. The rule is on wherever it is injected
  * ([[graft.functions.GraftExtensions]], so every
  * [[graft.GraftSession]]) and fires only when the key-group reduction
  * factor rows/NDV(partial keys) of the fact side clears
  * [[MinReduction]]. To turn it off, add its `ruleName` to Spark's own
  * `spark.sql.optimizer.excludedRules`; [[force]] applies the rewrite
  * without the gate (the spec/property-test surface). The rule reads
  * no configuration of its own.
  *
  * The factor is read from PERSISTED TABLE STATISTICS first
  * ([[StatsStore]], written only by ANALYZE — [[StatsStore.analyze]] /
  * `graft.Analyze`): when the fact side is a pure scan of an analyzed
  * table the gate costs zero jobs at optimize time, the production
  * CBO shape. The optimizer never writes the store. On a stats miss
  * the gate measures: ONE full pass over the column-pruned key
  * projection of the fact side (`count + approx_count_distinct`),
  * kept in an in-process probe cache and refused outright above a
  * 16 GiB input ceiling (un-analyzed huge fact ⇒ no probe, no rewrite
  * — bounded optimizer latency; run ANALYZE). Full-pass, not sampled:
  * (a) any bounded prefix of a shuffle output arrives in racy
  * within-partition order and flaps run-to-run (seen on t17); (b) even
  * a DETERMINISTIC per-partition `LocalLimit` prefix of a file scan is
  * BIASED — when rows are not clustered by key, a prefix catches ~1 of
  * each key's siblings and underestimates the true reduction by up to
  * the group factor itself (measured on lineitem: one SF happened to
  * be key-clustered on disk and fired at ~4.0, at another SF the same
  * data arrived unclustered and the prefix measured ~1.3 — same true
  * reduction, opposite decision). Both probe aggregates (count, HLL
  * register max) are order-insensitive, so the measured reduction —
  * and hence the fire decision — is reproducible AND
  * layout-independent for a given table.
  *
  * The probe executes a (column-pruned, map-only) Spark job INSIDE
  * logical optimization — an impurity Catalyst does not expect; it is
  * why the gate bails on streaming threads and memoizes per (session,
  * data fingerprint, plan): optimizer fixpoint iterations and repeated
  * queries probe once, and an overwritten input path (new part-files
  * ⇒ new fingerprint) re-probes instead of reusing a stale estimate.
  * A reduction of ~1 (keys nearly unique in the fact) means the
  * partial aggregate would shrink nothing and pay a full
  * hash-aggregate pass — the classic eager-aggregation LOSS case Yan &
  * Larson's profitability condition exists for; lineitem→orders (~4
  * lines per order) clears the bar. Probes never recurse (the probe
  * thread is marked; the rule is inert on probe queries).
  */
object PushPartialAggThroughUniqueJoin
    extends Rule[LogicalPlan] with PredicateHelper {

  /** Reduction factor rows/NDV(partial keys) the fact side must reach
    * for the rewrite to fire: below it the partial aggregate shrinks
    * too little to pay for its own hash-aggregate pass. */
  private[plans] val MinReduction = 3.0

  /** Ceiling on the fact side's input bytes above which the gate will
    * NOT run the live probe (and therefore not fire) when persisted
    * statistics are absent: optimizer latency stays bounded on huge
    * un-analyzed tables — the answer there is ANALYZE, exactly as with
    * any cost-based optimizer. At local/bench scale the probe is
    * always allowed; at 100 TB a never-analyzed fact skips the rewrite
    * instead of blocking planning for a full key-column scan. */
  private val ProbeMaxBytes: Long = 16L * 1024 * 1024 * 1024

  /** Guards against the rule firing on its own probe queries (the
    * probe executes a full query through the session optimizer on the
    * calling thread). */
  private val inProbe = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  /** reduction-factor estimates keyed by (session UUID, input-file
    * fingerprint, canonicalized probe plan) — optimizer batches run
    * to fixpoint and bench repeats queries, so each distinct fact
    * sub-plan is probed once per session AND per data version: two
    * sessions in one JVM never share estimates, and overwriting an
    * input path (new part-file names/sizes ⇒ new fingerprint)
    * invalidates by construction instead of serving a stale estimate
    * for the process lifetime. */
  private val probeCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, LogicalPlan), java.lang.Double]()

  /** Hash of the plan's file-relation inputs: each file leaf hashes by
    * [[StatsStore.relationFingerprint]] (part-file names are
    * write-unique, so any overwrite of a scanned path changes it).
    * Non-file leaves (local relations, views over them) hash by
    * canonicalized identity — they are immutable within a plan's
    * lifetime. */
  private def dataFingerprint(plan: LogicalPlan): Long =
    plan.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => StatsStore.relationFingerprint(fs)
        case other => other.hashCode.toLong
      }
      case leaf => leaf.canonicalized.hashCode.toLong
    }.foldLeft(0L)((a, b) => a * 31L + b)

  /** test/diagnostic hook: clear cached probe results. */
  private[graft] def clearProbeCache(): Unit = probeCache.clear()

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (inProbe.get()) plan else rewrite(plan, Some(ProbeMaxBytes))

  /** The rewrite without the cost gate — the spec/property-test
    * surface (PushPartialAggSpec pins the bail conditions and result
    * equality on random shapes). */
  def force(plan: LogicalPlan): LogicalPlan = rewrite(plan, None)

  /** `probeMaxBytes` = None: ungated; Some(ceiling): cost-gated, with
    * the live probe refused above `ceiling` input bytes. */
  private[plans] def rewrite(plan: LogicalPlan,
      probeMaxBytes: Option[Long]): LogicalPlan =
    plan.transformUp {
      case agg @ Aggregate(_, _,
          join @ Join(left, _, Inner, Some(_), _), _)
          if !left.isInstanceOf[Aggregate] =>
        tryRewrite(agg, join, probeMaxBytes).getOrElse(agg)
      // column pruning interleaves in the same fixed-point batch and
      // may have inserted a narrowing Project between the two — an
      // attribute-only Project carries no computation, so the rewrite
      // simply rebuilds without it (pruning re-narrows afterwards)
      case agg @ Aggregate(_, _,
          Project(projList, join @ Join(left, _, Inner, Some(_), _)), _)
          if projList.forall(_.isInstanceOf[Attribute]) &&
            !left.isInstanceOf[Aggregate] =>
        tryRewrite(agg, join, probeMaxBytes).getOrElse(agg)
    }

  private def tryRewrite(agg: Aggregate, join: Join,
      probeMaxBytes: Option[Long]): Option[Aggregate] = {
    val left = join.left
    val right = join.right

    // 1. pure equi condition, (leftKey, rightKey) attribute pairs
    val conjuncts = splitConjunctivePredicates(join.condition.get)
    val pairs = conjuncts.map {
      case EqualTo(a: Attribute, b: Attribute) => side(join, a, b)
      case EqualNullSafe(a: Attribute, b: Attribute) => side(join, a, b)
      case _ => None
    }
    if (pairs.exists(_.isEmpty)) return None
    val (leftKeys, rightKeys) = pairs.flatten.unzip
    if (leftKeys.isEmpty) return None

    // 2. dim side unique on its equi keys
    if (!uniqueOn(right, rightKeys)) return None

    // 3. plain-attribute grouping
    val groupAttrs = agg.groupingExpressions.map {
      case a: Attribute => a
      case _ => return None
    }

    // 4. pushable aggregate calls: non-distinct, unfiltered,
    //    Sum/Min/Max/Count over fact columns only; TRY-mode sums bail
    //    (NULL-on-overflow partials would be skipped by the merge Sum)
    val calls = agg.aggregateExpressions
      .flatMap(_.collect { case ae: AggregateExpression => ae })
    if (calls.isEmpty) return None
    if (!calls.forall(ae =>
        !ae.isDistinct && ae.filter.isEmpty &&
          ae.references.subsetOf(left.outputSet) &&
          (ae.aggregateFunction match {
            case s: Sum => s.evalContext.evalMode != EvalMode.TRY
            case _: Min | _: Max | _: Count => true
            case _ => false
          }))) return None

    // partial aggregate over the fact: group by join keys + the
    // grouping attrs the fact contributes
    val partialKeys = (leftKeys ++ groupAttrs.filter(left.outputSet.contains))
      .foldLeft(Seq.empty[Attribute])((acc, a) =>
        if (acc.exists(_.exprId == a.exprId)) acc else acc :+ a)

    // 5. cost gate: measured key-group reduction
    if (probeMaxBytes.exists(!profitable(left, partialKeys, _))) return None

    val distinctCalls = calls.foldLeft(Seq.empty[AggregateExpression])(
      (acc, ae) => if (acc.exists(_.semanticEquals(ae))) acc else acc :+ ae)
    val partials: Seq[(AggregateExpression, Alias)] = distinctCalls.map { ae =>
      val fn = ae.aggregateFunction match {
        // evalContext propagates: the partial must overflow (ANSI) or
        // wrap (LEGACY) exactly as the original accumulation would
        case s: Sum => Sum(s.child, s.evalContext)
        case m: Min => Min(m.child)
        case m: Max => Max(m.child)
        case c: Count => Count(c.children)
      }
      ae -> Alias(fn.toAggregateExpression(), "_partial")()
    }
    val partialAgg = Aggregate(partialKeys,
      partialKeys ++ partials.map(_._2), left)
    val newJoin = join.copy(left = partialAgg)

    // merge layer: replace each original call with its merge over the
    // partial column, preserving every output Alias (and exprId)
    val newResults = agg.aggregateExpressions.map { ne =>
      ne.transformUp {
        case ae: AggregateExpression =>
          val pa = partials.find(_._1.semanticEquals(ae)).get._2.toAttribute
          ae.aggregateFunction match {
            case s: Sum =>
              val merged = Sum(pa, s.evalContext).toAggregateExpression()
              if (merged.dataType == ae.dataType) merged
              else Cast(merged, ae.dataType)
            case _: Min => Min(pa).toAggregateExpression()
            case _: Max => Max(pa).toAggregateExpression()
            case _: Count =>
              Coalesce(Seq(Sum(pa).toAggregateExpression(), Literal(0L)))
          }
      }.asInstanceOf[NamedExpression]
    }
    Some(Aggregate(agg.groupingExpressions, newResults, newJoin))
  }

  /** Profitability: rows/NDV over the partial keys against
    * [[MinReduction]] — PERSISTED STATISTICS FIRST, live probe as the
    * fallback. Resolution order:
    *
    *  1. [[StatsStore]]: when the fact side traces to a scan of one
    *     file table (no row-changing nodes between but IsNotNull-only
    *     filters — row count and key NDV are then table properties,
    *     or an estimate of them), read the ANALYZE (rows, ndv) for
    *     that table's data fingerprint. Zero jobs at optimize time.
    *  2. in-memory probe cache (sub-plans probed earlier this
    *     session).
    *  3. the live full-pass probe — refused entirely above
    *     `probeMaxBytes` (un-analyzed huge table ⇒ skip the rewrite,
    *     never block the optimizer). Its result goes to the probe
    *     cache only: statistics are written by ANALYZE alone.
    *
    * Both paths share one canonical measurement form
    * ([[StatsStore.measure]]: count + HLL over the sorted key struct),
    * so the fire decision is independent of which path served it
    * (StatsGateSpec pins this). Any probe failure (no active session,
    * exotic sub-plan that can't re-analyze) counts as NOT profitable —
    * the unrewritten plan is always safe. */
  private def profitable(left: LogicalPlan, keys: Seq[Attribute],
      probeMaxBytes: Long): Boolean = {
    if (left.isStreaming) return false
    // micro-batch plans re-optimize per batch with isStreaming=false and
    // a fresh (uncacheable) batch sub-plan — a probe job per micro-batch
    // would tax every stream for a batch-side optimization. Two guards,
    // both compile-checked against Spark internals (no bare string
    // literals a rename could silently defeat): StreamExecution runs
    // every micro-batch on its QueryExecutionThread (structural,
    // type-based) and stamps the thread's local properties with
    // QUERY_ID_KEY (covers optimization work it delegates to pool
    // threads carrying the inherited properties).
    import org.apache.spark.sql.execution.streaming.runtime.{
      QueryExecutionThread, StreamExecution}
    if (Thread.currentThread().isInstanceOf[QueryExecutionThread])
      return false
    if (SparkSession.getActiveSession.exists(s =>
        s.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY) != null))
      return false
    val sessionId = SparkSession.getActiveSession
      .map(s => java.lang.System.identityHashCode(s).toString)
      .getOrElse(return false)
    def ratio(n: Long, ndv: Long): Double =
      if (n <= 0 || ndv <= 0) 0.0 else n.toDouble / ndv.toDouble

    // 1. persisted statistics — zero jobs at optimize time. A trace
    //    through an IsNotNull-only filter reads the unfiltered ANALYZE
    //    entry as its estimate (the filter drops only the null-key
    //    group).
    val traced = StatsStore.traceToScan(left, keys)
    traced.foreach { case (fs, paired, _) =>
      StatsStore.lookup(StatsStore.relationFingerprint(fs), paired.map(_._1))
        .foreach { case (n, ndv) => return ratio(n, ndv) >= MinReduction }
    }

    // canonical probe order: the traced base-name sort, or the key
    // attributes' own name sort when the sub-plan has no table
    // identity — either way deterministic, and identical to the order
    // StatsStore.analyze would measure, so both paths hash the same
    // struct
    val orderedKeys = traced.map(_._2.map(_._2))
      .getOrElse(keys.sortBy(_.name))

    // 2. in-memory probe cache (session-scoped)
    val cacheKey = (sessionId, dataFingerprint(left),
      Project(orderedKeys, left).canonicalized)
    val cached = probeCache.get(cacheKey)
    if (cached != null) return cached.doubleValue >= MinReduction

    // 3. live probe, refused on huge un-analyzed inputs: a bounded
    //    optimizer never runs an unbounded job — past the ceiling the
    //    answer is ANALYZE, not a scan inside planning
    val inputBytes = left.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.sizeInBytes
        case _ => 0L
      }
      case _ => 0L
    }.sum
    if (inputBytes > probeMaxBytes) {
      logWarning(s"eager-agg: skipping probe ($inputBytes input bytes > " +
        s"$probeMaxBytes) — run StatsStore.analyze on the fact table to " +
        "enable the rewrite")
      return false
    }

    measureReduction(left, orderedKeys) match {
      case Some((n, ndv)) =>
        val measured = ratio(n, ndv)
        // bounded cache (distinct plan shapes per session are few;
        // a runaway producer of novel shapes just loses memoization)
        if (probeCache.size() >= 256) probeCache.clear()
        probeCache.put(cacheKey, measured)
        measured >= MinReduction
      case None =>
        // transient probe failure: skip the rewrite THIS time but do
        // NOT cache the verdict — a one-off job hiccup must not
        // disable the optimization (or fail q84's fired-require) for
        // the session lifetime
        false
    }
  }

  private def measureReduction(left: LogicalPlan,
      orderedKeys: Seq[Attribute]): Option[(Long, Long)] = {
    val spark = SparkSession.getActiveSession.getOrElse(return None)
    inProbe.set(true)
    try {
      // ONE full pass over the column-pruned keys — never a bounded
      // prefix (racy below a shuffle, biased on unclustered file
      // layouts; see the scaladoc). The measurement form lives in
      // StatsStore.measure (count + HLL, both order-insensitive) so
      // probe and ANALYZE can never disagree; its cost is one map-only
      // scan of the key columns, paid once per session and data
      // version via the probe cache.
      val pruned = Project(orderedKeys, left)
      val keyDf = org.apache.spark.sql.classic.GraftPlanBridge
        .ofRows(spark, pruned)
        .toDF(orderedKeys.indices.map(i => s"k$i"): _*)
      Some(StatsStore.measure(keyDf, keyDf.columns.toSeq))
    } catch {
      case scala.util.control.NonFatal(_) => None
    } finally inProbe.set(false)
  }

  /** Does `plan` hold at most one row per value of `keys`? Spark's own
    * distinct-key propagation decides, plus a top-level `Deduplicate`:
    * q84's rule-less branch and the specs rewrite ANALYZED plans, where
    * `dropDuplicates` has not yet become an Aggregate. */
  private def uniqueOn(plan: LogicalPlan, keys: Seq[Attribute]): Boolean =
    plan match {
      case d: Deduplicate => AttributeSet(d.keys).subsetOf(AttributeSet(keys))
      case _ => plan.distinctKeys.exists(_.subsetOf(ExpressionSet(keys)))
    }

  private def side(j: Join, a: Attribute, b: Attribute)
      : Option[(Attribute, Attribute)] =
    if (j.left.outputSet.contains(a) && j.right.outputSet.contains(b))
      Some((a, b))
    else if (j.right.outputSet.contains(a) && j.left.outputSet.contains(b))
      Some((b, a))
    else None
}
