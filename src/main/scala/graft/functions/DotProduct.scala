package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot product over two `array<double>` columns.
  *
  * The built-in way to express this — `aggregate(zip_with(a, b, _*_),
  * 0d, _+_)` — runs as interpreted higher-order functions: per element
  * it allocates lambda variables and breaks whole-stage codegen. This
  * expression compiles to a tight primitive loop inside the generated
  * code (SURVEY brief: "a native Catalyst Expression (with doGenCode)
  * beats a Scala UDF beats anything else").
  *
  * Semantics match the higher-order formulation exactly: left-to-right
  * IEEE summation over min(len) elements, null if either array is
  * null. Array elements are assumed non-null (embedding vectors).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires array<double> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native squared-L2 distance over two `array<double>` columns — the
  * PQ/ADC scoring primitive ([[graft.queries.Similarity]] s05/s07/s08
  * run it per (vector, candidate) pair). The higher-order spelling —
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0d, _+_)` —
  * interprets TWO lambdas per element on the hot path. Summation
  * order and arithmetic DAG are identical (left-to-right IEEE fold of
  * the per-lane squared difference, starting from 0.0), so results
  * are bit-equal to the HOF form and to DuckDB's
  * `list_reduce(list_transform(...))` oracle replay. NULL semantics
  * match the HOF form too: a NULL array, arrays of unequal length
  * (zip_with pads the shorter one with NULLs) or a NULL element in
  * either array yield NULL. */
case class SqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sqdist"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sqdist requires array<double> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |${ev.isNull} = $n != $b.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |    ${ev.isNull} = true;
         |  } else {
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDist =
    copy(left = newLeft, right = newRight)
}

/** Registration + Column API for the graft native functions. */
object GraftFunctions {

  /** Literal-int argument of a registered function (widths/ks/caps
    * must be constants — they size aggregation buffers). */
  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> { exprs => DotProduct(exprs(0), exprs(1)) },
    "graft_sqdist" -> { exprs => SqDist(exprs(0), exprs(1)) },
    "graft_text_quality" -> { exprs => TextQuality(exprs(0)) },
    "graft_cms_estimate" -> { exprs => CmsEstimate(exprs(0), exprs(1)) },
    "graft_zorder" -> { exprs => ZOrderKey(exprs(0), exprs(1)) },
    "graft_rolling_minhash" -> { exprs =>
      RollingMinHash(exprs(0),
        litInt(exprs(1), "graft_rolling_minhash", "width"),
        litInt(exprs(2), "graft_rolling_minhash", "k")) },
    // aggregates: the analyzer wraps a raw AggregateFunction from a
    // registry builder in an AggregateExpression, so these work in
    // SQL text (SELECT graft_topk_min(h, 4) FROM ... GROUP BY ...)
    "graft_topk_min" -> { exprs =>
      TopKMinAgg(exprs(0), litInt(exprs(1), "graft_topk_min", "k")) },
    "graft_capped_docs" -> { exprs =>
      CappedDocsAgg(exprs(0), litInt(exprs(1), "graft_capped_docs", "cap")) },
    "graft_minhash_sig" -> { exprs =>
      MinHashSigAgg(exprs(0), litInt(exprs(1), "graft_minhash_sig", "k")) },
    "graft_vec_sum" -> { exprs =>
      VecSumAgg(exprs(0), litInt(exprs(1), "graft_vec_sum", "dim")) },
    "graft_bloom_bits" -> { exprs =>
      BloomBitsAgg(exprs(0), litInt(exprs(1), "graft_bloom_bits", "numBits")) },
    "graft_freq_sketch" -> { exprs =>
      FreqSketchAgg(exprs(0), litInt(exprs(1), "graft_freq_sketch", "maxMapSize")) },
    "graft_freq_merge" -> { exprs =>
      FreqMergeAgg(exprs(0), litInt(exprs(1), "graft_freq_merge", "maxMapSize")) },
    "graft_freq_bounds" -> { exprs => FreqBounds(exprs(0), exprs(1)) })

  /** Direct (per-session) registration; idempotent. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "built-in")
    }

  /** Implementing class per function — DESCRIBE FUNCTION metadata
    * must name the actual expression class, not a shared one. */
  private val implClass: Map[String, String] = Map(
    "graft_dot" -> classOf[DotProduct].getName,
    "graft_sqdist" -> classOf[SqDist].getName,
    "graft_text_quality" -> classOf[TextQuality].getName,
    "graft_cms_estimate" -> classOf[CmsEstimate].getName,
    "graft_zorder" -> classOf[ZOrderKey].getName,
    "graft_rolling_minhash" -> classOf[RollingMinHash].getName,
    "graft_topk_min" -> classOf[TopKMinAgg].getName,
    "graft_capped_docs" -> classOf[CappedDocsAgg].getName,
    "graft_minhash_sig" -> classOf[MinHashSigAgg].getName,
    "graft_vec_sum" -> classOf[VecSumAgg].getName,
    "graft_bloom_bits" -> classOf[BloomBitsAgg].getName,
    "graft_freq_sketch" -> classOf[FreqSketchAgg].getName,
    "graft_freq_merge" -> classOf[FreqMergeAgg].getName,
    "graft_freq_bounds" -> classOf[FreqBounds].getName)

  /** Extension-path registration (spark.sql.extensions). */
  def injectAll(ext: SparkSessionExtensions): Unit =
    builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(implClass(name), name), b))
    }

  /** Column-API entry: `dot(a, b)` after [[register]]. Inputs are cast
    * to array<double> here (the expression itself is strict). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_dot",
      a.cast("array<double>"), b.cast("array<double>"))

  /** Column-API entry: `sqdist(a, b)` after [[register]]. */
  def sqdist(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_sqdist",
      a.cast("array<double>"), b.cast("array<double>"))

  /** Quantile at normalized `rank` of a `kll_sketch_agg_double` /
    * `kll_merge_agg_double` sketch, NULL when the sketch is empty (an
    * empty or all-NULL group): `kll_sketch_get_quantile_double` throws
    * on an empty sketch instead of returning NULL. A rank outside
    * [0, 1] still fails the query. */
  def kllQuantile(sketch: Column, rank: Double): Column = {
    import org.apache.spark.sql.functions.{
      kll_sketch_get_n_double, kll_sketch_get_quantile_double, lit, when}
    when(kll_sketch_get_n_double(sketch) > 0,
      kll_sketch_get_quantile_double(sketch, lit(rank)))
  }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` injection
  * point — the deployment-grade registration path: the native
  * `graft_*` functions, the row_number→TopKPerKey, unique-left-join
  * elimination and eager-aggregation optimizer rules, the
  * sidecar-statistics preCBO rule, and the planner strategy that
  * executes the rewritten top-k operator. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.injectAll(ext)
    ext.injectOptimizerRule(_ => graft.plans.RewriteRowNumberTopK)
    ext.injectOptimizerRule(_ => graft.plans.EliminateUniqueLeftJoin)
    ext.injectOptimizerRule(_ => graft.plans.PushPartialAggThroughUniqueJoin)
    // sidecar ANALYZE statistics → Catalyst's own CBO (join reorder,
    // broadcast selection, filter estimation); preCBO so the numbers
    // are in place before the CostBasedJoinReorder batch runs
    ext.injectPreCBORule(_ => graft.plans.AttachSidecarStats)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}
