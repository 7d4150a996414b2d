package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types._

/** Element-wise vector SUM over a fixed-width `array<decimal>` column,
  * as a `DeclarativeAggregate`: the whole aggregate is an expression
  * tree (init / update / merge are catalyst expressions, no imperative
  * buffer), completing the custom-aggregate ladder next to the
  * imperative [[MinHashSigAgg]]/[[MinHashPairAgg]].
  *
  * Decimal elements keep the sum exact and order-independent, so a
  * SQL oracle can replay it lane-by-lane (`q34_vector_centroid`) —
  * double sums would diverge in the last ulp by accumulation order.
  * The merge expression makes it partial-aggregation-safe: map-side
  * combine emits one `dim`-wide array per group per partition, the
  * canonical centroid/sketch shape for 100 TB embedding tables.
  */
case class VecSumAgg(child: Expression, dim: Int)
    extends DeclarativeAggregate {

  /** DECIMAL(28,6): 28 integer+fraction digits absorb ~10^15 rows of
    * |x| ≤ 10^6 without overflow. Oracle parity trap:
    * Spark casts FLOAT→DECIMAL by widening to double first, while
    * DuckDB's direct FLOAT→DECIMAL multiplies in float arithmetic and
    * rounds differently ~20% of the time at 6 digits — oracle SQL must
    * spell CAST(CAST(x AS DOUBLE) AS DECIMAL(28,6)). */
  private val elemType = DecimalType(28, 6)
  private val arrType = ArrayType(elemType, containsNull = true)

  private lazy val buf =
    AttributeReference("vecsum", arrType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(buf)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal.create(Seq.fill(dim)(java.math.BigDecimal.ZERO), arrType))

  private def zipAdd(a: Expression, b: Expression): Expression = {
    val x = NamedLambdaVariable("x", elemType, nullable = true)
    val y = NamedLambdaVariable("y", elemType, nullable = true)
    val add = Cast(
      Add(Coalesce(Seq(x, Literal.create(java.math.BigDecimal.ZERO, elemType))),
          Coalesce(Seq(y, Literal.create(java.math.BigDecimal.ZERO, elemType)))),
      elemType)
    ZipWith(a, b, LambdaFunction(add, Seq(x, y)))
  }

  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(child), buf, zipAdd(buf, child)))

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    zipAdd(buf.left, buf.right))

  override lazy val evaluateExpression: Expression = buf

  override def dataType: DataType = arrType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_vec_sum"
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): VecSumAgg =
    copy(child = cs.head)
}

object VecSumAgg {
  /** Column API: element-wise decimal sum of an array column whose
    * elements are (or are cast to) DECIMAL(28,6). */
  def vecSum(c: Column, dim: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      VecSumAgg(org.apache.spark.sql.GraftBridge.expr(c), dim)
        .toAggregateExpression())
}
