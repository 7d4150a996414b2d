package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass Gopher-style repetition/quality signals over a
  * tokenized document: `graft_text_quality(array<string>)` →
  * `struct<rep3_ratio: double, distinct_word_ratio: double>`.
  *
  * The composable spelling — `transform(sequence(...), trigram
  * concat) |> array_distinct |> size` plus `array_distinct(words)` —
  * is semantically right but runs as INTERPRETED higher-order
  * functions: per trigram Spark walks a lambda expression tree and
  * allocates bound-variable rows, which the noop-mode (materialized)
  * bench measured at ~1.3 ms/document (t13: 0.11 s count-pruned vs
  * 6.48 s materialized at sf0.1 — the cost was real, just hidden
  * behind `count()`). This expression computes both signals in ONE
  * tight JVM pass (hash sets over `UTF8String`, no per-element
  * expression trees) and stays inside whole-stage codegen via a
  * single static call (SURVEY brief: "a native Catalyst Expression
  * (with doGenCode) beats a Scala UDF beats anything else").
  *
  * Semantics are EXACTLY the HOF formulation's (TextQualitySpec pins
  * equality on random corpora; the t13 DuckDB oracle pins it
  * externally):
  *  - `rep3_ratio` = `1 − |distinct word-trigrams| / |trigrams|` for
  *    n ≥ 3 words, else 0.0. Trigram identity is the space-joined
  *    string, byte-equal to `concat_ws(" ", w, w, w)`.
  *  - `distinct_word_ratio` = `|distinct words| / n`, NULL for an
  *    empty token array (mirroring `x / 0` semantics instead of
  *    NaN-poisoning downstream averages).
  * Null/overall-null input → null row (UnaryExpression default);
  * array ELEMENTS are assumed non-null (`split` never yields null
  * tokens).
  */
case class TextQuality(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("rep3_ratio", DoubleType, nullable = false),
    StructField("distinct_word_ratio", DoubleType, nullable = true)))
  override def prettyName: String = "graft_text_quality"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_text_quality requires array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    TextQuality.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextQuality.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): TextQuality =
    copy(child = newChild)
}

object TextQuality {

  private val SPACE = UTF8String.fromString(" ")

  /** The whole computation as one static call so generated code stays
    * a single invocation (no interpreted sub-tree per element). */
  def compute(words: ArrayData): InternalRow = {
    val n = words.numElements()
    val distinctWords = new java.util.HashSet[UTF8String](math.max(16, n * 2))
    var i = 0
    while (i < n) {
      distinctWords.add(words.getUTF8String(i))
      i += 1
    }
    val rep3 =
      if (n < 3) 0.0
      else {
        val nTg = n - 2
        val distinctTg = new java.util.HashSet[UTF8String](nTg * 2)
        var j = 0
        while (j < nTg) {
          // byte-identical to concat_ws(" ", w[j], w[j+1], w[j+2]) —
          // the HOF formulation's trigram identity
          distinctTg.add(UTF8String.concatWs(SPACE,
            words.getUTF8String(j), words.getUTF8String(j + 1),
            words.getUTF8String(j + 2)))
          j += 1
        }
        1.0 - distinctTg.size.toDouble / nTg.toDouble
      }
    val out = new Array[Any](2)
    out(0) = rep3
    out(1) = if (n == 0) null else distinctWords.size.toDouble / n.toDouble
    new GenericInternalRow(out)
  }
}
