package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one action that materializes every output column of a frame:
  * row count plus the sum of a per-row hash over all columns, taken in
  * column-name order so the digest does not depend on row or column
  * order. Maps are not hashable in Spark, so any column holding one is
  * hashed through its string form. */
object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** One row: (n, h) — the row count and the hash sum. */
  private def frame(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.toSeq
    // positional names: output columns may repeat a name
    val named = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }.map {
      case (f, i) => if (hasMap(f.dataType)) col(s"c$i").cast("string") else col(s"c$i")
    }
    val h = if (cols.isEmpty) lit(0L) else coalesce(sum(hash(cols: _*).cast("long")), lit(0L))
    named.agg(count(lit(1)).as("n"), h.as("h"))
  }

  def of(df: DataFrame): (Long, Long) = {
    val row = frame(df).head()
    (row.getLong(0), row.getLong(1))
  }
}
