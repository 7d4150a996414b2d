package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ISLANDS-AND-GAPS over a long key column — the sequence-integrity
  * audit (missing invoice numbers, dropped message offsets, absent
  * surrogate ids) — WITHOUT the global window the textbook
  * `lag(k) OVER (ORDER BY k)` formulation needs (a total order over
  * the whole table = one reducer, the plan-gate-forbidden shape).
  *
  * Scale shape (the Ids.dense / Pack two-phase discipline):
  *  1. distinct keys range-partition by value, so each partition owns
  *     a contiguous key interval;
  *  2. WITHIN-partition gaps come from a lag window PARTITIONED BY
  *     `spark_partition_id()` — keyed, linear state, gate-safe;
  *  3. CROSS-partition gaps are stitched from the P (first, last)
  *     pairs — P longs to the driver, never rows (empty range
  *     partitions simply contribute no pair; the sort-then-slide over
  *     the non-empty ones stitches across them).
  *
  * Result: every maximal run of absent values strictly inside
  * [min, max], as (gap_start, gap_end) — identical to the global-lag
  * formulation (GapsSpec proves equality; the q90 oracle replays the
  * naive form in DuckDB, where single-node totality is free).
  */
object Gaps {

  def gaps(df: DataFrame, key: String): DataFrame = {
    val s = df.sparkSession
    val keys = df.select(col(key).cast("long").as("k"))
      .where(col("k").isNotNull)
      .distinct()
      .repartitionByRange(col("k"))
    // Persisted BEFORE either consumer runs: RangePartitioner samples
    // with an RDD-id-derived seed, so re-executing the exchange for the
    // second consumer could pick DIFFERENT range boundaries once a
    // partition exceeds the reservoir sample size — the within-partition
    // gaps (boundaries A) and the driver-stitched cross-partition gaps
    // (boundaries B) would then disagree. One materialization, two reads.
    val withPid = graft.Memo.persist(
      keys.withColumn("pid", spark_partition_id()))
    val w = Window.partitionBy(col("pid")).orderBy(col("k"))
    val inner = withPid
      .withColumn("prev", lag(col("k"), 1).over(w))
      .filter(col("prev").isNotNull && col("k") - col("prev") > 1)
      .select((col("prev") + 1).as("gap_start"),
        (col("k") - 1).as("gap_end"))
    // P (first, last) longs to the driver for boundary stitching
    val bounds = withPid.groupBy(col("pid"))
      .agg(min(col("k")).as("f"), max(col("k")).as("l"))
      .collect().map(r => (r.getAs[Long]("f"), r.getAs[Long]("l")))
      .sortBy(_._1)
    val cross = bounds.iterator.sliding(2).withPartial(false).collect {
      case Seq((_, l1), (f2, _)) if f2 - l1 > 1 => (l1 + 1, f2 - 1)
    }.toSeq
    import s.implicits._
    inner.unionByName(cross.toDF("gap_start", "gap_end"))
  }
}
