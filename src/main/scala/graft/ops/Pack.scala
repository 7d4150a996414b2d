package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Sequence packing support: the scalable prefix sum behind
  * concatenate-then-chunk training-data packing (every pretraining
  * pipeline's final step — documents laid end-to-end in a fixed
  * order, then cut into fixed-size token windows).
  *
  * A naive running total is `sum() OVER (ORDER BY ...)` — a
  * SINGLE-partition window, the same bottleneck [[Ids.sequential]]
  * documents. The scalable form is the classic two-phase scan:
  * range-partition by the order key, per-partition partial sums
  * (one long per partition) to the driver, broadcast the exclusive
  * partition offsets back, then add a partition-local running sum.
  * Data crosses the cluster once (the range shuffle); the driver
  * sees P longs, never rows.
  *
  * The sorted input is pinned with a `localCheckpoint`: both passes
  * MUST observe the identical partitioning and row order, and two
  * independent jobs over the same lazy lineage may legitimately
  * differ (a non-deterministic upstream, or AQE choosing different
  * range boundaries per job) — which would silently misalign the
  * broadcast offsets. Checkpointed blocks make the partition
  * boundaries a materialized fact, not a replayed promise. The
  * checkpoint is lazy: pass 1's job writes its blocks as it reads
  * them and pass 2 reads those blocks, so pinning costs no job of its
  * own.
  */
object Pack {

  /** Adds `outCol` = exclusive prefix sum of `valueCol` (a
    * NON-NULLABLE LONG column — a null value row fails fast) over the
    * total order `order` — row i gets the sum of all earlier rows'
    * values, first row 0. */
  def exclusivePrefixSum(df: DataFrame, order: Seq[Column],
                         valueCol: String, outCol: String): DataFrame = {
    require(df.schema(valueCol).dataType == LongType,
      s"exclusivePrefixSum: value column '$valueCol' must be LongType, " +
        s"got ${df.schema(valueCol).dataType.simpleString} — cast it first")
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .localCheckpoint(eager = false) // pass 1 materializes, pass 2 reuses
    val vIdx = sorted.schema.fieldIndex(valueCol)
    // pass 1: one partial sum per partition — P longs to the driver
    val partials = sorted.rdd
      .mapPartitionsWithIndex { case (pid, it) =>
        var s = 0L
        it.foreach { r =>
          require(!r.isNullAt(vIdx),
            s"exclusivePrefixSum: null in value column '$valueCol'")
          s += r.getLong(vIdx)
        }
        Iterator.single(pid -> s)
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(partials.scanLeft(0L)(_ + _))
    // pass 2: partition-local scan seeded with the broadcast offset
    val schema = StructType(
      sorted.schema.fields :+ StructField(outCol, LongType, nullable = false))
    val rows = sorted.rdd.mapPartitionsWithIndex { case (pid, it) =>
      var s = offsets.value(pid)
      it.map { r =>
        val out = Row.fromSeq(r.toSeq :+ s)
        s += r.getLong(vIdx)
        out
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Keyed variant: `outCol` = exclusive prefix sum of `valueCol`
    * WITHIN each `keys` group, rows ordered by `order` inside the
    * group. The scalable replacement for
    * `sum() OVER (PARTITION BY keys ORDER BY …)` when key groups are
    * huge and keys are few (domains, languages, sources): the
    * partition-by window sends EVERY row of a group through one
    * reducer's sort; this range-partitions by (keys, order) so a group
    * spans many partitions, then runs the same two-phase offset scan
    * per key. The driver sees one (key, sum) pair per key-run per
    * partition — order P + K entries, never rows — so it stays tiny
    * exactly when the window would be at its worst (few keys, huge
    * groups). For high-cardinality keys use the plain window: groups
    * then fit inside partitions and the window is already parallel. */
  def keyedExclusivePrefixSum(df: DataFrame, keys: Seq[String],
                              order: Seq[Column], valueCol: String,
                              outCol: String): DataFrame = {
    require(df.schema(valueCol).dataType == LongType,
      s"keyedExclusivePrefixSum: value column '$valueCol' must be LongType, " +
        s"got ${df.schema(valueCol).dataType.simpleString} — cast it first")
    // key runs are detected with JVM == and looked up as map keys:
    // Array[Byte] compares by reference there, so a binary key column
    // would silently misalign offsets — reject rather than corrupt
    keys.foreach { k =>
      require(df.schema(k).dataType != org.apache.spark.sql.types.BinaryType,
        s"keyedExclusivePrefixSum: binary key column '$k' unsupported " +
          "(JVM array equality is by reference) — hex-encode or hash it first")
    }
    val spark = df.sparkSession
    val part = keys.map(df.col) ++ order
    val sorted = df.repartitionByRange(part: _*)
      .sortWithinPartitions(part: _*)
      .localCheckpoint(eager = false) // pass 1 materializes, pass 2 reuses
    val vIdx = sorted.schema.fieldIndex(valueCol)
    val kIdx = keys.map(sorted.schema.fieldIndex)
    def keyOf(r: Row): List[Any] = kIdx.map(r.get).toList
    // pass 1: one (key, partial sum) per key-run per partition; rows
    // are sorted by key inside the partition so each key appears once
    val partials = sorted.rdd
      .mapPartitionsWithIndex { case (pid, it) =>
        val runs = scala.collection.mutable.ArrayBuffer.empty[(List[Any], Long)]
        var cur: List[Any] = null
        var s = 0L
        var open = false
        it.foreach { r =>
          require(!r.isNullAt(vIdx),
            s"keyedExclusivePrefixSum: null in value column '$valueCol'")
          val k = keyOf(r)
          if (!open || k != cur) {
            if (open) runs += ((cur, s))
            cur = k; s = 0L; open = true
          }
          s += r.getLong(vIdx)
        }
        if (open) runs += ((cur, s))
        runs.iterator.map { case (k, v) => (pid, k, v) }
      }
      .collect()
    // per key: exclusive scan across partitions in pid order
    val offsetMap: Map[(Int, List[Any]), Long] = partials
      .groupBy(_._2)
      .flatMap { case (k, runs) =>
        val sortedRuns = runs.sortBy(_._1)
        sortedRuns.map(_._1).zip(
          sortedRuns.map(_._3).scanLeft(0L)(_ + _))
          .map { case (pid, off) => (pid, k) -> off }
      }
    val offsets = spark.sparkContext.broadcast(offsetMap)
    // pass 2: partition-local scan, counter re-seeded at each key run
    val schema = StructType(
      sorted.schema.fields :+ StructField(outCol, LongType, nullable = false))
    val rows = sorted.rdd.mapPartitionsWithIndex { case (pid, it) =>
      var cur: List[Any] = null
      var open = false
      var s = 0L
      it.map { r =>
        val k = keyOf(r)
        if (!open || k != cur) {
          cur = k; open = true
          s = offsets.value((pid, k))
        }
        val out = Row.fromSeq(r.toSeq :+ s)
        s += r.getLong(vIdx)
        out
      }
    }
    spark.createDataFrame(rows, schema)
  }
}
