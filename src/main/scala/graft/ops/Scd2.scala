package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension Type 2: turn a change log into validity
  * intervals. The reference rebuilds every dim from scratch each week
  * (scr/Transform.py:75-142 drops and recreates dim tables), losing
  * history; SCD2 is the standard warehouse answer — each key carries
  * one row per attribute VERSION with `eff_from`/`eff_to` bounds and
  * an `is_current` flag, so point-in-time joins ("which team did the
  * player belong to at match date X") stay expressible.
  *
  * Plan shape: ONE hash shuffle on the key, then two window passes
  * over the same (key, ts) sort — Catalyst reuses the exchange, so
  * version suppression (lag) and interval closing (lead) cost one
  * shuffle total. State per key is a sort run, not a buffer: no
  * aggregation holds more than a row, so a 100 TB change log with a
  * billion keys streams through at shuffle speed. Skewed keys are
  * bounded by their own change count, not the table size.
  */
object Scd2 {

  /** Build the version history of `attrs` per `keys` from a change
    * log ordered by `ts` (plus `tie` for a total order on same-ts
    * changes — REQUIRED for determinism; pass a unique id).
    *
    * Consecutive changes with identical `attrs` are suppressed
    * (null-safe struct compare, so NULL attribute values version
    * correctly); each surviving change opens an interval
    * `[eff_from, eff_to)` closed by the next version's `ts`, the
    * latest version per key carrying `eff_to = NULL` /
    * `is_current = true`.
    */
  def history(changes: DataFrame, keys: Seq[String], ts: String,
              tie: String, attrs: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(ts), col(tie))
    val attrStruct = struct(attrs.map(col): _*)
    val versions = changes
      .withColumn("_prev", lag(attrStruct, 1).over(w))
      // first change per key (lag NULL) always opens a version; the
      // null-safe compare keeps NULL-valued attributes versionable
      .filter(col("_prev").isNull || !(col("_prev") <=> attrStruct))
      .drop("_prev")
    versions
      .withColumn("eff_from", col(ts))
      .withColumn("eff_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("eff_to").isNull)
  }

  /** [[history]] row-identical, with SEAM-STITCHED windows — the
    * [[Locf]] discipline applied to SCD2: the naive form sorts each
    * key's ENTIRE change log through one reducer (q40's audited
    * ×1.5-class skew residual), this form sorts W-bounded segments.
    *
    * WHEN TO USE — a measured regime split, not a default (A/B at
    * sf1, 1.5M changes / 150k keys, 20%-hot-key corpus):
    * the stitch pays two boundary aggregates and two carry joins
    * whose row counts are O(keys × populated segments) — FACT-SIZED
    * when keys are many and histories shallow. There the naive
    * window wins decisively (q40: 1.24 s naive vs 5.97 s stitched
    * uniform; ~1.9 s vs 3.53 s hot-key — the hot key's 300k-row sort
    * is cheaper than the stitch overhead). Reach for this form only
    * when a single key's history outgrows one task's sort — deep
    * per-entity change logs (telemetry-grade SCD, billions of
    * changes for one hub entity), where the naive form's straggler
    * is unbounded and the boundary table is corpus/W, tiny. BOTH
    * regimes are measured, not asserted (the committed probe
    * measurement bench_scd2_regime_r12.json):
    * 150k keys × 10 changes → naive 0.86 s vs stitched 3.21 s;
    * 4 keys × 2M changes → naive 7.09 s vs stitched 4.52 s, version
    * counts cross-checked equal inside the probe. The
    * q18-join-reorder posture: available, proven, opt-in on
    * measurement.
    *
    * The insight making SCD2 stitchable where an arbitrary-frame
    * window is not: BOTH of its window functions are offset-1 —
    * `lag(attrs)` for version suppression and `lead(ts)` for interval
    * closing — so exactly ONE row needs to cross each segment seam in
    * each direction. Mechanism:
    *  1. `gid = floor(segOrd / W)` — `segOrd` must be an integral,
    *     order-preserving function of `ts` ALONE (epoch day/second of
    *     the change timestamp). Because gid depends only on ts, an
    *     equal-ts run can never split across segments, so the
    *     composite (ts, tie) sort stays total within segments and
    *     monotone across them.
    *  2. suppression lag runs per (keys…, gid) — reducer sorts are
    *     W-bounded (× the per-ts change rate), not key-volume-bounded;
    *     each segment's FIRST row takes its predecessor from a
    *     boundary table carrying the max-(ts, tie) row's attrs per
    *     populated segment, running-carried over gids (the Locf
    *     carry: a corpus/W-row table, keys-partitioned).
    *  3. interval-closing lead runs over the surviving VERSIONS with
    *     the same segmentation; each segment's LAST version takes
    *     `eff_to` from the carry-BACK of the next populated
    *     version-segment's first ts (Locf.neighbors' reversed-sort
    *     PRECEDING frame — never an UnboundedFollowing re-scan).
    *  4. the carry joins reuse the windows' own hash(keys…, gid)
    *     clustering: the fact pays ONE exchange total, the same count
    *     the naive form pays, with segment-bounded sorts instead of
    *     key-volume-bounded.
    * Scd2Spec proves the two forms row-identical on seam-engineered
    * data (suppressed runs spanning seams, all-suppressed segments,
    * equal-ts boundary groups, single-version keys). */
  def historyStitched(changes: DataFrame, keys: Seq[String], ts: String,
      tie: String, attrs: Seq[String], segOrd: Column,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0,
      s"historyStitched: bucketWidth must be > 0, got $bucketWidth")
    // fail-fast on the checkable contract (the Locf.requireContract
    // discipline): a non-integral segOrd would cast-coerce — a string
    // column casts to NULL per row, collapsing every key into ONE
    // NULL segment and silently degenerating to the per-key sort this
    // form exists to avoid.
    locally {
      import org.apache.spark.sql.types._
      val dt = changes.select(segOrd.as("__so")).schema.head.dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"historyStitched: segOrd must be an integral expression " +
          s"(epoch day/second of the change time), got $dt")
    }
    val keyCols = keys.map(col)
    // exact integral floor-division (Locf.gidCol's arithmetic)
    val seg = changes.withColumn("__so", segOrd.cast("long"))
      .withColumn("__gid",
        expr(s"(__so - pmod(__so, ${bucketWidth}L)) div ${bucketWidth}L"))
      .drop("__so")
    // carry joins must be NULL-SAFE on the key columns: the naive
    // form's window partitioning groups NULL keys like any value, so
    // this form must too — a Seq-based (null-unsafe) equi-join would
    // silently DROP every NULL-keyed change. The right side's join
    // columns are re-aliased first (fresh exprIds), because carry
    // tables derive from the same lineage as the fact side and
    // grouping columns keep their exprIds through an Aggregate.
    def nullSafeJoin(left: DataFrame, right: DataFrame,
        on: Seq[String]): DataFrame = {
      val r = on.foldLeft(right)((df, c) => df.withColumnRenamed(c, s"__r_$c"))
      val cond = on.map(c => left(c) <=> r(s"__r_$c")).reduce(_ && _)
      left.join(r, cond).drop(on.map(c => s"__r_$c"): _*)
    }
    val segKeys = keyCols :+ col("__gid")
    val wIn = Window.partitionBy(segKeys: _*).orderBy(col(ts), col(tie))
    val attrStruct = struct(attrs.map(col): _*)
    // pass 1: suppression lag, seam-filled from the previous populated
    // segment's last row. max over struct(ts, tie, attrs) decides on
    // the unique (ts, tie) prefix, so attr NULLs never enter ordering.
    val within = seg.withColumn("__prev", lag(attrStruct, 1).over(wIn))
    val bounds = seg.groupBy(segKeys: _*)
      .agg(max(struct(col(ts).as("t"), col(tie).as("k"),
        attrStruct.as("a"))).getField("a").as("__b"))
    val wCarry = Window.partitionBy(keyCols: _*).orderBy(col("__gid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = bounds
      .withColumn("__carry", last(col("__b"), ignoreNulls = true).over(wCarry))
      .select(segKeys :+ col("__carry"): _*)
    val versions = nullSafeJoin(within, carry, keys :+ "__gid")
      .withColumn("__prev", coalesce(col("__prev"), col("__carry")))
      .filter(col("__prev").isNull || !(col("__prev") <=> attrStruct))
      .drop("__prev", "__carry")
    // pass 2: interval-closing lead over the versions, seam-filled
    // BACKWARD from the next populated version-segment's first ts
    val vWithin = versions.withColumn("__next", lead(col(ts), 1).over(wIn))
    val vBounds = versions.groupBy(segKeys: _*)
      .agg(min(struct(col(ts).as("t"), col(tie).as("k")))
        .getField("t").as("__first"))
    val wBack = Window.partitionBy(keyCols: _*).orderBy(col("__gid").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val vCarry = vBounds
      .withColumn("__nxt", last(col("__first"), ignoreNulls = true).over(wBack))
      .select(segKeys :+ col("__nxt"): _*)
    nullSafeJoin(vWithin, vCarry, keys :+ "__gid")
      .withColumn("eff_from", col(ts))
      .withColumn("eff_to", coalesce(col("__next"), col("__nxt")))
      .withColumn("is_current", col("eff_to").isNull)
      .drop("__gid", "__next", "__nxt")
  }
}
