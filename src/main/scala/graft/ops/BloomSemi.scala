package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

/** Bloom-prefiltered semi join — the 100 TB shuffle-reduction pattern
  * for `probe SEMI JOIN build` when the probe side is huge and the
  * build side's key set is too big to broadcast as a hash table but
  * compresses to a few KB of bloom bits:
  *
  *  1. build side folds its hashed keys into a `numBits`-wide filter
  *     with Spark's `BloomFilterAggregate` (constant-size buffer,
  *     map-side combined, one row out);
  *  2. the one-row filter enters the probe plan as a scalar subquery
  *     (shipped to every probe task with the plan — staying entirely
  *     inside the query, no driver-side collect, no eager action);
  *  3. probe rows test it with Spark's `BloomFilterMightContain` and
  *     only survivors reach the exact semi join, which removes the
  *     bloom's false positives.
  *
  * The final semi join makes the composite EXACTLY equal to the plain
  * semi join — the bloom only shrinks the rows entering the shuffle
  * (by ~(1-fp) of the non-matching probe volume), never the result.
  * This is the same expression pair Spark's own
  * `spark.sql.optimizer.runtime.bloomFilter` injects, but explicit:
  * the runtime rule gates on column statistics that a fresh parquet
  * scan lacks (measured: it never fired on our data), so
  * a pipeline author needs the deterministic spelling.
  *
  * Hashing: both sides feed `xxhash64(key)` to the filter, so keys of
  * any type map to the `bigint` Spark's bloom accepts. NULL keys hash
  * like any value and are then dropped by the exact semi join's
  * null-rejecting equi-condition.
  */
object BloomSemi {

  /** Expected item count at which Spark's bloom filter picks `k` hash
    * functions for `numBits` bits (its optimum is
    * round(numBits / n · ln 2)). */
  private def numItems(numBits: Int, k: Int): Long =
    math.max(1L, math.round(numBits * math.log(2) / k))

  /** One-row DataFrame holding the serialized bloom filter (`bloom`,
    * binary; NULL for an empty build side) of `key` over `build`. */
  def buildBits(build: DataFrame, key: Column, numBits: Int, k: Int): DataFrame =
    build.select(GraftBridge.column(new BloomFilterAggregate(
      GraftBridge.expr(xxhash64(key)), Literal(numItems(numBits, k)),
      Literal(numBits.toLong)).toAggregateExpression()).as("bloom"))

  /** `might_contain(bloom, xxhash64(key))` — true for every key the
    * build side holds and for a false-positive fraction of the rest,
    * NULL when the build side was empty.
    *
    * The filter enters the plan as a SCALAR SUBQUERY inside a plain
    * `filter`, not as a broadcast join: a join carrying the test as
    * its condition is subject to join reordering, and Catalyst will
    * happily float the selective exact semi join BELOW it — leaving
    * the bloom to run on the semi join's OUTPUT, pruning nothing
    * (observed: composite shuffle ≈ plain shuffle). A Filter node can
    * never be reordered with a join it sits under, so the test stays
    * glued to the probe scan — the same spelling Spark's own
    * InjectRuntimeFilter uses for its runtime bloom. */
  private def passExpr(key: Column, bloom: DataFrame): Column =
    GraftBridge.column(BloomFilterMightContain(
      GraftBridge.expr(bloom.select(col("bloom")).scalar()),
      GraftBridge.expr(xxhash64(key))))

  /** `probe` rows whose `key` passes the bloom membership test — a
    * superset of the true semi-join survivors (false positives pass,
    * false negatives are impossible). */
  def prefilter(probe: DataFrame, key: Column, bloom: DataFrame): DataFrame =
    probe.filter(passExpr(key, bloom))

  /** The full composite: bloom-prefiltered exact semi join of `probe`
    * against `build` on `probeKey == buildKey`. Result is identical
    * to `probe.join(build, probeKey === buildKey, "left_semi")`. */
  def semiJoin(probe: DataFrame, probeKey: Column,
      build: DataFrame, buildKey: Column,
      numBits: Int = 1 << 16, k: Int = 3): DataFrame = {
    prefilter(probe, probeKey, buildBits(build, buildKey, numBits, k))
      .join(build, probeKey === buildKey, "left_semi")
  }

  /** Bloom-prefiltered exact ANTI join — the incremental-dedup shape:
    * `probe` rows NOT matched in `build`. The bloom's no-false-negative
    * guarantee flips the economics vs [[semiJoin]]: a probe row that
    * FAILS the bloom is definitely absent from the build side and is
    * kept WITHOUT ever entering the join shuffle — on an incremental
    * crawl where most incoming keys are genuinely new, the bulk of the
    * probe volume short-circuits and only maybe-duplicates (true
    * matches + the fp rate) shuffle into the exact anti join. Result
    * is identical to the plain left_anti join: NULL probe keys hash
    * like any value and the exact anti join keeps them, and an empty
    * build side (a NULL filter) routes every probe row to the
    * definitely-new branch via the null-safe complement.
    *
    * PRECONDITION: `probe` must be deterministic. The two branches
    * scan it through complementary filters, so a non-deterministic
    * lineage (rand(), sample, shuffle-order-dependent first()) could
    * evaluate differently per branch — a row landing in both or
    * neither. `localCheckpoint` such a probe first (the Pack.scala
    * discipline); it is not done here because pinning a 100 TB probe
    * by default would materialize the very volume this op exists to
    * avoid shuffling. */
  def antiJoin(probe: DataFrame, probeKey: Column,
      build: DataFrame, buildKey: Column,
      numBits: Int = 1 << 16, k: Int = 3): DataFrame = {
    val pass = passExpr(probeKey, buildBits(build, buildKey, numBits, k))
    val maybeDup = probe.filter(pass)
      .join(build, probeKey === buildKey, "left_anti")
    val definitelyNew = probe.filter(coalesce(!pass, lit(true)))
    maybeDup.unionByName(definitelyNew)
  }
}
