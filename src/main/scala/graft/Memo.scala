package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of shared persisted intermediates: the frames several
  * queries of a pass read (the hashed shingle table, the star and
  * purchase-graph builds, q83/q93's octile boundaries, the BPE vocab)
  * and the frames one query reads more than once.
  *
  * One policy for every caller. [[persist]] registers a frame so
  * [[release]] can free it. [[apply]] shares a keyed value within a
  * pass: a hit is served only while every DataFrame in the value is
  * still persisted, so an external `catalog.clearCache()` (Bench, between
  * passes) reads as staleness and the next caller rebuilds from
  * scratch: each timed pass pays its own builds, and only JVM warmth
  * carries over. Entries of a stopped SparkContext are evicted, and at
  * most one build per key runs at a time.
  */
object Memo {

  private final class Slot { var value: AnyRef = _ }

  private val slots = new ConcurrentHashMap[(SparkSession, String), Slot]()
  private val registered = ConcurrentHashMap.newKeySet[DataFrame]()

  /** Persist `df` at MEMORY_AND_DISK and register it for [[release]].
    * Spark's CacheManager dedups by canonical plan, so repeated builds
    * of the same query share one cache entry instead of stacking copies. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    registered.add(p)
    p
  }

  /** The value built for (session, key) earlier in this pass, else a
    * fresh `build`. A value is a DataFrame or a tuple holding some;
    * `build` persists them through [[persist]]. */
  def apply[T <: AnyRef](s: SparkSession, key: String)(build: => T): T = {
    slots.keySet.removeIf(_._1.sparkContext.isStopped)
    val slot = slots.computeIfAbsent((s, key), _ => new Slot)
    slot.synchronized {
      if (slot.value == null || !live(slot.value)) slot.value = build
      slot.value.asInstanceOf[T]
    }
  }

  private def live(v: AnyRef): Boolean = (v match {
    case p: Product => p.productIterator
    case one => Iterator(one)
  }).forall {
    case df: Dataset[_] => df.storageLevel != StorageLevel.NONE
    case _ => true
  }

  /** Unpersist every registered frame and forget every keyed value
    * (end-of-run cleanup: Verify calls this after the query sweep). */
  def release(): Unit = {
    slots.clear()
    registered.forEach(df => { df.unpersist(); () })
    registered.clear()
  }
}
