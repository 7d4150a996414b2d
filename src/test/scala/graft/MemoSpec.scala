package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The invalidation contract of the shared-intermediate memo, pinned
  * once for every caller: one build per key within a pass, a rebuild
  * after clearCache, one build under concurrent callers, and release()
  * freeing everything registered. */
class MemoSpec extends SparkSpec {

  private val builds = new AtomicInteger()

  private def frame(key: String, n: Long): DataFrame =
    Memo(spark, s"memo-spec:$key") {
      builds.incrementAndGet()
      Memo.persist(spark.range(n).toDF("x"))
    }

  test("within a pass the same instance is served and built once") {
    builds.set(0)
    val a = frame("pass", 11)
    assert(frame("pass", 11) eq a)
    assert(builds.get === 1)
  }

  test("after clearCache the next caller rebuilds: new instance, equal contents") {
    builds.set(0)
    val a = frame("clear", 12)
    val before = a.collect().toSeq
    spark.catalog.clearCache()
    val b = frame("clear", 12)
    assert(!(b eq a))
    assert(builds.get === 2)
    assert(b.storageLevel != StorageLevel.NONE)
    assert(b.collect().toSeq === before)
  }

  test("concurrent callers on one key share a single build") {
    builds.set(0)
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    try {
      val call: Callable[DataFrame] = () => {
        start.await()
        Memo(spark, "memo-spec:concurrent") {
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build open while the others arrive
          Memo.persist(spark.range(13).toDF("x"))
        }
      }
      val futures = (1 to 4).map(_ => pool.submit(call))
      start.countDown()
      val got = futures.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get === 1)
      assert(got.forall(_ eq got.head))
    } finally pool.shutdown()
  }

  test("release() unpersists every registered frame and forgets keyed values") {
    builds.set(0)
    val keyed = frame("release", 14)
    val loose = Memo.persist(spark.range(15).toDF("x"))
    Seq(keyed, loose).foreach(df => assert(df.storageLevel != StorageLevel.NONE))
    Memo.release()
    Seq(keyed, loose).foreach(df => assert(df.storageLevel === StorageLevel.NONE))
    assert(!(frame("release", 14) eq keyed))
    assert(builds.get === 2)
  }

  test("StarGate's star build is rebuilt after clearCache with identical row counts") {
    def counts = queries.Registry.queries("p00_star_build")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val first = queries.StarGate.star(spark, sfDir)
    val before = counts
    assert(queries.StarGate.star(spark, sfDir) eq first)
    spark.catalog.clearCache()
    val second = queries.StarGate.star(spark, sfDir)
    assert(!(second eq first))
    assert(counts === before)
  }
}
