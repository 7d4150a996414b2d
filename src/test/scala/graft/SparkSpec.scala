package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. One session per suite class
  * (getOrCreate reuses the same backing context across suites, so the
  * whole `sbt test` run pays JVM+context startup once). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }

  /** A session built like [[graft.GraftSession]]'s (its configs plus
    * [[graft.functions.GraftExtensions]]). `spark.sql.extensions` is a
    * static conf the shared context already fixed, so the extensions go
    * through the programmatic hook; the plain suite session is restored
    * as default so sibling suites are unaffected. */
  lazy val graftSpark: SparkSession = {
    val plain = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.GraftSession.builder(4, "local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions().apply(_))
      .getOrCreate()
    SparkSession.setDefaultSession(plain)
    SparkSession.setActiveSession(plain)
    s
  }

  /** sf0.001 testdata — smoke-scale inputs for integration specs. */
  val sfDir = "/root/testdata/sf0.001"
}
