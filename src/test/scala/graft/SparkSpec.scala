package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. One session per suite class
  * (getOrCreate reuses the same backing context across suites, so the
  * whole `sbt test` run pays JVM+context startup once). The compiled-code
  * cache, the local filesystem and artifact isolation are set as
  * [[graft.GraftSession]] sets them: Spark reads the cache size and
  * Hadoop builds its `file:` FileSystem once per JVM, and a
  * `newSession()` and its clones take their confs from the context, so
  * the specs run under the engine's settings. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries)
    .config(GraftSession.LocalFileSystems)
    .config(GraftSession.NoArtifactIsolation)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }

  private var savedOptimizations: Option[Seq[Rule[LogicalPlan]]] = None

  /** Appends `rule` to the shared session's extra optimizer rules for
    * this suite only: afterAll restores the list it found, so the rule
    * never fires in a later suite of the same JVM. */
  protected def addOptimizerRule(rule: Rule[LogicalPlan]): Unit = {
    val current = spark.experimental.extraOptimizations
    if (savedOptimizations.isEmpty) savedOptimizations = Some(current)
    if (!current.contains(rule))
      spark.experimental.extraOptimizations = current :+ rule
  }

  private var savedStrategies: Option[Seq[org.apache.spark.sql.execution.SparkStrategy]] = None

  /** Appends `strategy` to the shared session's extra planner
    * strategies for this suite only, restored like [[addOptimizerRule]]. */
  protected def addStrategy(strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val current = spark.experimental.extraStrategies
    if (savedStrategies.isEmpty) savedStrategies = Some(current)
    if (!current.contains(strategy))
      spark.experimental.extraStrategies = current :+ strategy
  }

  override def afterAll(): Unit =
    try {
      savedOptimizations.foreach(spark.experimental.extraOptimizations = _)
      savedStrategies.foreach(spark.experimental.extraStrategies = _)
    } finally {
      savedOptimizations = None
      savedStrategies = None
      super.afterAll()
    }

  /** Runs `body` with `s` active on the calling thread (code that
    * reads `SQLConf.get` outside a query sees its conf) and the given
    * confs set; the previous active session and conf values (or unset
    * state) are restored afterwards. */
  def withConf[T](s: SparkSession, kv: (String, String)*)(body: => T): T = {
    val prevActive = SparkSession.getActiveSession
    SparkSession.setActiveSession(s)
    val prev = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally {
      prev.foreach { case (k, vo) =>
        vo.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      prevActive.fold(SparkSession.clearActiveSession())(
        SparkSession.setActiveSession)
    }
  }

  /** Runs `body` and returns its result with the number of Spark jobs
    * started meanwhile, on any thread. Marker jobs before and after it,
    * tagged by a local property that `body`'s own jobs never carry,
    * delimit its jobs in the listener's event order. */
  def jobsStarted[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.spec.marker"
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties).flatMap(p => Option(p.getProperty(key))).getOrElse(""))
    }
    def marker(tag: String): Unit = {
      sc.setLocalProperty(key, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      marker("begin")
      val out = body
      marker("end")
      def next() = starts.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      var t = next()
      while (t != null && t != "begin") t = next()
      assert(t == "begin", "the listener never saw the begin marker")
      var n = 0
      t = next()
      while (t != null && t != "end") { n += 1; t = next() }
      assert(t == "end", "the listener never saw the end marker")
      (out, n)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` and returns its result with the number of generated
    * classes the JVM compiled meanwhile: Spark's codegen cache misses,
    * counted by its compilation-time histogram. */
  def classesCompiled[T](body: => T): (T, Long) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** A session built like [[graft.GraftSession]]'s (its configs plus
    * [[graft.functions.GraftExtensions]]), shared by the suite. */
  lazy val graftSpark: SparkSession = newGraftSession()

  /** A new session built like [[graft.GraftSession]]'s.
    * `spark.sql.extensions` is a static conf the shared context already
    * fixed, so the extensions go through the programmatic hook; the
    * plain suite session is restored as default so sibling suites are
    * unaffected. */
  def newGraftSession(): SparkSession = {
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
