package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Stateful streaming sessionization driven batch-by-batch through
  * MemoryStream: sessions close on gap or on event-time timeout once
  * the watermark passes. */
class StreamsSpec extends SparkSpec {
  import Streams._

  // offset well past the epoch: rows AT the initial watermark (0) are
  // filtered as late by stateful operators
  private val base = 1700000000000L
  private def ts(minute: Int) = new Timestamp(base + minute * 60000L)

  private def runBatches(batches: Seq[Seq[Ev]]): Seq[Session] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val out = sessionize(input.toDS(), gapMinutes = 30)
    val name = s"sess_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).as[Session].collect().toSeq
  }

  test("closed-window monitors: emit exactly once on watermark close, state evicted") {
    // the st21–st24 mechanism in isolation (the registry runs them as
    // one AvailableNow replay; here micro-batches drive the watermark
    // so emission timing and STATE SIZE are observable): an hourly
    // sketch aggregate in Append mode emits a window the batch after
    // the watermark passes its end, exactly once, and the state-store
    // row count drops back to the OPEN windows only — emission is
    // eviction, state is bounded by the horizon however long the
    // stream runs.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, Timestamp)]
    val agg = input.toDS().toDF("user_id", "ets")
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
          .as("approx_users"))
    val name = s"cwm_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    def stateRows: Long = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    try {
      // hour-0 events: window [0,60) open, nothing decidable yet
      input.addData(Seq((1L, ts(0)), (2L, ts(10)), (1L, ts(20))))
      q.processAllAvailable()
      assert(spark.table(name).count() === 0, "no window closed yet")
      // hour-3 event: watermark → minute 120, window [0,60) closes and
      // EMITS; its state is dropped — only [180,240) stays open
      input.addData(Seq((3L, ts(185))))
      q.processAllAvailable()
      val emitted = spark.table(name)
        .select(col("w.start"), col("n_events"), col("approx_users")).collect()
      assert(emitted.length === 1, s"exactly one closed window: ${emitted.toSeq}")
      assert(emitted.head.getLong(1) === 3L)
      assert(emitted.head.getLong(2) === 2L, "HLL estimate of 2 distinct users")
      assert(stateRows === 1L,
        s"state must hold only the open window after eviction, got $stateRows")
      // replaying MORE hour-3 data must not re-emit the closed window
      input.addData(Seq((4L, ts(190))))
      q.processAllAvailable()
      assert(spark.table(name).count() === 1, "closed windows never re-emit")
    } finally q.stop()
  }

  test("windowed near-dup: same-window twins collapse to min id, horizon-bounded state") {
    // st24's shape in isolation: (fingerprint, window) min-id dedup in
    // Append mode — a near-dup pair inside one window emits ONE row
    // with the original as canonical; the same fingerprint in a later
    // window contends ONLY within its own window (fresh canonical),
    // and closed-window state is gone.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, String, Timestamp)]
    val agg = input.toDS().toDF("doc_id", "fp", "ets")
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour").as("w"), col("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"))
    val name = s"ndw_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    def stateRows: Long = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    try {
      input.addData(Seq((7L, "fpA", ts(5)), (1000000007L, "fpA", ts(5)),
        (9L, "fpB", ts(6))))
      q.processAllAvailable()
      // hour-3 re-occurrence of fpA: a NEW window — prior survivors are
      // not contendable beyond the horizon
      input.addData(Seq((42L, "fpA", ts(185))))
      q.processAllAvailable()
      val rows = spark.table(name)
        .select(col("fp"), col("canonical_id"), col("n_docs")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(rows.toSeq === Seq(("fpA", 7L, 2L), ("fpB", 9L, 1L)),
        s"window-0 verdicts: twin collapsed onto 7, got ${rows.toSeq}")
      assert(stateRows === 1L,
        s"only the open hour-3 (fpA) state survives, got $stateRows")
    } finally q.stop()
  }

  test("a gap inside one batch closes the earlier session immediately") {
    val out = runBatches(Seq(Seq(
      Ev(1, ts(0)), Ev(1, ts(10)), Ev(1, ts(100)) // 90-min gap → close [0,10]
    )))
    assert(out.map(s => (s.user_id, s.session_start, s.session_end, s.n_events)) ===
      Seq((1L, ts(0), ts(10), 2)))
  }

  test("watermark passing last+gap times out the open session") {
    val out = runBatches(Seq(
      Seq(Ev(1, ts(0)), Ev(1, ts(10))),
      // other-user event at t=120 pushes watermark to 110 (10-min delay),
      // past user 1's timeout at 10+30=40 → session [0,10] emitted
      Seq(Ev(2, ts(120)))
    ))
    assert(out.map(s => (s.user_id, (s.session_start.getTime - base) / 60000, s.n_events)) ===
      Seq((1L, 0L, 2)))
  }

  test("events within the gap extend the open session across batches") {
    val out = runBatches(Seq(
      Seq(Ev(1, ts(0))),
      Seq(Ev(1, ts(20)), Ev(1, ts(40))), // gaps 20 min — same session
      Seq(Ev(2, ts(300)))                // watermark → times user 1 out
    ))
    assert(out.map(s => (s.user_id, s.session_start, s.session_end, s.n_events)) ===
      Seq((1L, ts(0), ts(40), 3)))
  }

  test("streaming dedup within watermark drops replayed events (exactly-once repair)") {
    // the streaming twin of d01 exact dedup: duplicate deliveries of
    // the same event id within the watermark horizon are suppressed,
    // state evicted beyond it — O(window) state, not O(stream)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = input.toDS().toDF("event_id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val name = s"dedup_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = deduped.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq((1L, ts(1)), (2L, ts(2))));  q.processAllAvailable()
      input.addData(Seq((1L, ts(3)), (3L, ts(4))));  q.processAllAvailable() // 1 is a dup
      input.addData(Seq((4L, ts(60))));              q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table(name).select("event_id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("stream-stream interval join matches clicks to impressions with bounded state") {
    // clicks join impressions within [imp_ts, imp_ts + 10 min]; both
    // sides watermarked so join state is evicted past the horizon
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val imps = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val i = imps.toDS().toDF("ad_id", "imp_ts").withWatermark("imp_ts", "5 minutes")
    val c = clicks.toDS().toDF("c_ad_id", "click_ts").withWatermark("click_ts", "5 minutes")
    val joined = i.join(c,
      org.apache.spark.sql.functions.expr(
        "ad_id = c_ad_id AND click_ts >= imp_ts AND click_ts <= imp_ts + INTERVAL 10 MINUTES"))
    val name = s"ssj_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      imps.addData(Seq((1L, ts(0)), (2L, ts(0))));   q.processAllAvailable()
      clicks.addData(Seq((1L, ts(5)), (2L, ts(30)))); q.processAllAvailable() // ad 2 too late
    } finally q.stop()
    val matched = spark.table(name).select("ad_id").as[Long].collect().toSeq
    assert(matched === Seq(1L)) // only the in-window click joins
  }

  test("streaming dedup: cross-batch duplicates suppressed, expired keys re-emit") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = input.toDS().toDF("k", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("k"))
    val name = s"sdd_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = deduped.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq((1L, ts(0)), (1L, ts(1)), (2L, ts(0)))) // in-batch dup of 1
      q.processAllAvailable()
      input.addData(Seq((1L, ts(5)))) // cross-batch dup, within watermark
      q.processAllAvailable()
      // watermark jumps far past key 1's expiry (10-min delay on t=120
      // → wm 110 > 0+10); a later occurrence is a NEW first-seen
      input.addData(Seq((3L, ts(120))))
      q.processAllAvailable()
      input.addData(Seq((1L, ts(125))))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).select(col("k")).as[Long].collect().toSeq
    // 1 and 2 once from batch 1, 3 once, then 1 again after state expiry
    assert(out.sorted === Seq(1L, 1L, 2L, 3L))
  }

  test("corpusIngest equals the batch quality-gate + distinct formulation") {
    import org.apache.spark.sql.functions._
    val got = corpusIngest(spark, s"$sfDir/documents.parquet")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val both = docs.unionAll(docs.select(
      (col("doc_id") + 1000000000L).as("doc_id"), col("lang"), col("text")))
    val expect = both
      .filter(size(split(lower(trim(col("text"))), "\\s+")) >= 32)
      .select(col("lang"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
      .distinct()
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect)
    // the twin collapse means every surviving fingerprint counted ONCE:
    // survivors are at most the per-lang distinct original docs
    val origPerLang = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, n) <- got) assert(n <= origPerLang(lang))
  }

  test("tokenBudget survives a full cache drop and conserves corpus totals") {
    import org.apache.spark.sql.functions._
    def run() = graft.queries.Streaming.st19.build(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val first = run()
    // the stream's segmentation dim IS t23's persisted vocab, shared
    // across sessions on the context cache — dropping every persisted
    // dataset (the bench's between-pass state) must retrain and
    // reproduce the identical report, not fail or drift
    spark.catalog.clearCache()
    assert(run() === first)
    // conservation: the hourly report partitions the corpus exactly —
    // doc and word totals across windows equal the batch counts
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(first.map(_._2).sum === docs.count())
    val nWords = docs.select(
        size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("n"))
      .agg(sum(col("n"))).head().getLong(0)
    assert(first.map(_._3).sum === nWords)
    // BPE merging never splits: token count per word is in [1, word len]
    assert(first.map(_._4).sum <= docs.select(
      length(regexp_replace(lower(trim(col("text"))), "\\s+", ""))
        .cast("long").as("c")).agg(sum(col("c"))).head().getLong(0))
    assert(first.map(_._4).sum >= nWords)
  }

  test("incrementalLoad converges the warehouse table to the batch aggregation") {
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files.createTempDirectory("graft-swh").toString
    val table = Streams.incrementalLoad(spark, s"$sfDir/events.parquet", wh)
    def loaded = spark.read.parquet(s"$wh/$table")
    val batch = graft.Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    assert(loaded.count() === batch.count())
    assert(loaded.selectExpr("sum(n_events)").collect()(0).getLong(0) === 1000L)
    // re-running the stream over the same source is idempotent
    Streams.incrementalLoad(spark, s"$sfDir/events.parquet", wh)
    assert(loaded.count() === batch.count())
    assert(loaded.selectExpr("sum(n_events)").collect()(0).getLong(0) === 1000L)
  }

  test("streaming hourlyTypeCounts equals the batch aggregation (events table)") {
    val streamed = hourlyTypeCounts(spark, s"$sfDir/events.parquet", OutputMode.Complete())
    val expected = graft.Tables.events(spark, sfDir)
      .groupBy(org.apache.spark.sql.functions.date_trunc("hour",
        org.apache.spark.sql.functions.col("ts")).as("window_start"),
        org.apache.spark.sql.functions.col("event_type"))
      .count()
    assert(streamed.count() === expected.count())
    assert(streamed.selectExpr("sum(n_events)").collect()(0).getLong(0) === 1000L)
  }

  test("a checkpoint root switched to disk mid-JVM is not kept by a reused session") {
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt-root")
    val prev = sys.props.get("graft.stream.ckpt")
    def replay(): Unit =
      assert(hourlyTypeCounts(spark, s"$sfDir/events.parquet", OutputMode.Complete())
        .selectExpr("sum(n_events)").collect()(0).getLong(0) === 1000L)
    try {
      sys.props("graft.stream.ckpt") = root.toString
      replay()
      assert(root.toFile.list().isEmpty, "the replay's checkpoint outlived it")
      // same session from the cache; its checkpoint dir must not come back
      sys.props("graft.stream.ckpt") = "disk"
      replay()
      assert(root.toFile.list().isEmpty,
        s"disk replay wrote under the old root: ${root.toFile.list().mkString(",")}")
    } finally prev match {
      case Some(p) => sys.props("graft.stream.ckpt") = p
      case None => sys.props -= "graft.stream.ckpt"
    }
  }

  test("every memory-sink replay deletes its checkpoint when it finishes") {
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt-root")
    val prev = sys.props.get("graft.stream.ckpt")
    val events = s"$sfDir/events.parquet"
    val docs = s"$sfDir/documents.parquet"
    try {
      sys.props("graft.stream.ckpt") = root.toString
      val modes = Seq(OutputMode.Complete(), OutputMode.Append())
      val replays: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
        modes.flatMap { m =>
          Seq(
            s"hourlyTypeCounts $m" -> (() => hourlyTypeCounts(spark, events, m)),
            s"hourlyDistinctUsers $m" -> (() => hourlyDistinctUsers(spark, events, m)),
            s"hourlyValueQuantiles $m" -> (() => hourlyValueQuantiles(spark, events, m)),
            s"hourlyTrending $m" -> (() => hourlyTrending(spark, events, m)),
            s"segmentHourlyRevenue $m" ->
              (() => segmentHourlyRevenue(spark, events, sfDir, m)))
        } ++ Seq(
          "distinctKeyDays" -> (() => distinctKeyDays(spark, events)),
          "attributionPairs" -> (() => attributionPairs(spark, events)),
          "attributionSemi" -> (() => attributionSemi(spark, events)),
          "attributionOuter" -> (() => attributionOuter(spark, events)),
          "attributionFull" -> (() => attributionFull(spark, events)),
          "typeCountsTws" -> (() => typeCountsTws(spark, events)),
          "corpusIngest" -> (() => corpusIngest(spark, docs)),
          "nearDupFilter" -> (() => nearDupFilter(spark, docs)),
          "nearDupWindowed" -> (() => nearDupWindowed(spark, docs)),
          // the token-budget monitors load their frozen tokenizer
          // through the registry builders
          "tokenBudget" -> (() => graft.queries.Streaming.st19.build(spark, sfDir)),
          "tokenBudgetClosed" -> (() => graft.queries.Streaming.st20.build(spark, sfDir)))
      for ((name, replay) <- replays) {
        replay().count()
        val left = root.toFile.list()
        assert(left.isEmpty, s"$name left checkpoint dirs: ${left.mkString(",")}")
      }
    } finally prev match {
      case Some(p) => sys.props("graft.stream.ckpt") = p
      case None => sys.props -= "graft.stream.ckpt"
    }
  }

  test("stream-stream join buffers BOTH sides across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val clicksIn = MemoryStream[(Long, Timestamp)]
    val purchIn = MemoryStream[(Long, Timestamp)]
    val clicks = clicksIn.toDS().toDF("c_user", "c_ets")
      .withWatermark("c_ets", "10 minutes")
    val purchases = purchIn.toDS().toDF("p_user", "p_ets")
      .withWatermark("p_ets", "10 minutes")
    val joined = purchases.join(clicks, expr(
      "p_user = c_user AND c_ets >= p_ets - INTERVAL 30 MINUTES AND c_ets < p_ets"))
    val name = s"ssj_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: a click with no purchase yet, and a purchase with no
      // click yet — each must wait in its own join buffer
      clicksIn.addData(Seq((1L, ts(0))))
      purchIn.addData(Seq((2L, ts(50))))
      q.processAllAvailable()
      // batch 2: the purchase for the buffered click (click 0 ∈
      // [20−30, 20)), the click for the buffered purchase (30 ∈
      // [50−30, 50)), and a click AFTER its purchase (51 ≥ 50) that
      // must not match
      purchIn.addData(Seq((1L, ts(20))))
      clicksIn.addData(Seq((2L, ts(30)), (2L, ts(51))))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name)
      .select(col("p_user"), col("p_ets"), col("c_ets"))
      .as[(Long, Timestamp, Timestamp)].collect().toSeq.sorted
    assert(out === Seq((1L, ts(20), ts(0)), (2L, ts(50), ts(30))))
  }

  test("transformWithState MapState accumulates across batches, emits only touched types") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[TypedEv]
    val out = input.toDS().groupByKey(_.user_id)
      .transformWithState(new TypeCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    val name = s"tws_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update()).start()
    val collected = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, String, Long)]]
    def drain(): Unit = {
      q.processAllAvailable()
      val rows = s.table(name)
        .select(col("user_id"), col("event_type"), col("n_events"))
        .as[(Long, String, Long)].collect().toSeq.sorted
      collected += rows.diff(collected.flatten.toSeq) // new emissions only
    }
    try {
      input.addData(Seq(TypedEv(1, "click"), TypedEv(1, "click"), TypedEv(1, "view")))
      drain()
      // batch 2 touches only "click" for user 1 — "view" must NOT
      // re-emit, and the click count must continue from state (3)
      input.addData(Seq(TypedEv(1, "click"), TypedEv(2, "view")))
      drain()
    } finally q.stop()
    assert(collected(0) === Seq((1L, "click", 2L), (1L, "view", 1L)))
    assert(collected(1) === Seq((1L, "click", 3L), (2L, "view", 1L)))
  }
}
