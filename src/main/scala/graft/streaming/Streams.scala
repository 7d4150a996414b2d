package graft.streaming

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface over the `events` table.
  *
  * The reference is batch-only (SURVEY.md §2.9), so this is the
  * engine's forward-looking streaming entry point: the same event
  * aggregations, expressed as an unbounded plan with watermarks.
  *
  * Scale notes:
  *  - the file source is replayed with Trigger.AvailableNow — identical
  *    code against Kafka in production, only `format` changes;
  *  - tumbling aggregation state is bounded by watermark eviction;
  *  - sessionization keeps ONE small state object per active user key
  *    (flatMapGroupsWithState), evicted by event-time timeout — state
  *    size is O(active users), not O(events).
  */
object Streams {

  /** One symlink dir per source file, reused across invocations so
    * repeated runs (bench warmup+timed, specs, Verify) don't accumulate
    * temp directories. */
  private val srcDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Executed physical plan of the LAST micro-batch of each streaming
    * capability run in this JVM, keyed by builder name. The batch plan
    * gate (RegistrySpec) is blind to streaming by construction — the
    * builders return a materialized sink — so every stream records its
    * final IncrementalExecution here and the gate audits the recording:
    * no unbounded single-partition exchange, state stores partitioned. */
  private val lastPlansMap =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** (builder name → executed-plan string) for every stream this JVM ran. */
  def lastPlans: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    lastPlansMap.asScala.toMap
  }

  /** Blocks until the AvailableNow replay finishes, records the last
    * micro-batch's executed plan under `tag` for the plan gate, and
    * drops the replay's ephemeral checkpoint. */
  private def awaitAndRecord(
      q: org.apache.spark.sql.streaming.StreamingQuery, tag: String): Unit = {
    q.awaitTermination()
    q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        Option(w.streamingQuery.lastExecution)
          .foreach(e => lastPlansMap.put(tag, e.executedPlan.toString))
      case _ => ()
    }
    // only dirs minted by streamSession, identified by exact membership
    q.sparkSession.conf.getOption("spark.sql.streaming.checkpointLocation")
      .filter(ckptDirs.remove(_))
      .foreach(d => graft.TempDirs.deleteRecursively(java.nio.file.Paths.get(d)))
  }

  /** Stateful-shuffle sizing. Batch shuffles get this from AQE
    * (coalescing post-shuffle partitions to a byte target); streaming
    * CANNOT — AQE is disabled for stateful workloads and the state
    * partition count is pinned by the first checkpoint. Worse, every
    * state partition is a live state-store instance (a stream-stream
    * join keeps four per partition), so over-partitioning a small
    * stream pays fixed store overhead ×N: measured on the sf0.1
    * events replay, the interval join runs 10.3s with 32 state
    * partitions and 2.6s with 4 — identical results. So the library
    * sizes state partitions from input bytes at the AQE-like 64 MB
    * target, floored at 4 (keep some parallelism even for tiny
    * replays) and capped at 2048 (state stores per executor, not
    * input bytes, bound the practical count at 100 TB). */
  private def statePartitions(eventsDir: String): Int = {
    val p = java.nio.file.Paths.get(eventsDir.stripPrefix("file:"))
    val bytes =
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum
        finally s.close()
      } else java.nio.file.Files.size(p)
    val target = 64L << 20
    math.min(math.max(((bytes + target - 1) / target).toInt, 4), 2048)
  }

  /** Input schema per events/docs dir — METADATA cached once per JVM:
    * deriving it costs a full DataSource resolution (file listing +
    * footer read + analysis, ~0.1–0.3 s) per stream invocation, and a
    * schema is a property of the input files, not of any query's
    * result. Production engines read this from the catalog once; the
    * files here are immutable testdata. Never caches data or results. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  private def inputSchema(s: SparkSession, dir: String)
      : org.apache.spark.sql.types.StructType =
    schemaCache.computeIfAbsent(dir, _ => s.read.parquet(dir).schema)

  /** The file stream source requires a directory; testdata ships bare
    * parquet files, exposed through a cached temp-dir symlink. */
  private def streamDir(eventsDir: String): String = {
    val p = java.nio.file.Paths.get(eventsDir.stripPrefix("file:"))
    if (java.nio.file.Files.isDirectory(p)) eventsDir
    else srcDirCache.computeIfAbsent(p.toAbsolutePath.toString, { _ =>
      val dir = graft.TempDirs.create("graft-stream")
      java.nio.file.Files.createSymbolicLink(dir.resolve(p.getFileName), p)
      dir.toString
    })
  }

  /** The per-replay session clone every streaming entry point runs
    * on: timezone inherited from the caller, input-size-adaptive state
    * partitions, nanosAsLong for the parquet source, and — when the caller's
    * emission class is arrival-time (`noDataBatch = false`) — the
    * trailing no-data micro-batch skipped.
    *
    * Cloned replay sessions are REUSED across invocations, keyed by
    * every conf the clone pins (parent session, events dir,
    * no-data-batch flag, state-store provider): a fresh `newSession()`
    * per invocation re-bootstraps SessionState — analyzer/optimizer
    * rule instances, conf copy, first-use file-source resolution — a
    * measured ~0.3–0.7 s of the ResolveDataSource analyzer rule alone
    * per stream invocation at sf0.1. The session holds NO query
    * results: the shared CacheManager (cleared by Bench between
    * passes) and the per-invocation checkpoint dir carry all data, so
    * reuse is infrastructure warmth (the JVM-warmth class Bench's
    * warmup pass already embraces), never result caching. */
  private val sessionCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Boolean, String), SparkSession]()

  private def streamSession(spark: SparkSession, dir: String,
      noDataBatch: Boolean, provider: String = ""): SparkSession = {
    sessionCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val s = sessionCache.computeIfAbsent((spark, dir, noDataBatch, provider), { _ =>
      val c = spark.newSession()
      spark.conf.getOption("spark.sql.session.timeZone")
        .foreach(c.conf.set("spark.sql.session.timeZone", _))
      c.conf.set("spark.sql.shuffle.partitions", statePartitions(dir))
      c.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      if (provider.nonEmpty)
        c.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
      if (!noDataBatch)
        c.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      c
    })
    // per-invocation ephemeral checkpoint dir (deleted at stream stop);
    // without a root, a reused session must not keep the previous
    // invocation's (already deleted) dir: Spark's own temp dir applies
    ckptRoot match {
      case Some(root) =>
        val cd = java.nio.file.Files.createTempDirectory(root, "graft-ckpt")
        ckptDirs.add(cd.toString)
        s.conf.set("spark.sql.streaming.checkpointLocation", cd.toString)
      case None =>
        s.conf.unset("spark.sql.streaming.checkpointLocation")
    }
    s
  }

  /** RAM-backed root for the replay's EPHEMERAL checkpoints (offset/
    * commit WAL + state store deltas). The AvailableNow replay's
    * checkpoint is temp by construction — Spark mints it under
    * java.io.tmpdir and force-deletes it at stop; nothing ever
    * restarts from it — yet every micro-batch pays real disk I/O for
    * it (walCommit + commitOffsets ≈ 80–130 ms/batch measured at
    * sf0.1, plus state-store delta files inside addBatch). Placing
    * the SAME ephemeral artifact on tmpfs removes that I/O without
    * touching semantics. A production CONTINUOUS stream needs a
    * durable checkpoint and sets its own `checkpointLocation`
    * explicitly — that contract is untouched (this root only feeds
    * the replay sessions this object clones). SPARK_GRAFT_STREAM_CKPT
    * overrides: `disk` restores Spark's java.io.tmpdir default, any
    * path redirects the root. Each session's dir is deleted right
    * after its query terminates ([[awaitAndRecord]]) — the same
    * lifetime Spark gives its temp checkpoints. */
  private def ckptRoot: Option[java.nio.file.Path] =
    sys.props.get("graft.stream.ckpt")
      .orElse(sys.env.get("SPARK_GRAFT_STREAM_CKPT")) match {
      case Some("disk") => None
      case Some(p) if p.nonEmpty => Some(java.nio.file.Paths.get(p))
      case _ =>
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isWritable(shm)) Some(shm) else None
    }

  /** Checkpoint dirs THIS object created (never delete anything else). */
  private val ckptDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Shared scaffold for every memory-sink replay: a cloned session
    * ([[streamSession]] — the nanos legacy conf never leaks to the
    * caller), the cached input schema, AvailableNow replay of `dir`
    * into a memory sink, and a localCheckpoint'ed (session-independent)
    * result of `finish` over the sink. `build` receives the RAW
    * file-replayed stream (so it can union, re-key, or fabricate its
    * own event time first); `provider` pins a state-store provider on
    * the replay session.
    *
    * `noDataBatch = false` skips the trailing zero-row micro-batch of
    * the AvailableNow replay (`spark.sql.streaming.noDataMicroBatches.
    * enabled`). That batch exists to advance the watermark with no new
    * input — which matters ONLY to operators that EMIT on watermark
    * expiry (outer-join null verdicts, emit-on-window-close aggregates:
    * st15/st16/st17 and the closed monitors keep it). For streams whose
    * emission is ARRIVAL-TIME — dedup pass-through, inner/semi interval
    * joins (a match emits when the row arrives), Update-mode keyed
    * processors with no timers — the no-data batch provably emits
    * nothing (state eviction only, and the replay's state is discarded
    * at stop), yet costs a full addBatch + WAL round: measured 0.3 to
    * 1.4 s per query at sf0.1, ~20-40% of those queries' wall. At any
    * scale that batch is pure overhead for this emission class. */
  private def runRawStream(spark: SparkSession, dir: String,
                           mode: OutputMode, tag: String,
                           noDataBatch: Boolean = true, provider: String = "")
                          (build: DataFrame => DataFrame)
                          (finish: DataFrame => DataFrame): DataFrame = {
    val s = streamSession(spark, dir, noDataBatch, provider)
    val source = s.readStream.schema(inputSchema(s, dir)).parquet(streamDir(dir))
    val name = s"graft_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = build(source).writeStream
      .format("memory").queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q, tag)
    val result = finish(s.table(name)).localCheckpoint(eager = true)
    s.catalog.dropTempView(name)
    result
  }

  /** Watermark-ready event time from the raw `ts`, robust to both
    * physical layouts the testdata has shipped (TIMESTAMP(NANOS) read
    * as a ns-long under nanosAsLong, vs native µs timestamps): both
    * resolve to the same µs-floor instant under the UTC session. */
  private def etsCol(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.Column =
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("CAST(ts AS BIGINT) div 1000"))
      case _ => col("ts").cast("timestamp")
    }

  /** Exact `max(unix_micros(ets))` over the events table, preferring
    * parquet footer statistics (metadata read, unit taken from the
    * column's own timestamp annotation) over a full scan. */
  private def maxEventMicros(s: SparkSession, eventsDir: String): Long = {
    val p = java.nio.file.Paths.get(eventsDir.stripPrefix("file:"))
    graft.Tables.parquetMaxTimestampMicros(s, p.getParent.toString,
        p.getFileName.toString.stripSuffix(".parquet"), "ts")
      .getOrElse(s.read.parquet(eventsDir)
        .select(max(unix_micros(etsCol(inputSchema(s, eventsDir))))).head().getLong(0))
  }

  /** [[runRawStream]] over the events table with the watermark-ready
    * `ets` event-time column added before `build`. Watermarks require
    * TIMESTAMP (not NTZ); with session TZ=UTC the LTZ wall-clock
    * equals the NTZ value, restored by each caller's final cast. */
  private def runStream(spark: SparkSession, eventsDir: String,
                        mode: OutputMode, tag: String,
                        noDataBatch: Boolean = true)
                       (build: DataFrame => DataFrame)
                       (finish: DataFrame => DataFrame): DataFrame =
    runRawStream(spark, eventsDir, mode, tag, noDataBatch)(src => build(src
      .withColumn("ets", etsCol(src.schema))))(finish)

  /** Streaming CORPUS INGEST — the online twin of the batch curation
    * family: documents replayed as a stream, a quality gate (token
    * count ≥ 32, the t01/t02 primitive as a pure streaming
    * projection), then bounded-state near-exact dedup
    * (`dropDuplicatesWithinWatermark` on the d01 whitespace-normalized
    * fingerprint, keyed per language) — state is purged as the
    * watermark passes, the only honest dedup on an unbounded ingest.
    * The corpus has no duplicate texts, so (t12/d08 precedent) the
    * stream self-unions an id-offset twin per document and the dedup
    * provably collapses every pair; per-language fingerprint counts
    * are winner-independent, keeping the oracle exact. Event time is
    * fabricated deterministically from doc_id (testdata has no ingest
    * timestamp; production reads Kafka event time). */
  def corpusIngest(spark: SparkSession, docsDir: String): DataFrame =
    runRawStream(spark, docsDir, OutputMode.Append(), "corpusIngest",
      noDataBatch = false) { raw => // dedup pass-through: arrival-time emission
      val docs = raw.select(col("doc_id"), col("lang"), col("text"))
      val twins = raw.select((col("doc_id") + 1000000000L).as("doc_id"),
        col("lang"), col("text"))
      docs.unionAll(twins)
        .withColumn("ets",
          timestamp_seconds(lit(1600000000L) + pmod(col("doc_id"), lit(86400L))))
        .withWatermark("ets", "25 hours")
        .filter(size(split(lower(trim(col("text"))), "\\s+")) >= 32)
        .withColumn("fp",
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
        .dropDuplicatesWithinWatermark(Seq("lang", "fp"))
        .select(col("lang"), col("fp"))
    } { sink =>
      sink.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    }

  /** Streaming TOKEN-BUDGET MONITOR — the online twin of the batch
    * tokenizer-apply family (t24/t25): a pretraining ingest service
    * tokenizes arriving documents against a FROZEN tokenizer and
    * reports per-hour token throughput (the number every data plan's
    * capacity budget runs on). The frozen artifact is what t23's
    * training ships: the K-row merge table PLUS the segmented vocab
    * (each training word's final symbol array — trained once, parent
    * session, shared with t23/t24). Workers tokenize through the
    * vocab as a word→length dim (persisted on the shared context,
    * auto-broadcast into the stream — the st11 stream-static join
    * shape, ZERO join state and zero merge replay on the steady
    * path), with the rank-order merge fold
    * ([[graft.queries.TextOps.mergeFold]], t25's OOV-correct replay)
    * as the inline lazily-priced fallback for live-OOV words the
    * vocab has never seen. The only streaming state is the hourly
    * window aggregate. Event time is
    * fabricated deterministically from doc_id (st09's discipline);
    * Complete mode keeps the finite-replay oracle exact (st01's
    * rule). Window starts ship as epoch SECONDS (timezone-free in
    * both engines). */
  def tokenBudget(spark: SparkSession, docsDir: String,
      merges: Seq[(Int, String, String, String, Long)],
      vocab: DataFrame): DataFrame =
    tokenBudgetStream(spark, docsDir, merges, vocab, OutputMode.Complete(),
      "tokenBudget", "25 hours",
      // ×977 (prime) spreads dense doc_ids across the fabricated
      // day — the hourly report covers 24 windows at any SF
      timestamp_seconds(lit(1600000000L) + pmod(col("doc_id") * 977, lit(86400L))))

  /** APPEND-MODE token-budget monitor — [[tokenBudget]]'s production
    * graduation, completing the Complete→Append pattern
    * [[hourlyTypeCounts]]'s Append form (st17) established for st01: on an
    * unbounded ingest the budget report must EMIT EACH WINDOW ONCE,
    * when the watermark passes its end and drops its state — emission
    * and eviction one mechanism, so state is bounded by the watermark
    * horizon (one aggregate row per open window) no matter how long
    * the stream runs. Pipeline identical to st19 (frozen vocab as the
    * stream-static broadcast dim, inline rank-order fold only for
    * live-OOV); differences are exactly the production knobs:
    * Append mode, a 1-hour watermark so windows actually close inside
    * the replay, and event times fabricated at +500 ms off the second
    * boundary — the watermark (max − 1 h) then can NEVER tie an
    * hour-aligned window end, making the closed-set rule strict-vs-
    * nonstrict-proof by construction (st17 relied on the corpus max
    * being off-boundary; here it is forced). The gate compares exactly
    * the watermark-decided set: windows with end ≤ max event time −
    * 1 h, the same data-derived rule in both engines; the undecided
    * tail is never emitted in a finite replay and both engines exclude
    * it identically. */
  def tokenBudgetClosed(spark: SparkSession, docsDir: String,
      merges: Seq[(Int, String, String, String, Long)],
      vocab: DataFrame): DataFrame =
    tokenBudgetStream(spark, docsDir, merges, vocab, OutputMode.Append(),
      "tokenBudgetClosed", "1 hour",
      timestamp_millis(lit(1600000000000L)
        + pmod(col("doc_id") * 977, lit(86400L)) * 1000L + lit(500L)))

  /** The token-budget pipeline both monitors share; they differ only
    * in output mode, watermark delay and fabricated event time `ets`
    * (a function of `doc_id`). */
  private def tokenBudgetStream(spark: SparkSession, docsDir: String,
      merges: Seq[(Int, String, String, String, Long)], vocab: DataFrame,
      mode: OutputMode, tag: String, delay: String,
      ets: org.apache.spark.sql.Column): DataFrame =
    runRawStream(spark, docsDir, mode, tag) { raw =>
      val words = split(lower(trim(col("text"))), "\\s+")
      def segLen(w: org.apache.spark.sql.Column) = size(
        graft.queries.TextOps.mergeFoldAll(
          filter(split(w, ""), x => x =!= ""),
          merges.map { case (_, l, r, _, _) => (l, r) }))
      // The segmentation CACHE — how production tokenizer workers
      // amortize merge replay: the frozen artifact already CONTAINS
      // each training word's final segmentation (t23's vocab table,
      // persisted on the shared context, auto-broadcast into the
      // stream — the st11 stream-static shape), so the steady path
      // does ZERO merge replay: one narrow projection over the vocab.
      // The fold-per-OCCURRENCE form measured 17 s at sf0.1 / 105 s
      // at sf1 (~0.2 ms interpreted fold × |words|); a fold-per-
      // DISTINCT-word dim cut that 8x; reusing the trained vocab cuts
      // the remaining fold work to nothing. A word the tokenizer has
      // never seen (live OOV) falls back to the rank-order merge
      // replay inline — coalesce's lazy else-branch prices it only on
      // cache misses (t25's OOV-correct fold, provably what training
      // segmentation would produce).
      val dim = vocab.select(col("word"),
        size(col("syms")).cast("long").as("n_syms"))
      raw.select(col("doc_id"), posexplode(words).as(Seq("pos", "word")))
        .join(dim, Seq("word"), "left")
        .withColumn("n_syms",
          coalesce(col("n_syms"), segLen(col("word")).cast("long")))
        .withColumn("ets", ets)
        .withWatermark("ets", delay)
        .groupBy(window(col("ets"), "1 hour").as("w"))
        .agg(sum(when(col("pos") === 0, 1L).otherwise(0L)).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(col("n_syms")).as("n_bpe_tokens"))
    } { sink =>
      sink.select(col("w.start").cast("long").as("window_start_epoch"),
        col("n_docs"), col("n_words"), col("n_bpe_tokens"))
    }

  /** Streaming NEAR-DUP FILTER with survivor attribution — the online
    * twin of the batch near-dedup family (d03/d08) keyed on t07's
    * winnowing fingerprint: each document's key is its 4 smallest
    * 8-char rolling-window hashes ([[graft.functions.RollingMinHash]],
    * a per-row codegen'd expression — no shuffle to fingerprint),
    * which survives local edits (only windows covering the edit
    * change, and the 4 global minima rarely do) where st09's exact
    * text hash would not. Keyed state per fingerprint is ONE long —
    * the minimum doc_id seen — and every arriving doc is emitted with
    * its CANONICAL survivor id, so downstream gets the d07-style
    * cluster attribution (who absorbed me), not just a drop.
    *
    * The corpus has no natural near-dups, so (d08 perturbed-twin
    * precedent) the stream self-unions an id-offset twin of every doc
    * with a SUFFIX APPENDED — a true near-dup, different text, same
    * winnowing fingerprint unless one of the ~25 new/boundary windows
    * hashes below the current 4th minimum. Most twins therefore
    * collapse onto their original (canonical = original id); the few
    * whose fingerprint shifted survive — both outcomes deterministic,
    * replayed exactly by the oracle.
    *
    * State at 100 TB: one long per distinct fingerprint. On an
    * unbounded ingest this needs an eviction horizon — the production
    * form adds event-time timeout like [[sessionize]] (dedup within a
    * watermark window, st09's discipline); the finite replay keeps
    * NoTimeout so the oracle can replay the full-history semantics. */
  def nearDupFilter(spark: SparkSession, docsDir: String): DataFrame =
    runRawStream(spark, docsDir, OutputMode.Update(), "nearDupFilter",
      noDataBatch = false) { raw => // NoTimeout keyed state: arrival-time emission
      import raw.sparkSession.implicits._
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      val twins = raw.select((col("doc_id") + 1000000000L).as("doc_id"),
        concat(col("text"), lit(" near dup twin suffix")).as("text"))
      val fps = raw.select(col("doc_id"), col("text")).unionAll(twins)
        .select(col("doc_id"), norm.as("t"))
        .filter(length(col("t")) >= 8)
        .select(col("doc_id"), concat_ws(",",
          graft.functions.RollingMinHash.rollingMinHash(col("t"), 8, 4)).as("fp"))
        .as[(Long, String)]
      fps.groupByKey(_._2)
        .flatMapGroupsWithState[Long, (Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout) {
          (_: String, rows: Iterator[(Long, String)], state: GroupState[Long]) =>
            val ids = rows.map(_._1).toVector
            val mn = (ids ++ state.getOption).min
            state.update(mn)
            ids.iterator.map(id => (id, mn))
        }
        .toDF("doc_id", "canonical_id")
    } { sink =>
      // Update-mode sinks may carry several emissions per doc across
      // micro-batches with decreasing canonicals; the converged verdict
      // is the minimum — batching-invariant, so the oracle is exact
      sink.groupBy(col("doc_id"))
        .agg(min(col("canonical_id")).as("canonical_id"))
        .withColumn("kept", (col("canonical_id") === col("doc_id")).cast("int"))
    }

  /** HORIZON-BOUNDED near-dup filter — [[nearDupFilter]]'s production
    * graduation: that filter's fingerprint→min-doc-id state grows with
    * every distinct fingerprint FOREVER — corpus-cardinality state no
    * unbounded ingest can afford. The production semantics:
    * survivors are only contendable within an event-time horizon — a
    * document dedups against near-dups from its own 6-hour window, and
    * once the watermark passes the window it is decided and its state
    * dropped. Expressed as the shape that makes eviction and emission
    * ONE mechanism (st17/st20): group by (fingerprint, 6 h tumbling
    * window), aggregate min doc_id (the canonical survivor) + member
    * count, Append mode — each (window, fingerprint) cluster emits
    * exactly once when the watermark closes its window, and state is
    * one (min, count) pair per fingerprint per OPEN window: bounded by
    * the horizon × arrival rate, never by corpus cardinality.
    *
    * Event time is fabricated deterministically from the ORIGINAL
    * doc_id (`pmod(id, 10⁹)` strips the twin offset, so each
    * suffix-perturbed twin lands in its original's window and provably
    * collapses — the d08 discipline), at +500 ms off the second
    * boundary so the watermark can never tie a window end (st20's
    * forced-strictness trick). The oracle replays the identical
    * fingerprint math (t07's CTE chain), window bucketing, and
    * closed-set rule (window end ≤ max event time − 1 h). */
  def nearDupWindowed(spark: SparkSession, docsDir: String): DataFrame =
    runRawStream(spark, docsDir, OutputMode.Append(), "nearDupWindowed") { raw =>
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      val twins = raw.select((col("doc_id") + 1000000000L).as("doc_id"),
        concat(col("text"), lit(" near dup twin suffix")).as("text"))
      raw.select(col("doc_id"), col("text")).unionAll(twins)
        .select(col("doc_id"), norm.as("t"))
        .filter(length(col("t")) >= 8)
        .select(col("doc_id"), concat_ws(",",
          graft.functions.RollingMinHash.rollingMinHash(col("t"), 8, 4)).as("fp"))
        .withColumn("ets", timestamp_millis(
          lit(1600000000000L) +
            pmod(pmod(col("doc_id"), lit(1000000000L)) * 977, lit(86400L)) * 1000L
            + lit(500L)))
        .withWatermark("ets", "1 hour")
        .groupBy(window(col("ets"), "6 hours").as("w"), col("fp"))
        .agg(min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_docs"))
    } { sink =>
      sink.select(col("w.start").cast("long").as("window_start_epoch"),
        col("fp"), col("canonical_id"), col("n_docs"))
    }

  /** Recorded plan tag of a monitor: its Append (emit-on-window-close)
    * form carries the `Closed` suffix. */
  private def modeTag(name: String, mode: OutputMode): String =
    if (mode == OutputMode.Append()) s"${name}Closed" else name

  /** Watermarked tumbling-window aggregation (hourly counts and value
    * sums per event type), run to completion on the finite events
    * directory and returned as a batch DataFrame.
    *
    * The hourly monitors below share this `mode` contract:
    *  - `Complete` makes the final in-memory table exactly equal to
    *    the batch aggregation over the same files — which is what the
    *    DuckDB oracle checks — but re-emits every window each batch,
    *    which only a finite replay can afford.
    *  - `Append` is EMIT ON WINDOW CLOSE, the production semantics for
    *    an UNBOUNDED stream: a window's aggregate is emitted exactly
    *    ONCE, when the watermark passes its end and its state is
    *    dropped — emission and eviction are one mechanism, the
    *    aggregate-side twin of st15/st16's outer-join-null emission,
    *    so state is bounded by the watermark horizon (one row per OPEN
    *    window). Only watermark-CLOSED windows ever reach the sink, so
    *    the gate compares exactly the closed set: windows whose end ≤
    *    max event time − 1 h (the single-stream watermark; hour-aligned
    *    ends vs an arbitrary-µs corpus max keep the boundary
    *    strict-vs-nonstrict question moot). The undecided tail — the
    *    last hour-ish of windows — is never emitted in a finite replay;
    *    both engines exclude it by the same data-derived rule.
    * The Append form records its plan under the `Closed` tag. */
  def hourlyTypeCounts(spark: SparkSession, eventsDir: String,
                       mode: OutputMode): DataFrame =
    runStream(spark, eventsDir, mode, modeTag("hourlyTypeCounts", mode)) { src =>
      src.withWatermark("ets", "1 hour")
        .groupBy(window(col("ets"), "1 hour").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          graft.queries.QueryDef.dsum(col("value")).as("sum_value"))
    } { sink =>
      sink.select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
    }

  /** Streaming CARDINALITY MONITORING — a DataSketches HLL as
    * streaming aggregation state: per-hour approximate distinct users
    * next to the exact row count, the dashboard primitive a 100 TB
    * event stream runs continuously (exact streaming COUNT DISTINCT
    * would hold every user id in the state store forever; the sketch
    * holds 2^lgK bytes per window, mergeable across micro-batches by
    * construction — the streaming face of q55's persisted-sketch
    * pattern). Complete mode over the finite replay makes the final
    * table batch-equal, so the estimate is gate-checkable against the
    * exact batch distinct (q29/q55 within_bound discipline). In Append
    * mode ([[hourlyTypeCounts]]) mergeable sketch state is exactly what
    * makes per-window emit-once correct: micro-batches fold into the
    * window's one HLL regardless of arrival order, and the closed
    * window's estimate is the same number the Complete form converges
    * to. */
  def hourlyDistinctUsers(spark: SparkSession, eventsDir: String,
                          mode: OutputMode): DataFrame =
    runStream(spark, eventsDir, mode, modeTag("hourlyDistinctUsers", mode)) { src =>
      src.withWatermark("ets", "1 hour")
        .groupBy(window(col("ets"), "1 hour").as("w"))
        .agg(
          count(lit(1)).as("n_events"),
          hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
            .as("approx_users"))
    } { sink =>
      sink.select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("n_events"), col("approx_users"))
    }

  /** Streaming QUANTILE monitoring — the KLL twin of
    * [[hourlyDistinctUsers]]'s HLL cardinality monitor: per-hour
    * p50/p95 of the event value from a `kll_sketch_agg_double`
    * sketch as the windowed aggregate state. The honest way to watch a
    * latency/value percentile on an unbounded stream: exact percentiles
    * need every value per window retained in state (unbounded per-key),
    * the KLL buffer is a few KB per window regardless of event rate,
    * and it merges across micro-batches like any partial aggregate.
    * The probe runs sink-side on the final sketch bytes. In Append mode
    * ([[hourlyTypeCounts]]) state is one k-bounded KLL buffer per OPEN
    * window, evicted at emission. */
  def hourlyValueQuantiles(spark: SparkSession, eventsDir: String,
                           mode: OutputMode): DataFrame =
    runStream(spark, eventsDir, mode, modeTag("hourlyValueQuantiles", mode)) { src =>
      src.withWatermark("ets", "1 hour")
        .groupBy(window(col("ets"), "1 hour").as("w"))
        .agg(
          count(lit(1)).as("n_events"),
          kll_sketch_agg_double(col("value").cast("double"), 200).as("sk"))
    } { sink =>
      sink.select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("n_events"),
        GraftFunctions.kllQuantile(col("sk"), 0.5).as("approx_p50"),
        GraftFunctions.kllQuantile(col("sk"), 0.95).as("approx_p95"))
    }

  /** Streaming TRENDING-ITEMS monitoring — completes the streaming
    * sketch-monitor trio (st10 HLL cardinality, st13 KLL quantiles,
    * here Misra-Gries heavy hitters): per-hour frequent-user sketch
    * as the windowed aggregate state. Exact per-window top-k needs
    * per-key counts retained in state (unbounded at production key
    * cardinality); the Misra-Gries map is maxMapSize counters per
    * window, merges across micro-batches, and can never miss a true
    * heavy hitter (NO_FALSE_NEGATIVES). The probe runs sink-side. The
    * lb ≤ exact ≤ ub invariant is merge-order-free, so the sketch an
    * Append-mode window emits on close has deterministic bounds however
    * micro-batches arrived. */
  def hourlyTrending(spark: SparkSession, eventsDir: String,
                     mode: OutputMode): DataFrame =
    runStream(spark, eventsDir, mode, modeTag("hourlyTrending", mode)) { src =>
      src.withWatermark("ets", "1 hour")
        .groupBy(window(col("ets"), "1 hour").as("w"))
        .agg(
          count(lit(1)).as("n_events"),
          graft.functions.FreqSketchAgg.freqSketch(col("user_id"), 64).as("sk"))
    } { sink =>
      sink.select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("n_events"), col("sk"))
    }

  /** STREAM-STATIC enrichment join — the third join shape next to
    * st07's stream-stream interval join: the events stream joins a
    * STATIC customer-segment dimension per micro-batch. The static
    * side costs ZERO streaming state (no watermark buffer, no state
    * store — Spark re-plans it into each micro-batch, auto-broadcast
    * under the threshold), which is why dim enrichment belongs on the
    * static side of a streaming join whenever the dim fits the batch
    * planner's normal join strategies; only co-moving streams need
    * st07's dual stateful buffers. The windowed aggregate after the
    * join is the only stateful operator. Complete mode retains all
    * windows; in Append mode ([[hourlyTypeCounts]]) state is one
    * aggregate row per open (window, segment) — bounded by horizon ×
    * |segments| on an unbounded ingest.
    *
    * The dim is loaded through the STREAM's session (a cross-session
    * Dataset join is undefined), keyed by the shared 0-based id space
    * (events.user_id = customer.c_custkey in the testdata). */
  def segmentHourlyRevenue(spark: SparkSession, eventsDir: String,
                           sfDir: String, mode: OutputMode): DataFrame =
    runStream(spark, eventsDir, mode, modeTag("segmentHourlyRevenue", mode)) { src =>
      val users = graft.Tables.customer(src.sparkSession, sfDir)
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      src.withWatermark("ets", "1 hour")
        .join(users, Seq("user_id")) // static side: stateless per batch
        .groupBy(window(col("ets"), "1 hour").as("w"), col("segment"))
        .agg(
          count(lit(1)).as("n_events"),
          graft.queries.QueryDef.dsum(col("value")).as("sum_value"))
    } { sink =>
      sink.select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("segment"), col("n_events"), col("sum_value"))
    }

  /** Streaming deduplication with bounded state:
    * `dropDuplicatesWithinWatermark` keeps one row per
    * (user, event_type, day) and PURGES key state once the
    * watermark passes — the streaming twin of batch DISTINCT, with
    * state proportional to the watermark window rather than the whole
    * stream history (the only honest way to dedup an unbounded
    * stream). AvailableNow over one file = one micro-batch, so the
    * replay dedups completely and batch-equals the DISTINCT oracle. */
  def distinctKeyDays(spark: SparkSession, eventsDir: String): DataFrame =
    runStream(spark, eventsDir, OutputMode.Append(), "distinctKeyDays",
      noDataBatch = false) { src => // dedup pass-through: arrival-time emission
      src.withWatermark("ets", "25 hours")
        .select(col("user_id"), col("event_type"),
          date_trunc("day", col("ets")).as("day"), col("ets"))
        .dropDuplicatesWithinWatermark(Seq("user_id", "event_type", "day"))
        .select(col("user_id"), col("event_type"), col("day"))
    } { sink =>
      sink.select(col("user_id"), col("event_type"),
        col("day").cast("timestamp_ntz").as("day"))
    }

  /** Streaming incremental warehouse load — the streaming twin of the
    * batch [[graft.model.Pipeline.load]]: watermarked daily aggregates
    * in Update output mode, each micro-batch's CHANGED rows upserted
    * (update-wins on the aggregate key) into the parquet warehouse
    * through the same failure-safe merge+swap writer the batch
    * pipeline uses. Update mode re-emits an aggregate row whenever it
    * changes, so the upsert converges to the batch aggregation and
    * every intermediate table state is internally consistent — the
    * standard foreachBatch CDC-to-warehouse shape.
    *
    * Returns the loaded table name inside `warehouseDir`. */
  def incrementalLoad(spark: SparkSession, eventsDir: String,
                      warehouseDir: String): String = {
    // Update-mode aggregate with no watermark-expiry emission: the
    // trailing no-data batch emits zero changed rows (see runRawStream)
    val s = streamSession(spark, eventsDir, noDataBatch = false)
    val schema = inputSchema(s, eventsDir)
    val table = "agg_event_daily"
    val keys = Seq("day", "event_type")
    val agg = s.readStream.schema(schema).parquet(streamDir(eventsDir))
      .withColumn("ets", etsCol(schema))
      .withWatermark("ets", "25 hours")
      .groupBy(date_trunc("day", col("ets")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.queries.QueryDef.dsum(col("value")).as("sum_value"))
      .select(col("day").cast("timestamp_ntz").as("day"),
        col("event_type"), col("n_events"), col("sum_value"))
    val q = agg.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (delta: DataFrame, _: Long) =>
        val d = delta.localCheckpoint(eager = true) // detach from the micro-batch plan
        // AvailableNow's trailing no-data batch advances the watermark
        // (state eviction) but emits zero changed aggregate rows in
        // Update mode — mergeSwap would read and REWRITE the whole
        // warehouse table to apply nothing (measured: 636 ms of the
        // replay's 2.3 s at sf0.1). updateWins over an empty delta is
        // the identity, so skipping it leaves table content identical;
        // an idle micro-batch must not rewrite the warehouse. The
        // first write is never skipped (a fully-empty source still
        // materializes the empty table the read-back contract needs).
        val exists = new org.apache.hadoop.fs.Path(s"$warehouseDir/$table")
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .exists(new org.apache.hadoop.fs.Path(s"$warehouseDir/$table"))
        if (!exists || !d.isEmpty)
          graft.model.Pipeline.mergeSwap(s, warehouseDir, table, d,
            graft.ops.Upsert.updateWins(_, _, keys))
      }
      .start()
    awaitAndRecord(q, "incrementalLoad")
    table
  }

  /** Stream-stream interval join — the streaming twin of the batch
    * bucketed range join (q37 attribution): every purchase joins the
    * same user's clicks from the preceding 30 minutes.
    *
    * Both sides carry watermarks and the join condition bounds each
    * side's event time relative to the other, so Spark derives state
    * eviction for BOTH join buffers: a click is dropped from state
    * once the purchase-side watermark passes click+30min, a purchase
    * once the click-side watermark passes it. State is O(events in
    * the interval window), not O(stream history) — the only honest
    * unbounded-join shape. AvailableNow over the finite directory
    * replays to exactly the batch inner join, which the oracle
    * cross-checks pair-for-pair. */
  def attributionPairs(spark: SparkSession, eventsDir: String): DataFrame =
    attribution(spark, eventsDir, "inner", "attributionPairs") {
      _.select(col("p_user").as("user_id"),
        unix_micros(col("p_ets")).as("p_us"),
        unix_micros(col("c_ets")).as("c_us"))
    }

  /** [[attributionPairs]]'s SEMI sibling — "which purchases had at
    * least one touchpoint", WITHOUT materializing the pairs: a
    * stream-stream LEFT SEMI join emits each matched purchase row
    * exactly ONCE however many clicks sit in its window (the inner
    * join's output is |pairs|; this is |matched purchases| — at 100 TB
    * the difference is the whole fan-out). State/eviction mechanics
    * are the inner join's (both sides watermarked, interval condition
    * bounds retention); emission happens at match time, and because
    * the interval demands the click PRECEDE the purchase, the
    * event-time-ordered replay always has the click in state when the
    * purchase arrives — every matched purchase in the corpus emits,
    * so the oracle is a plain EXISTS with no decidability cutoff
    * (unmatched rows never emit, exactly like batch EXISTS). */
  def attributionSemi(spark: SparkSession, eventsDir: String): DataFrame =
    attribution(spark, eventsDir, "left_semi", "attributionSemi") {
      _.select(col("p_user").as("user_id"), unix_micros(col("p_ets")).as("p_us"))
    }

  /** [[attributionPairs]]'s OUTER sibling: purchases LEFT OUTER
    * clicks in the same preceding-30-min interval — the "which
    * conversions had NO touchpoint" question an inner join cannot
    * answer on a stream. Outer-null rows are emitted by WATERMARK
    * EXPIRY: a purchase's state can only be declared click-less once
    * the click watermark passes its event time (before that a
    * matching click may still arrive), so Spark holds the row and
    * emits (purchase, null) in the no-data batch that follows the
    * watermark advance. State stays bounded by the same eviction.
    *
    * Gate determinism: purchases inside the final undecided region
    * (event time within watermark-delay + join-window of the stream's
    * max event time) may legitimately never receive their verdict in
    * a finite replay — BOTH engines exclude that tail via the same
    * data-derived cutoff, so the compared region is exactly the
    * watermark-decided one. */
  def attributionOuter(spark: SparkSession, eventsDir: String): DataFrame =
    attributionWithNulls(spark, eventsDir, "left_outer", "attributionOuter")

  /** FULL OUTER stream-stream interval join — completes the streaming
    * join triangle's last edge (st07 inner, st15 left outer): both
    * unmatched purchases AND unmatched clicks surface as null-extended
    * rows, each emitted when the OPPOSITE stream's watermark proves no
    * match can still arrive. The decidability cutoff is symmetric: a
    * purchase verdict needs the click watermark past its event time, a
    * click verdict needs the purchase watermark past its time + the
    * 30-min window — `coalesce(p_us, c_us) ≤ cutoff` covers both
    * (matched rows are governed by p_us since clicks precede their
    * purchase), and the oracle replays the identical data-derived
    * rule. */
  def attributionFull(spark: SparkSession, eventsDir: String): DataFrame =
    attributionWithNulls(spark, eventsDir, "full_outer", "attributionFull")

  private def attributionWithNulls(spark: SparkSession, eventsDir: String,
      joinType: String, tag: String): DataFrame =
    attribution(spark, eventsDir, joinType, tag) { sink =>
      val s = sink.sparkSession
      // Decidability cutoffs differ by join type because the GLOBAL
      // watermark is min over BOTH inputs' (max event time − delay):
      //  - left outer (st15): only purchases need verdicts, and the
      //    corpus-max-derived cutoff has 30 min of slack over the
      //    strict p_ets < wm requirement.
      //  - full outer (st16): orphan CLICKS need c_ets + 30min < wm
      //    with ZERO slack, and wm is min(max_click, max_purchase) − 1h
      //    — if the last purchase trails the corpus max by seconds (it
      //    does at sf0.1: 53 s), a corpus-max cutoff claims clicks the
      //    state store hasn't evicted. Derive it from the two joined
      //    streams' own maxima.
      val cutoff =
        if (joinType == "full_outer")
          // per-event_type maxima: NOT answerable from footer column
          // stats (they are per-chunk, not per-group) — scan stays
          s.read.parquet(eventsDir)
            .filter(col("event_type").isin("click", "purchase"))
            .groupBy(col("event_type"))
            .agg(max(unix_micros(etsCol(inputSchema(s, eventsDir)))).as("m"))
            .agg(min(col("m"))).head().getLong(0) -
            3600000000L - 1800000000L
        else
          // global max(ts): exact from parquet footer statistics (the
          // d05 dial precedent), scan fallback when any chunk lacks them
          maxEventMicros(s, eventsDir) - 3600000000L - 1800000000L
      // left outer: p_user is always present, so the filter degenerates
      // to st15's p_us cutoff. Full outer adds click-only rows governed
      // by c_us — STRICTLY below the cutoff: an orphan click is decided
      // when watermark > c_ets + 30min, and at c_us == cutoff that
      // inequality is exactly an equality, which Spark's state eviction
      // treats as not-yet-expired (observed live: the one boundary click
      // at sf0.1 emitted in DuckDB but still buffered here)
      sink.select(coalesce(col("p_user"), col("c_user")).as("user_id"),
          unix_micros(col("p_ets")).as("p_us"),
          unix_micros(col("c_ets")).as("c_us"))
        .filter(when(col("p_us").isNotNull, col("p_us") <= cutoff)
          .otherwise(col("c_us") < cutoff))
    }

  /** The attribution interval join every `attribution*` entry point
    * replays: purchases joined (`joinType`) to the same user's clicks
    * from the preceding 30 minutes, both sides filtered from the one
    * events source and watermarked 1 hour; `finish` shapes the sink.
    * Only the outer joins emit on watermark expiry (null verdicts), so
    * only they keep the trailing no-data batch: an inner or semi match
    * emits when its purchase arrives with the click already in state. */
  private def attribution(spark: SparkSession, eventsDir: String,
      joinType: String, tag: String)
      (finish: DataFrame => DataFrame): DataFrame =
    runStream(spark, eventsDir, OutputMode.Append(), tag,
      noDataBatch = joinType.endsWith("outer")) { src =>
      def side(eventType: String, p: String) =
        src.filter(col("event_type") === eventType)
          .select(col("user_id").as(s"${p}_user"), col("ets").as(s"${p}_ets"))
          .withWatermark(s"${p}_ets", "1 hour")
      side("purchase", "p").join(side("click", "c"), expr(
        """p_user = c_user AND
           c_ets >= p_ets - INTERVAL 30 MINUTES AND c_ets < p_ets"""),
        joinType)
    }(finish)

  // ---- transformWithState (Spark 4 arbitrary-state API) ----

  final case class TypedEv(user_id: Long, event_type: String)
  final case class TypeCount(user_id: Long, event_type: String, n_events: Long)

  /** Per-user running event-type counters on the `transformWithState`
    * API — the successor of `mapGroupsWithState` with COMPOSITE typed
    * state: one [[org.apache.spark.sql.streaming.MapState]]
    * (event_type → count) per user key, stored in RocksDB (the API
    * requires the RocksDB provider; state lives off-heap and spills
    * to disk, so a billion-user key space is bounded by disk, not
    * executor memory). Each micro-batch emits the UPDATED (user,
    * type, count) rows only — the CDC-friendly Update-mode contract,
    * same as [[incrementalLoad]]'s aggregate deltas. */
  class TypeCountProcessor extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, TypedEv, TypeCount] {
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TypedEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.TreeSet.empty[String]
      rows.foreach { e =>
        val cur =
          if (counts.containsKey(e.event_type)) counts.getValue(e.event_type)
          else 0L
        counts.updateValue(e.event_type, cur + 1L)
        touched += e.event_type
      }
      // sorted emission: per-key batch output is deterministic even
      // though the input iterator's row order is not
      touched.iterator.map(t => TypeCount(key, t, counts.getValue(t)))
    }
  }

  /** Runs [[TypeCountProcessor]] over the events replay; the final
    * table (one AvailableNow batch ⇒ one emission per touched pair)
    * equals the batch GROUP BY, which the oracle checks. */
  def typeCountsTws(spark: SparkSession, eventsDir: String): DataFrame =
    // TimeMode.None keyed processor (no timers): arrival-time emission,
    // the no-data batch calls nothing and emits nothing. RocksDB is
    // the transformWithState API's required provider — part of the
    // session key so no other stream ever inherits it.
    runRawStream(spark, eventsDir, OutputMode.Update(), "typeCountsTws",
      noDataBatch = false,
      provider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      raw =>
        import raw.sparkSession.implicits._
        raw.select(col("user_id"), col("event_type")).as[TypedEv]
          .groupByKey(_.user_id)
          .transformWithState(new TypeCountProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Update())
          .toDF()
    }(identity)

  // ---- stateful sessionization ----

  final case class Ev(user_id: Long, ts: java.sql.Timestamp)
  final case class OpenSession(startMs: Long, lastMs: Long, n: Int)
  final case class Session(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int)

  /** Event-time sessionization with a gap timeout: emits a session once
    * it is CLOSED — either by a later event from the same user beyond
    * the gap, or by event-time timeout once the watermark passes
    * last+gap. State per user is one [[OpenSession]].
    */
  def sessionize(events: Dataset[Ev], gapMinutes: Int): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(uid, new java.sql.Timestamp(s.startMs),
              new java.sql.Timestamp(s.lastMs), s.n))
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            var open = state.getOption
            val closed = Seq.newBuilder[Session]
            for (e <- sorted) {
              val t = e.ts.getTime
              open match {
                case Some(s) if t - s.lastMs <= gapMs =>
                  open = Some(s.copy(lastMs = math.max(s.lastMs, t), n = s.n + 1))
                case Some(s) =>
                  closed += Session(uid, new java.sql.Timestamp(s.startMs),
                    new java.sql.Timestamp(s.lastMs), s.n)
                  open = Some(OpenSession(t, t, 1))
                case None =>
                  open = Some(OpenSession(t, t, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.result().iterator
          }
      }
  }
}
