package graft.queries

import graft.{Memo, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Physical-plan quality gates — the 100 TB properties the brief grades:
  * dims broadcast, predicates reach the parquet scan, projection prunes
  * the read schema, top-k plans as TakeOrderedAndProject, partitioned
  * layouts prune partitions. A plan regression fails CI even while
  * results stay correct. */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String =
    Registry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q01 joins dims via BroadcastHashJoin (no fact-side shuffle join)") {
    // customer carries NO broadcast hint (it scales with SF) — at test
    // SF it must still broadcast through autoBroadcastJoinThreshold
    val p = plan("q01_topk_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("SF-scaling tables have no hard broadcast hint (threshold off ⇒ shuffle join)") {
    // the 100 TB safety property: with auto-broadcast disabled the
    // customer join must be ALLOWED to degrade to a shuffle join — a
    // hard broadcast() hint would pin it and OOM at scale. nation/
    // region keep their hints (true dims) and still broadcast.
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q01 = plan("q01_topk_revenue")
      assert(q01.contains("SortMergeJoin"), q01.take(2000))
      val q18 = plan("q18_region_dashboard")
      assert(q18.contains("SortMergeJoin"), q18.take(3000)) // customer join
      assert(q18.contains("BroadcastHashJoin"), q18.take(3000)) // nation/region hints
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("q38 snapshot diff is ONE full-outer shuffle join, scans pruned to key+compared cols") {
    // both snapshots scale with the data: the diff must be a single
    // key-partitioned SortMergeJoin (broadcast would OOM at scale,
    // a second join would double the shuffle)
    val p = plan("q38_snapshot_diff")
    assert(p.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin") == 1, p.take(3000))
    assert(!p.contains("BroadcastHashJoin") && !p.contains("Cartesian"), p.take(3000))
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>"),
      p.take(3000))
  }

  test("q40 SCD2 history costs ONE shuffle (lag + lead share the key exchange)") {
    // version suppression (lag) and interval closing (lead) both sort
    // by (key, ts, tie): a second hash exchange appearing means the
    // two window passes stopped sharing their clustering
    val p = plan("q40_scd2_history")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"expected 1 hash exchange, got $exchanges:\n${p.take(3000)}")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint," +
      "o_orderstatus:string,o_orderdate:timestamp_ntz>"), p.take(3000))
  }

  test("q18 4-way dashboard join broadcasts every dim") {
    val p = plan("q18_region_dashboard")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 3, p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q01 top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q01_topk_revenue")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("filter on orders reaches the parquet scan as a pushed filter") {
    val df = Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "F")
      .select("o_orderkey")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"), scan)
  }

  test("projection prunes the parquet read schema to selected columns") {
    val df = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:"), scan)
  }

  test("shared shingle table builds with exactly one exchange") {
    // docs re-cluster by doc_id BEFORE exploding; the distinct then
    // reuses HashPartitioning(doc_id) — a second exchange appearing
    // here means the build is shuffling exploded hashes again.
    // release() first: another suite may have cached the table, which
    // would print as InMemoryTableScan and hide the build plan
    Memo.release()
    val plan = Shingles.hashed(spark, sfDir).queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(plan).size
    assert(exchanges === 1, s"expected 1 exchange, got $exchanges:\n${plan.take(3000)}")
  }

  // NOTE (pinned by the test above): the build keeps ONE exchange
  // because the distinct reuses HashPartitioning(doc_id). Downstream
  // per-doc aggregations over the CACHED table still re-shuffle: in
  // Spark 4.1 an InMemoryRelation wraps its child in AdaptiveSparkPlan,
  // whose output partitioning stays UnknownPartitioning at downstream
  // planning time (canChangeCachedPlanOutputPartitioning does not
  // rescue this, materialized or not — verified empirically). On a
  // real deployment the equivalent win comes from writing the shingle
  // table bucketed by doc_id, where the scan DOES expose partitioning.

  test("runtime bloom filter injects on a selectively-filtered shuffle join") {
    // the 100 TB behavior: when the fact side is too big to broadcast
    // AND big enough to matter (applicationSideScanSizeThreshold
    // defaults to 10GB — never crossed at test SF, so the spec lowers
    // it to simulate scale), Spark builds a bloom filter from the
    // filtered dim side and pushes might_contain() onto the fact scan,
    // skipping fact rows before the shuffle. Our plans must leave this
    // rewrite reachable: plain equi-joins, no hints that pin the shape.
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set(keys(0), "1")
      spark.conf.set(keys(1), "-1")
      val li = Tables.lineitem(spark, sfDir)
      val o = Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "F")
      val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderstatus").count()
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        plan.take(3000))
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("season-partitioned layout prunes partitions on a season filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    import spark.implicits._
    val facts = Seq((2425, 1, 10.0), (2425, 2, 20.0), (2526, 3, 30.0))
      .toDF("season", "game_id", "xg")
    facts.write.partitionBy("season").mode("overwrite").parquet(s"$dir/facts")
    val read = spark.read.parquet(s"$dir/facts").filter(col("season") === 2526)
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(season"), p)
    assert(read.count() === 1)
    // the pruned scan reads exactly one of the two season directories
    val scanned = read.queryExecution.executedPlan.collectLeaves().head
      .metrics("numFiles").value
    assert(read.count() === 1 && scanned <= 1)
  }

  test("q42 unpivot plans as a single Expand with no melt-side shuffle") {
    val p = plan("q42_unpivot")
    assert(p.contains("Expand"), p.take(2000))
    // exactly the aggregate's exchange + the final sort's range
    // exchange — the melt itself adds none
    assert("Exchange".r.findAllIn(p).size == 2, p.take(2000))
  }

  test("q43 bloom prefilter is a Filter below the semi join, never a join input") {
    val p = plan("q43_bloom_semi_join")
    // the bitset rides a scalar subquery inside a Filter: no
    // cartesian/BNLJ anywhere, and the bloom bit-test (shiftright on
    // the subquery result) sits in a Filter node
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("Subquery") || p.contains("scalar-subquery"), p.take(2000))
    assert(p.contains("shiftright"), p.take(2000))
  }

  test("q47 fuzzy match pairs candidates through an equi-join block (no cross join)") {
    val p = plan("q47_fuzzy_match")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q46 rank family plans with no Window operator at all") {
    // the two-phase conversion: global positions from the offset-
    // broadcast scan, rank functions recomputed arithmetically, lag
    // via an (nation, rn-1) equi-join — so the executed plan must
    // contain NO Window node (the low-cardinality per-nation window
    // was the funnel) and no cartesian fallback
    val p = plan("q46_window_family")
    assert(!p.contains("Window ["), p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q92 keeps the stitched SCD2 shape: W-bounded windows, one fact exchange reused") {
    // the q74/q85 pin applied to Scd2.historyStitched (round 13): both
    // offset-1 windows must partition by (keys, __gid) — a refactor
    // reintroducing the naive per-key window would silently rebuild
    // the unbounded hub-key sort q92 exists to avoid — and the
    // interval-closing pass must REUSE the suppression pass's
    // (key, gid) fact exchange rather than paying a second one.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = Registry.queries("q92_scd2_stitched_deep")(spark, sfDir)
    // materialize THIS plan so AQE finalizes it (ReusedExchange is a
    // final-plan node; count() would execute a different QueryExecution)
    df.collect()
    val qe = df.queryExecution
    val windows = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "q92: expected the stitched windows")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty, "q92: global window entered the plan")
      val segmented = w.partitionSpec.exists(_.toString.contains("__gid"))
      if (!segmented) {
        // the only key-partitioned windows allowed are the two carry
        // passes, which consume the (key, gid) boundary AGGREGATE
        // (corpus/W rows), never the raw fact
        val aggBelow = w.child.collectFirst {
          case a: Aggregate
            if a.groupingExpressions.exists(_.toString.contains("__gid")) => a
        }
        assert(aggBelow.isDefined,
          s"q92: window partitioned by ${w.partitionSpec.mkString(",")} " +
            "consumes a non-aggregated input — the naive per-key sort is back")
      }
    }
    // physical: the fact's (key, gid) exchange is paid once and read
    // back by the second window pass
    val executed = qe.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      "q92: interval-closing pass no longer reuses the fact exchange")
  }

  test("q74/q85 keep the seam-stitched Locf shape: no fact-side window partitioned by event_type alone") {
    // round-11 advice: q46's window-free shape is pinned above, but
    // q74/q85's motivating claim (no per-key low-cardinality window
    // over the FACT) was comment-only — a refactor could quietly
    // reintroduce the PARTITION BY event_type funnel. Contract: every
    // Window either partitions by (…, __gid) — the W-bounded
    // within-segment form — or is the seam carry, which must consume
    // the (event_type, __gid) boundary AGGREGATE (corpus/W rows),
    // never the raw fact.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    for (name <- Seq("q74_forward_fill", "q85_linear_interp")) {
      val lp = Registry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
      val windows = lp.collect { case w: LWindow => w }
      assert(windows.nonEmpty, s"$name: expected the Locf windows in the plan")
      assert(windows.exists(_.partitionSpec.exists(_.toString.contains("__gid"))),
        s"$name: no (key, __gid) within-segment window found — Locf shape lost")
      windows.filterNot(_.partitionSpec.exists(_.toString.contains("__gid")))
        .foreach { w =>
          assert(w.partitionSpec.nonEmpty,
            s"$name: global (empty-partition) window entered the plan")
          val aggBelow = w.child.collectFirst {
            case a: Aggregate
              if a.groupingExpressions.exists(_.toString.contains("__gid")) => a
          }
          assert(aggBelow.isDefined,
            s"$name: window partitioned by ${w.partitionSpec.mkString(",")} " +
              s"consumes a non-aggregated input — the event_type funnel is back")
        }
    }
  }

  test("s09 filtered ANN pre-filters: the lang predicate reaches the documents scan") {
    // the pre-vs-post-filtering contract: the metadata predicate must
    // be a data-source pushed filter on the documents scan (so the
    // signature index is built over the filtered subset), not a
    // post-probe Filter over join output
    val p = plan("s09_filtered_ann")
    assert(p.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)") ||
      p.contains("PushedFilters: [EqualTo(lang,en)"), p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("s10 hybrid RRF: both legs are equi-joins, the posting aggregate is the capped sketch") {
    val p = plan("s10_hybrid_rrf")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the only nested-loop join allowed is the broadcast one-row
    // corpus count feeding the TF-IDF scale factor (t16's shape); it
    // prints twice because the persisted top-terms subtree (ONE cached
    // build) is referenced by both the posting and query-term branches
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p.take(3000))
    // posting lists ride the bounded TopKMinAgg buffer, never a
    // collect_list
    assert(p.contains("graft_topk_min"), p.take(3000))
    assert(!p.contains("collect_list"), p.take(3000))
  }

  test("every broadcast() hint in src/main names a bounded relation (allowlist)") {
    // the 100 TB gate for HARD hints: a broadcast() on a relation that
    // scales with SF grows without bound at scale (round-4 defect:
    // s02 broadcast its probe side = corpus/50 rows). Each allowlisted
    // (file, argument) pair is bounded by construction:
    //   dims (nation/region/teams/players — fixed cardinality),
    //   one-row scalars (corpus count), constant-C builds (centroids,
    //   month spine), and driver offsets (P longs). s01's broadcast
    //   query side graduated from "quarantined exception" to bounded
    //   by construction in round 13: the panel is a FIXED 64 ids
    //   (Similarity.PANEL), so the crossJoin is 64·N — linear.
    val allowed = Set(
      ("Facts.scala", "df"),  // bc(): caller-gated hint — football dims
                              // (bounded) pass hintDims=true; StarGate's
                              // SF-scaling dims pass false (no pin)
      ("Pack.scala", "partials"),          // P partition offsets (longs)
      ("Pack.scala", "offsetMap"),         // P+K key-run offsets (longs)
      ("Similarity.scala", "q"),           // s01 fixed 64-id query panel
      ("Similarity.scala", "cent"),        // C centroids
      ("Similarity.scala", "nrow"),        // one-row corpus count (d09 nbits)
      ("Similarity.scala", "cb"),          // s05 codebook (K·M rows, K ≤ 64)
      ("Similarity.scala", "cbArr"),       // s05 codebook collapsed to one
                                           // row per subspace (M = 4 rows,
                                           // ≤ K = 64 entries each — the
                                           // per-row argmin fold's input)
      ("TextOps.scala", "n"),              // one-row corpus count
      ("Similarity.scala", "n"),           // one-row corpus count (s10's
                                           // TF-IDF leg, t16's shape)
      ("Curation.scala", "cnt"),           // per-domain counts (#langs rows)
      ("Curation.scala", "tot"),           // one-row corpus/token total
      ("Relational.scala", "n"), ("Relational.scala", "r"),
      ("Relational.scala", "counts"),      // q46 per-nation totals (25 rows)
      ("Relational.scala", "byRegion"),    // q89 parent totals (#regions rows)
      ("Scalars.scala", "n"),              // nation dim (25 rows, q57)
      ("Scalars.scala", "sk"),             // one-row CMS sketch (q60)
      ("Scalars.scala", "a"),              // q61 sketch table (G = #event
      ("Scalars.scala", "b"),              //   types rows, kilobyte sketches)
      ("Scalars.scala", "bounds"),         // q62 one-row min/max bounds
      ("Scalars.scala", "exactB"),         // q93 one-row exact octiles
      ("Scalars.scala", "sketchB"),        // q93 one-row KLL octiles
      ("Scalars.scala", "tot"),            // q93 one-row corpus total
      ("Relational.scala", "cn"), ("Relational.scala", "sn"),
      ("Relational.scala", "months"),      // calendar spine
      ("Streaming.scala", "streamed"),     // st13/st14 gate joins: the
                                           // per-hour window table —
                                           // calendar-bounded (|hours|
                                           // rows + KB sketches), the
                                           // q63 day-table argument
      ("Scalars.scala", "stats"),          // q73 per-type second-moment
                                           // stats (≤ |event types| rows)
      ("Relational.scala", "anchor"),      // q77 1-row max-date
      ("Relational.scala", "bounds"))      // q77 1-row quintile edges
    val srcRoot = java.nio.file.Paths.get("src/main/scala/graft")
    val pat = """broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*)""".r
    val found = scala.collection.mutable.Set[(String, String)]()
    java.nio.file.Files.walk(srcRoot).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val text = new String(java.nio.file.Files.readAllBytes(p))
        pat.findAllMatchIn(text).foreach { m =>
          found += ((p.getFileName.toString, m.group(1)))
        }
      }
    }
    val rogue = found.diff(allowed)
    assert(rogue.isEmpty,
      s"broadcast() on non-allowlisted relation(s): $rogue — is each bounded at 100 TB?")
  }

  test("p01 star pipeline is scale-honest: no global-id window, no pinned broadcast") {
    // the round-5 defect: p01's dims were built with a single-partition
    // row_number window (sequential ids) and the fact builder pinned
    // broadcast() hints onto orders/customer-derived relations. Now the
    // dims build through Ids.dense (two-phase offset scan — no empty-
    // PARTITION-BY Window can appear anywhere) and StarGate passes
    // hintDims = false, so with auto-broadcast disabled NOTHING in the
    // plan may still broadcast: every join is free to degrade to a
    // shuffle join, the only shape that survives 100 TB.
    // NOTE: the shared star build persists `raw`; if another suite built
    // it under the default threshold, its CACHED plan may legitimately
    // contain auto-chosen broadcasts (threshold decisions, not pins) —
    // so the physical assertion walks qe.sparkPlan, which does not
    // descend into InMemoryTableScan's cached subtree.
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, Window => LWindow}
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val qe = Registry.queries("p01_star_league_table")(spark, sfDir).queryExecution
      val globalWindows = qe.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.isEmpty,
        s"empty-PARTITION-BY window in p01's plan: $globalWindows")
      val hinted = qe.optimizedPlan.collect {
        case j: Join if j.hint != JoinHint.NONE => j
      }
      assert(hinted.isEmpty, s"pinned join hint in p01's plan: $hinted")
      val broadcasts = qe.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(broadcasts.isEmpty,
        s"broadcast survives disabled auto-broadcast: ${broadcasts.map(_.nodeName)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("q56's three chained funnel windows + per-user collapse share one hash exchange") {
    // stage K's conditional MIN references stage K-1's output, so the
    // plan is three Window passes — all over user_id, so ONE hash
    // exchange clusters them AND the groupBy(user_id) collapse; the
    // only other exchange is the final ORDER BY's range partitioning.
    // The naive funnel (events self-joined per stage) would shuffle the
    // fact three times.
    val p = plan("q56_funnel_steps")
    assert("Window".r.findAllIn(p).size >= 3, p.take(3000))
    assert("Exchange".r.findAllIn(p).size == 2, p.take(3000))
  }

  test("q59's two window granularities + session aggregate share one hash exchange") {
    // event-level lag + running sum share (PARTITION BY user_id ORDER
    // BY t_us, event_id) → one hash exchange + one sort feeds both;
    // the groupBy(user_id, session_seq) is satisfied by the same
    // user_id clustering (subset rule), and so is the SESSION-level
    // lag window on top of the aggregate — three Window passes, one
    // aggregate, still one hash exchange. Only other exchange: the
    // final ORDER BY range.
    val p = plan("q59_session_retention")
    assert("Window".r.findAllIn(p).size == 3, p.take(3000))
    assert("Exchange".r.findAllIn(p).size == 2, p.take(3000))
  }

  test("q57's daily aggregate and RANGE window share one nation hash exchange") {
    // the naive shape (groupBy(n_name, day) straight off the join)
    // plans hash(n_name, day) for the aggregate and then a SECOND
    // full hash(n_name) exchange for the window — hash(n_name, day)
    // does NOT satisfy ClusteredDistribution(n_name); the subset rule
    // only runs the other way. The repartition(n_name) before the
    // groupBy makes one nation exchange feed both (empirically
    // verified: the naive plan carries both exchanges).
    val p = plan("q57_trailing_range_window")
    val nationHashes = "hashpartitioning\\(n_name".r.findAllIn(p).size
    assert(nationHashes === 1, p.take(3000))
    assert("hashpartitioning\\(n_name#\\d+, day#".r.findFirstIn(p).isEmpty,
      p.take(3000))
    assert("Window".r.findAllIn(p).size === 1, p.take(3000))
  }

  test("d12 caches the gram table once, bloom-guards the dup semi join, shares one doc_id exchange") {
    // round 14: the occurrence-count branch and the position branch
    // used to each re-run posexplode + md5 over the whole corpus
    // (measured 2× the gram build at sf1) — now both read ONE cached
    // hashed-gram table. The gaps-and-islands chain (running-max
    // window → island-id window → span min/max aggregate) all
    // clusters by doc_id, so ONE hash(doc_id) exchange + one sort
    // feeds all three (the aggregate via the subset rule); the other
    // live exchanges are the final ORDER BY range and the gram-hash
    // occurrence aggregate printed inline under the bloom scalar
    // subquery (the semi join's OWN build-side copy of that aggregate
    // sits below the first cache-scan marker and is excluded) — three
    // total. The duplicated set reaches
    // the gram stream as a BLOOM-prefiltered exact LeftSemi
    // (BloomSemi): the bit-test must appear as a pushed predicate on
    // the probe-side cache scan (element_at over the scalar
    // subquery), never a cartesian.
    val p = plan("d12_substring_dedup")
    // Live region = everything printed before the first cached-build
    // subtree (InMemoryRelation prints the gram build below the scan
    // that consumes it). That split is POSITIONAL (r14 advice), so
    // guard it structurally: every load-bearing live node — the cache
    // scan itself, the semi join residual, the pushed bloom bit-test,
    // both gaps-and-islands windows, and the final ORDER BY range
    // exchange — must sit INSIDE the region. If a future Spark
    // explain-format change moves any of them below the first cache
    // marker, these guards fail loudly instead of the exchange count
    // silently drifting.
    val live = p.split("InMemoryRelation")(0)
    assert(live.contains("InMemoryTableScan"), p.take(3000))
    assert("Window".r.findAllIn(live).size === 2, p.take(3000))
    assert("Window".r.findAllIn(p).size === 2, p.take(3000))
    assert(live.contains("Exchange range"), p.take(3000))
    assert("hashpartitioning\\(doc_id".r.findAllIn(live).size === 1, p.take(3000))
    assert("Exchange (hash|range)".r.findAllIn(live).size === 3, p.take(3000))
    assert(live.contains("LeftSemi"), p.take(3000))
    assert(live.contains("element_at(Subquery"), p.take(3000))
    assert(p.contains("InMemoryTableScan"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the one corpus scan (the cached gram build) prunes to the two
    // columns the grams need
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(3000))
  }

  test("t22 is one explode + one doc_id hash aggregate — no join, no window") {
    // the hashing trick's whole point: feature→weight needs NO
    // vocabulary join at any scale. One generate, one partial+final
    // aggregate pair on doc_id, the ORDER BY range — nothing else.
    val p = plan("t22_classifier_score")
    assert(!p.contains("Join"), p.take(3000))
    assert("Window".r.findAllIn(p).isEmpty, p.take(3000))
    assert("Exchange".r.findAllIn(p).size === 2, p.take(3000)) // agg + sort
    assert("partial_count|partial".r.findFirstIn(p).isDefined, p.take(3000))
  }

  test("t24 applies BPE as ONE vocab equi-join + doc_id agg — no per-doc merge loop") {
    // the trained vocab already carries each word's final segmentation
    // (t23's K merge rounds ran over the |V|-row table only), so apply
    // is corpus-explode ⋈ vocab + one hash(doc_id) aggregate. The
    // vocab side must read t23's shared persisted training
    // (InMemoryTableScan — no re-train inside the apply plan), the
    // join must broadcast at this |V| (AQE's call, not a pinned hint —
    // at web-scale |V| it may degrade to shuffle-hash), and NO window
    // or fold over the corpus-scale side survives into the plan.
    val p = plan("t24_bpe_apply")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("InMemoryTableScan"), p.take(3000))
    assert("Window".r.findAllIn(p).isEmpty, p.take(3000))
    // count exchanges in the LIVE plan only — the InMemoryRelation
    // prints its cached build plan (the training chain) below the
    // scan, and those exchanges already ran once at training time
    val live = p.split("InMemoryRelation")(0)
    assert("hashpartitioning\\(doc_id".r.findAllIn(live).size === 1, p.take(3000))
    assert("Exchange (hash|range)".r.findAllIn(live).size === 2, p.take(3000)) // agg + sort
  }

  test("t16 tokenizes the corpus once: tf and df read one shared cache") {
    // without the persist, Spark's self-reference semantics duplicate
    // the tf subtree: the df branch re-scans and re-explodes the whole
    // corpus (the two Aggregate branches differ, so ReuseExchange
    // cannot dedupe them — observed in the r6 optimized plan). The
    // Memo.persist makes both references InMemoryTableScans over ONE
    // materialization of the tokenize+count stage.
    val p = plan("t16_tfidf_topterms")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("d09 assignment is computed once: sig and keep-flag branches read one cache") {
    // three references to the N·C cluster assignment; without the
    // persist, AQE's stage reuse deduped only two — the keep-flag
    // branch re-ran the whole cross product and the centroid
    // aggregate (post-execution plan, r6)
    val p = plan("d09_semdedup")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("d12 with broadcast disabled runs a shuffle LeftSemi behind the bloom prefilter") {
    // the 100 TB regime: once the duplicated-gram set outgrows a
    // broadcast hash table, the exact semi join must degrade to a
    // shuffle join that still sits above the bloom bit-test (the
    // prefilter keeps its shuffle ~duplicated-sized), and the answer
    // must not change. Broadcast-vs-shuffle is decided at run time
    // under AQE, so only the FINAL adaptive plan adjudicates.
    val d12 = Registry.queries("d12_substring_dedup")
    def frame(df: org.apache.spark.sql.DataFrame) =
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    val withBroadcast = frame(d12(spark, sfDir))
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    try {
      confs.foreach(spark.conf.set(_, "-1"))
      val df = d12(spark, sfDir)
      val noBroadcast = frame(df)
      val finalPlan = df.queryExecution.executedPlan.treeString
        .split("== Initial Plan ==")(0)
      val lines = finalPlan.linesIterator.toSeq
      assert(lines.exists(l => (l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin")) && l.contains("LeftSemi")), finalPlan)
      assert(!lines.exists(l => l.contains("BroadcastHashJoin") &&
        l.contains("LeftSemi")), finalPlan)
      assert(finalPlan.contains("graft_bloom_bits") ||
        finalPlan.contains("BloomTest") || finalPlan.contains("bloom"), finalPlan)
      assert(withBroadcast.exceptAll(noBroadcast).isEmpty)
      assert(noBroadcast.exceptAll(withBroadcast).isEmpty)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q80 incremental maintenance runs exactly three joins (cross-delta term folded)") {
    // V1 = A1⋈B1 plus TWO delta joins (ΔA⋈B₂, A1⋈ΔB): the naive
    // four-term expansion would show a fourth join for ΔA⋈ΔB
    val p = plan("q80_incremental_join_view")
    val joins = "SortMergeJoin".r.findAllIn(p).size +
      "BroadcastHashJoin".r.findAllIn(p).size +
      "ShuffledHashJoin".r.findAllIn(p).size
    assert(joins === 3, s"expected 3 joins, got $joins:\n${p.take(3000)}")
  }

  test("q82's rank and size windows share one hash(p_id) exchange") {
    val p = plan("q82_multitouch_attribution")
    // window-side partitioning: exactly one hashpartitioning(p_id…)
    val pidExchanges = "Exchange hashpartitioning\\(p_id".r.findAllIn(p).size
    assert(pidExchanges === 1,
      s"expected 1 p_id exchange, got $pidExchanges:\n${p.take(3000)}")
    assert("Window".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("q86's EXISTS/NOT EXISTS decorrelate to one semi + one anti join") {
    // RewritePredicateSubquery must lower both correlated predicates
    // to set-joins — any surviving correlated re-execution would show
    // as extra scans or a nested-loop shape
    val p = plan("q86_exists_subqueries")
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q84's eager-agg plan carries a partial aggregate below the join") {
    // the merge aggregate sits above the join, the pushed partial
    // below it — four HashAggregates total (partial+final × 2 levels)
    val p = plan("q84_eager_agg_rule")
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(3000))
    assert(p.contains("_partial"), p.take(3000))
  }

  test("q41 as-of join is union+window — NO join operator anywhere") {
    // the round-9 skew probe found the key-equi + interval-residual
    // formulation degenerating to O(probes × versions) in one task on
    // a hot key (version count scales with the key's own rows). The
    // scalable spelling is window-only: a reappearing Join of any
    // kind re-opens that hole
    val p = plan("q41_pit_join")
    assert(!p.contains("Join"), p.take(3000))
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      p.take(3000))
  }
}
