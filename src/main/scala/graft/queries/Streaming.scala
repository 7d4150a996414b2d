package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming-surface queries over `events` (SURVEY.md §2.9 extension).
  *
  * st01 executes a REAL Structured Streaming job (file source replayed
  * with AvailableNow) whose complete-mode result is batch-equal, so the
  * DuckDB oracle can check a streaming pipeline. st02 is the batch twin
  * of the stateful sessionizer in [[graft.streaming.Streams.sessionize]]
  * (same session boundaries; the streaming variant is spec-tested with
  * MemoryStream since an oracle can't drive micro-batches).
  */
object Streaming {

  def defs: Seq[QueryDef] =
    Seq(st01, st02, st03, st04, st05, st06, st07, st08, st09, st10, st11,
      st12, st13, st14, st15, st16, st17, st18, st19, st20, st21, st22,
      st23, st24, st25)

  /** Streaming token-budget monitor
    * ([[graft.streaming.Streams.tokenBudget]]) — the online twin of
    * the t24/t25 tokenizer-apply family: arriving documents are
    * tokenized against the FROZEN tokenizer artifact t23 trains,
    * publishes as a Versioned table pair, and [[TextOps.bpeFrozen]]
    * LOADS (the K-row merge table plus the segmented vocab — exactly
    * what a tokenizer worker ships, read from storage the way a
    * production worker cold-starts). The
    * vocab is the word→length dim auto-broadcast into the stream
    * (st11's stream-static shape, zero join state, zero merge replay
    * on the steady path); live-OOV words fall back to the inline
    * rank-order fold (t25's OOV-correct replay). The stream reports
    * per-hour doc/word/BPE-token throughput; the only streaming state
    * is the windowed aggregate. The oracle re-derives the
    * segmentation through the t24 vocab join (provably equal on the
    * training corpus) and buckets the same fabricated epoch. */
  val st19 = QueryDef(
    "st19_stream_token_budget",
    (s, d) => {
      val (merges, vocab) = TextOps.bpeFrozen(s, d)
      graft.streaming.Streams.tokenBudget(
          s, s"$d/documents.parquet", merges, vocab)
        .orderBy(col("window_start_epoch"))
    },
    Some(TextOps.bpeBudgetOracle(TextOps.BPE_ROUNDS)),
    oracleOnly = true) // Complete-mode finite-replay twin of st20

  /** APPEND-MODE token-budget monitor
    * ([[graft.streaming.Streams.tokenBudgetClosed]]) — st19's
    * production graduation, the same Complete→Append step st17 took
    * for st01: each hourly budget row is
    * emitted exactly ONCE when the watermark passes its window end and
    * the window's state is dropped — emission IS eviction, so the
    * monitor's state stays bounded by the watermark horizon on an
    * unbounded ingest. Event times are fabricated +500 ms off the
    * second boundary so the watermark can never tie an hour-aligned
    * window end; the oracle replays the identical closed-set rule
    * (window end ≤ max event time − 1 h) over the same t24-style
    * vocab-join segmentation. Loads the one frozen tokenizer artifact
    * t23 publishes: a monitor LOADS its tokenizer, so training cost
    * lives on the trainer's own line. */
  val st20 = QueryDef(
    "st20_stream_token_budget_closed",
    (s, d) => {
      val (merges, vocab) = TextOps.bpeFrozen(s, d)
      graft.streaming.Streams.tokenBudgetClosed(
          s, s"$d/documents.parquet", merges, vocab)
        .orderBy(col("window_start_epoch"))
    },
    Some(TextOps.bpeBudgetClosedOracle(TextOps.BPE_ROUNDS)))

  /** Streaming near-dup filter with survivor attribution
    * ([[graft.streaming.Streams.nearDupFilter]]): documents keyed by
    * their t07 winnowing fingerprint (edit-robust, computed per-row by
    * the RollingMinHash expression), keyed state = min doc_id per
    * fingerprint, every doc emitted with its canonical survivor. The
    * stream self-unions suffix-perturbed twins (d08 precedent) so the
    * filter demonstrably collapses true near-dups — different text,
    * same fingerprint — onto their originals. The oracle replays the
    * fingerprint math (t07's proven CTE chain) over the same
    * twinned corpus and takes min doc_id per fingerprint. */
  val st12 = QueryDef(
    "st12_stream_neardup",
    (s, d) =>
      graft.streaming.Streams.nearDupFilter(s, s"$d/documents.parquet")
        .orderBy(col("doc_id")),
    Some("""
      WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000, text || ' near dup twin suffix'
        FROM documents),
      n AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        FROM base),
      wins AS (
        SELECT doc_id, unnest(list_transform(range(1, length(t) - 6),
               i -> substr(t, CAST(i AS INT), 8))) AS w
        FROM n WHERE length(t) >= 8),
      hs AS (
        SELECT DISTINCT doc_id,
               CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h
        FROM wins),
      mins AS (
        SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
        FROM hs),
      fp AS (
        SELECT doc_id, string_agg(h, ',' ORDER BY h) AS fp
        FROM mins WHERE rn <= 4 GROUP BY doc_id),
      m AS (SELECT fp, min(doc_id) AS canonical_id FROM fp GROUP BY fp)
      SELECT f.doc_id, m.canonical_id,
             CAST(CASE WHEN m.canonical_id = f.doc_id THEN 1 ELSE 0 END AS INT) AS kept
      FROM fp f JOIN m USING (fp)
      ORDER BY doc_id"""))

  /** Stream-static enrichment join
    * ([[graft.streaming.Streams.segmentHourlyRevenue]]): the events
    * stream joined per micro-batch to a STATIC customer-segment dim —
    * zero streaming state for the join itself (the dim rides the
    * batch planner: auto-broadcast, no buffers), completing the join
    * triangle st07 (stream-stream) and the batch families cover. The
    * oracle replays the batch join + hourly rollup. */
  val st11 = QueryDef(
    "st11_stream_static_join",
    (s, d) =>
      graft.streaming.Streams
        .segmentHourlyRevenue(s, s"$d/events.parquet", d, OutputMode.Complete())
        .orderBy(col("window_start"), col("segment")),
    Some("""
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             c_mktsegment AS segment,
             count(*) AS n_events,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
      FROM events
      JOIN customer ON c_custkey = user_id
      GROUP BY 1, 2
      ORDER BY window_start, segment"""),
    oracleOnly = true) // Complete-mode finite-replay twin of st25

  /** Streaming cardinality monitoring
    * ([[graft.streaming.Streams.hourlyDistinctUsers]]): per-hour HLL
    * sketch state instead of an ever-growing exact-distinct state
    * store. Gate = q29/q55 discipline: the exact per-hour distinct is
    * hash-compared (recomputed batch-side from the same files), the
    * streamed n_events row counts are hash-compared directly, and the
    * streamed sketch estimate folds into a within_bound flag the
    * oracle asserts as the literal 1 (lgK=12 ⇒ rsd ≈ 1.6%; bound 5%). */
  val st10 = QueryDef(
    "st10_stream_sketch_cardinality",
    cardinalityGate(OutputMode.Complete()),
    Some("""
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             count(*) AS n_events,
             count(DISTINCT user_id) AS exact_users,
             CAST(1 AS INT) AS within_bound
      FROM events
      GROUP BY 1
      ORDER BY window_start"""),
    oracleOnly = true) // Complete-mode finite-replay twin of st21

  /** Streaming QUANTILE monitoring — the KLL twin of [[st10]]'s HLL
    * cardinality monitor and the streaming face of q65: per-hour
    * p50/p95 of the event value held as a few-KB
    * `kll_sketch_agg_double` sketch per window (exact
    * percentiles would retain every value per window in the state
    * store — unbounded at production event rates; the KLL buffer is
    * k-bounded and merges across micro-batches like any partial agg).
    * See [[graft.streaming.Streams.hourlyValueQuantiles]].
    *
    * Gate = st10 discipline: exact per-hour DISCRETE percentiles
    * (order statistics at ceil(r·n) — actual data values, so the
    * doubles are bit-identical across engines; interpolated
    * percentiles round differently at midpoints) recomputed
    * batch-side from the same files hash-compare; the streamed probes fold
    * into within_bound asserting KLL's actual contract — a RANK
    * bound, not a value bound (value windows break on sparse hours:
    * at n=10 one rank step is 0.1 and any fixed value-rank window
    * under that rejects correct probes). Each probe value is joined
    * back to the window's events and its exact inclusive rank
    * (#values ≤ probe)/n must land in [r − 3ε, r + 3ε + 1/n]: the
    * +1/n absorbs the discrete rank step of getQuantile(INCLUSIVE),
    * 3ε (k=200 ⇒ ε ≈ 1.65%) keeps ~1400 window-probes per run far
    * below any flake odds (the q60 widen-the-bound lesson). */
  val st13 = QueryDef(
    "st13_stream_quantile_monitor",
    quantileGate(OutputMode.Complete()),
    Some("""
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             count(*) AS n_events,
             list_sort(list(value))[CAST(ceil(count(*) * 0.5) AS BIGINT)] AS p50,
             list_sort(list(value))[CAST(ceil(count(*) * 0.95) AS BIGINT)] AS p95,
             CAST(1 AS INT) AS within_bound
      FROM events
      GROUP BY 1
      ORDER BY window_start"""),
    oracleOnly = true) // Complete-mode finite-replay twin of st22

  /** Streaming TRENDING-ITEMS monitoring — the Misra-Gries member of
    * the streaming sketch-monitor trio (st10 cardinality, st13
    * quantiles) and the online face of q68: per-hour heavy-hitter
    * sketch as k-bounded window state
    * ([[graft.streaming.Streams.hourlyTrending]]).
    *
    * Gate: the exact per-hour top-3 users (deterministic tiebreak
    * count desc, user_id asc — a PARTITIONED window over the bounded
    * per-hour count table) hash-compare; each top user probes the
    * window's streamed sketch and within_bound asserts the
    * Misra-Gries invariant lb ≤ exact ≤ ub — which holds for ANY
    * micro-batch merge order (merge sums counters and error offsets;
    * the bounds move, the invariant doesn't), so the flag is
    * deterministic even though the stream's partial-agg tree isn't. */
  val st14 = QueryDef(
    "st14_stream_trending",
    trendingGate(OutputMode.Complete()),
    Some("""
      WITH c AS (
        SELECT date_trunc('hour', ts) AS ws, user_id, count(*) AS exact_cnt
        FROM events GROUP BY 1, 2),
      n AS (SELECT date_trunc('hour', ts) AS ws, count(*) AS n_events
            FROM events GROUP BY 1),
      r AS (SELECT c.*, row_number() OVER (PARTITION BY ws
              ORDER BY exact_cnt DESC, user_id) AS rnk FROM c)
      SELECT CAST(r.ws AS TIMESTAMP) AS window_start, rnk, user_id,
             exact_cnt, n_events, CAST(1 AS INT) AS within_bound
      FROM r JOIN n ON r.ws = n.ws
      WHERE rnk <= 3
      ORDER BY window_start, rnk"""),
    oracleOnly = true) // Complete-mode finite-replay twin of st23

  /** Stream-stream LEFT OUTER join
    * ([[graft.streaming.Streams.attributionOuter]]): [[st07]]'s
    * attribution interval join, but answering the question the inner
    * form cannot — which purchases had NO click touchpoint. The
    * outer-null verdict for a purchase is only decidable once the
    * click watermark passes its event time (until then a matching
    * click may still arrive), so Spark emits (purchase, null) rows on
    * WATERMARK EXPIRY in the no-data batch after each advance — state
    * eviction and result emission are the same mechanism. Purchases
    * inside the final undecided tail (within watermark-delay +
    * join-window of the stream's max event time) never get a verdict
    * in a finite replay; both engines exclude that region by the same
    * data-derived cutoff, so the gate compares exactly the
    * watermark-decided set — matched pairs AND null rows. */
  val st15 = QueryDef(
    "st15_stream_outer_join",
    (s, d) =>
      graft.streaming.Streams.attributionOuter(s, s"$d/events.parquet")
        .orderBy(col("user_id"), col("p_us"), col("c_us")),
    Some("""
      WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      mx AS (SELECT max(us) - 3600000000 - 1800000000 AS cutoff FROM ev),
      p AS (SELECT user_id, us AS p_us FROM ev WHERE event_type = 'purchase'),
      c AS (SELECT user_id, us AS c_us FROM ev WHERE event_type = 'click')
      SELECT p.user_id, p.p_us, c.c_us
      FROM p
      LEFT JOIN c ON p.user_id = c.user_id
       AND c.c_us >= p.p_us - 1800000000 AND c.c_us < p.p_us
      CROSS JOIN mx
      WHERE p.p_us <= mx.cutoff
      ORDER BY p.user_id, p_us, c_us"""))

  /** Stream-stream FULL OUTER join
    * ([[graft.streaming.Streams.attributionFull]]) — the join
    * triangle's last edge after st07 (inner) and st15 (left outer):
    * BOTH directions of non-match surface — purchases with no click
    * touchpoint AND clicks that never converted — each null-extended
    * row emitted when the opposite stream's watermark proves no match
    * can still arrive. One symmetric data-derived cutoff
    * (`coalesce(p_us, c_us)`) bounds the decided set in both engines:
    * matched rows ride p_us (a click precedes its purchase), orphan
    * clicks ride c_us. */
  val st16 = QueryDef(
    "st16_stream_full_outer_join",
    (s, d) =>
      graft.streaming.Streams.attributionFull(s, s"$d/events.parquet")
        .orderBy(col("user_id"), col("p_us"), col("c_us")),
    Some("""
      WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      mx AS (SELECT min(m) - 3600000000 - 1800000000 AS cutoff FROM (
        SELECT event_type, max(us) AS m FROM ev
        WHERE event_type IN ('click', 'purchase') GROUP BY 1)),
      p AS (SELECT user_id, us AS p_us FROM ev WHERE event_type = 'purchase'),
      c AS (SELECT user_id, us AS c_us FROM ev WHERE event_type = 'click'),
      m AS (
        SELECT coalesce(p.user_id, c.user_id) AS user_id, p.p_us, c.c_us
        FROM p FULL OUTER JOIN c ON p.user_id = c.user_id
         AND c.c_us >= p.p_us - 1800000000 AND c.c_us < p.p_us)
      SELECT user_id, p_us, c_us FROM m CROSS JOIN mx
      WHERE (p_us IS NOT NULL AND p_us <= mx.cutoff)
         OR (p_us IS NULL AND c_us < mx.cutoff)
      ORDER BY user_id, p_us, c_us"""))

  /** Streaming corpus ingest — quality gate + watermark-bounded
    * near-exact dedup over a documents stream, the online twin of the
    * batch curation family (see
    * [[graft.streaming.Streams.corpusIngest]]); the oracle checks the
    * converged per-language surviving-fingerprint counts. */
  val st09 = QueryDef(
    "st09_stream_corpus_ingest",
    (s, d) => graft.streaming.Streams.corpusIngest(s, s"$d/documents.parquet")
      .orderBy(col("lang")),
    Some("""
      WITH all_docs AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000 AS doc_id, lang, text FROM documents),
      q AS (SELECT * FROM all_docs
            WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 32),
      d AS (SELECT DISTINCT lang,
              md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
            FROM q)
      SELECT lang, count(*) AS n_docs
      FROM d GROUP BY lang
      ORDER BY lang"""))

  /** Streaming dedup with watermark-bounded state (the streaming twin
    * of batch DISTINCT; see [[graft.streaming.Streams.distinctKeyDays]]). */
  val st05 = QueryDef(
    "st05_stream_dedup",
    (s, d) => graft.streaming.Streams.distinctKeyDays(s, s"$d/events.parquet")
      .orderBy(col("user_id"), col("event_type"), col("day")),
    Some("""
      SELECT DISTINCT user_id, event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      FROM events
      ORDER BY user_id, event_type, day"""))

  /** End-to-end streaming warehouse load
    * ([[graft.streaming.Streams.incrementalLoad]]): Update-mode daily
    * aggregates, each micro-batch's changed rows upserted through the
    * batch pipeline's merge+swap writer — then the FINAL TABLE STATE
    * is what the oracle checks, proving the stream converged to the
    * batch aggregation (the foreachBatch CDC-to-warehouse contract). */
  val st06 = QueryDef(
    "st06_stream_upsert_load",
    (s, d) => {
      val wh = graft.TempDirs.create("graft-st06-wh")
      val table = graft.streaming.Streams.incrementalLoad(
        s, s"$d/events.parquet", wh.toString)
      s.read.parquet(s"$wh/$table")
        .orderBy(col("day"), col("event_type"))
    },
    Some("""
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
             count(*) AS n_events,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY day, event_type"""))

  /** Watermarked stream-stream interval join
    * ([[graft.streaming.Streams.attributionPairs]]): the streaming
    * twin of q37's bucketed range join — purchases joined to the same
    * user's clicks from the preceding 30 minutes, both join buffers
    * watermark-evicted. The oracle replays the batch inner join. */
  val st07 = QueryDef(
    "st07_stream_stream_join",
    (s, d) =>
      graft.streaming.Streams.attributionPairs(s, s"$d/events.parquet")
        .orderBy(col("user_id"), col("p_us"), col("c_us")),
    Some("""
      WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      p AS (SELECT user_id, us AS p_us FROM ev WHERE event_type = 'purchase'),
      c AS (SELECT user_id, us AS c_us FROM ev WHERE event_type = 'click')
      SELECT p.user_id, p.p_us, c.c_us
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.c_us >= p.p_us - 1800000000 AND c.c_us < p.p_us
      ORDER BY p.user_id, p_us, c_us"""))

  /** Stream-stream LEFT SEMI interval join
    * ([[graft.streaming.Streams.attributionSemi]]) — the set-member
    * of the streaming join family (st07 inner = pairs, st15/st16
    * outer = null verdicts, this = membership): each purchase with
    * ≥1 preceding-30-min click emits exactly ONCE regardless of
    * touchpoint count, so output is |matched purchases|, not |pairs|.
    * The interval forces the click to precede the purchase, so the
    * event-time replay always has the match in state on arrival —
    * every matched row emits and the oracle is a plain EXISTS over
    * the whole corpus, no watermark cutoff. */
  val st18 = QueryDef(
    "st18_stream_semi_join",
    (s, d) =>
      graft.streaming.Streams.attributionSemi(s, s"$d/events.parquet")
        .orderBy(col("user_id"), col("p_us")),
    Some("""
      WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      p AS (SELECT user_id, us AS p_us FROM ev WHERE event_type = 'purchase')
      SELECT p.user_id, p.p_us
      FROM p
      WHERE EXISTS (
        SELECT 1 FROM ev c
        WHERE c.event_type = 'click' AND c.user_id = p.user_id
          AND c.us >= p.p_us - 1800000000 AND c.us < p.p_us)
      ORDER BY user_id, p_us"""))

  /** Spark 4 `transformWithState` arbitrary-state processor
    * ([[graft.streaming.Streams.TypeCountProcessor]]): per-user
    * MapState counters in RocksDB, Update-mode delta emission; the
    * one-batch replay equals the batch GROUP BY. */
  val st08 = QueryDef(
    "st08_transform_with_state",
    (s, d) =>
      graft.streaming.Streams.typeCountsTws(s, s"$d/events.parquet")
        .orderBy(col("user_id"), col("event_type")),
    Some("""
      SELECT user_id, event_type, count(*) AS n_events
      FROM events
      GROUP BY user_id, event_type
      ORDER BY user_id, event_type"""))

  /** Watermarked tumbling-window aggregation, streamed to completion. */
  val st01 = QueryDef(
    "st01_stream_hourly",
    (s, d) => graft.streaming.Streams
      .hourlyTypeCounts(s, s"$d/events.parquet", OutputMode.Complete())
      .orderBy(col("window_start"), col("event_type")),
    Some("""
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n_events,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY window_start, event_type"""),
    oracleOnly = true) // Complete-mode finite-replay twin of st17

  /** Append-mode EMIT-ON-WINDOW-CLOSE hourly aggregate
    * ([[graft.streaming.Streams.hourlyTypeCounts]] in Append mode) —
    * st01's production twin: Complete mode re-emits every window each batch
    * (affordable only in a finite replay); Append emits each window
    * ONCE, when the watermark passes its end and drops its state —
    * emission and eviction as one mechanism, the aggregate-side
    * analog of st15/st16's outer-null emission. The gate compares
    * exactly the closed-window set (window end ≤ max event time −
    * 1 h), the same data-derived rule in both engines. */
  val st17 = QueryDef(
    "st17_stream_window_close",
    (s, d) =>
      graft.streaming.Streams
        .hourlyTypeCounts(s, s"$d/events.parquet", OutputMode.Append())
        .orderBy(col("window_start"), col("event_type")),
    Some("""
      WITH mx AS (SELECT max(epoch_us(ts)) - 3600000000 AS wm FROM events)
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n_events,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
      FROM events CROSS JOIN mx
      WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= mx.wm
      GROUP BY 1, 2
      ORDER BY window_start, event_type"""))

  /** APPEND-MODE cardinality monitor
    * ([[graft.streaming.Streams.hourlyDistinctUsers]] in Append mode) —
    * st10's production graduation: each hourly HLL row is emitted
    * exactly ONCE when the watermark passes its window end and drops
    * its state — emission IS eviction
    * (st17/st20's mechanism), so state is one sketch per OPEN window
    * on an unbounded ingest where st10's Complete mode re-emits the
    * whole table per batch. Gate = st10's discipline over exactly the
    * watermark-decided set (window end ≤ max event time − 1 h, the
    * same data-derived rule in both engines): exact distincts
    * recomputed batch-side hash-compare, the streamed estimate folds
    * into within_bound (lgK=12 ⇒ rsd ≈ 1.6%; bound 5%). */
  val st21 = QueryDef(
    "st21_stream_sketch_cardinality_closed",
    cardinalityGate(OutputMode.Append()),
    Some("""
      WITH mx AS (SELECT max(epoch_us(ts)) - 3600000000 AS wm FROM events)
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             count(*) AS n_events,
             count(DISTINCT user_id) AS exact_users,
             CAST(1 AS INT) AS within_bound
      FROM events CROSS JOIN mx
      WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= mx.wm
      GROUP BY 1
      ORDER BY window_start"""))

  /** APPEND-MODE quantile monitor
    * ([[graft.streaming.Streams.hourlyValueQuantiles]] in Append
    * mode) — st13's production graduation: the per-hour KLL buffer is
    * emitted once on
    * window close and its state dropped (one k-bounded sketch per open
    * window). Gate = st13's rank-bound discipline restricted to the
    * closed-window set; the probe joins each closed window's events
    * back to the streamed sketch values. */
  val st22 = QueryDef(
    "st22_stream_quantile_monitor_closed",
    quantileGate(OutputMode.Append()),
    Some("""
      WITH mx AS (SELECT max(epoch_us(ts)) - 3600000000 AS wm FROM events)
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             count(*) AS n_events,
             list_sort(list(value))[CAST(ceil(count(*) * 0.5) AS BIGINT)] AS p50,
             list_sort(list(value))[CAST(ceil(count(*) * 0.95) AS BIGINT)] AS p95,
             CAST(1 AS INT) AS within_bound
      FROM events CROSS JOIN mx
      WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= mx.wm
      GROUP BY 1
      ORDER BY window_start"""))

  /** APPEND-MODE trending monitor
    * ([[graft.streaming.Streams.hourlyTrending]] in Append mode) — st14's
    * production graduation, completing the closed-monitor trio (HLL
    * st21, KLL st22, Misra-Gries here): the per-hour heavy-hitter
    * sketch emits once on window close, state = 64 counters per open
    * window. Gate = st14's lb ≤ exact ≤ ub invariant (merge-order-free)
    * over exactly the closed-window set. */
  val st23 = QueryDef(
    "st23_stream_trending_closed",
    trendingGate(OutputMode.Append()),
    Some("""
      WITH mx AS (SELECT max(epoch_us(ts)) - 3600000000 AS wm FROM events),
      c AS (
        SELECT date_trunc('hour', ts) AS ws, user_id, count(*) AS exact_cnt
        FROM events GROUP BY 1, 2),
      n AS (SELECT date_trunc('hour', ts) AS ws, count(*) AS n_events
            FROM events GROUP BY 1),
      r AS (SELECT c.*, row_number() OVER (PARTITION BY ws
              ORDER BY exact_cnt DESC, user_id) AS rnk FROM c)
      SELECT CAST(r.ws AS TIMESTAMP) AS window_start, rnk, user_id,
             exact_cnt, n_events, CAST(1 AS INT) AS within_bound
      FROM r JOIN n ON r.ws = n.ws CROSS JOIN mx
      WHERE rnk <= 3 AND epoch_us(r.ws) + 3600000000 <= mx.wm
      ORDER BY window_start, rnk"""))

  /** HORIZON-BOUNDED near-dup filter
    * ([[graft.streaming.Streams.nearDupWindowed]]) — st12's production
    * graduation (st12's fingerprint→min-id state grows with corpus
    * cardinality forever): survivors are only
    * contendable within a 6-hour event-time window, expressed as the
    * shape where emission IS eviction — group by (winnowing
    * fingerprint, tumbling window), min doc_id + member count, Append
    * mode. State is one (min, count) pair per fingerprint per OPEN
    * window — bounded by the horizon, not the corpus. Twins land in
    * their original's window (event time derives from the original id)
    * and provably collapse; the oracle replays the fingerprint math,
    * window bucketing and closed-set rule (window end ≤ max event
    * time − 1 h). */
  val st24 = QueryDef(
    "st24_stream_neardup_windowed",
    (s, d) =>
      graft.streaming.Streams.nearDupWindowed(s, s"$d/documents.parquet")
        .orderBy(col("window_start_epoch"), col("fp")),
    Some("""
      WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000, text || ' near dup twin suffix'
        FROM documents),
      n AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        FROM base),
      wins AS (
        SELECT doc_id, unnest(list_transform(range(1, length(t) - 6),
               i -> substr(t, CAST(i AS INT), 8))) AS w
        FROM n WHERE length(t) >= 8),
      hs AS (
        SELECT DISTINCT doc_id,
               CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h
        FROM wins),
      mins AS (
        SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
        FROM hs),
      fp AS (
        SELECT doc_id, string_agg(h, ',' ORDER BY h) AS fp
        FROM mins WHERE rn <= 4 GROUP BY doc_id),
      et AS (
        SELECT doc_id, fp,
               1600000000000 + ((doc_id % 1000000000) * 977 % 86400) * 1000
                 + 500 AS ems
        FROM fp),
      mx AS (SELECT max(ems) - 3600000 AS wm FROM et),
      wd AS (SELECT doc_id, fp, ems - ems % 21600000 AS ws FROM et),
      cl AS (SELECT ws, fp, min(doc_id) AS canonical_id, count(*) AS n_docs
             FROM wd GROUP BY 1, 2)
      SELECT CAST(ws // 1000 AS BIGINT) AS window_start_epoch, fp,
             canonical_id, n_docs
      FROM cl CROSS JOIN mx
      WHERE ws + 21600000 <= mx.wm
      ORDER BY window_start_epoch, fp"""))

  /** APPEND-MODE stream-static enrichment rollup
    * ([[graft.streaming.Streams.segmentHourlyRevenue]] in Append
    * mode) — st11's production graduation, retiring the LAST Complete-mode-only
    * pipeline: the static-dim join stays stateless per micro-batch;
    * the hourly (window, segment) aggregate emits once on window
    * close, state bounded by horizon × |segments|. Oracle = st11's
    * batch join + rollup restricted to the watermark-decided set. */
  val st25 = QueryDef(
    "st25_stream_static_join_closed",
    (s, d) =>
      graft.streaming.Streams
        .segmentHourlyRevenue(s, s"$d/events.parquet", d, OutputMode.Append())
        .orderBy(col("window_start"), col("segment")),
    Some("""
      WITH mx AS (SELECT max(epoch_us(ts)) - 3600000000 AS wm FROM events)
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             c_mktsegment AS segment,
             count(*) AS n_events,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
      FROM events
      JOIN customer ON c_custkey = user_id
      CROSS JOIN mx
      WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= mx.wm
      GROUP BY 1, 2
      ORDER BY window_start, segment"""))

  /** st10/st21 gate: the exact per-hour distinct is recomputed
    * batch-side from the same files and hash-compared next to the
    * streamed n_events; the streamed HLL estimate folds into
    * within_bound (5% of exact). */
  private def cardinalityGate(mode: OutputMode): (SparkSession, String) => DataFrame =
    (s, d) => {
      val streamed = graft.streaming.Streams
        .hourlyDistinctUsers(s, s"$d/events.parquet", mode)
      val exact = Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("window_start"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      streamed.join(exact, Seq("window_start"))
        .select(col("window_start"), col("n_events"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).cast("int").as("within_bound"))
        .orderBy(col("window_start"))
    }

  /** st13/st22 gate: exact per-hour DISCRETE percentiles next to the
    * streamed KLL probes' rank-bound flag (see [[st13]]). */
  private def quantileGate(mode: OutputMode): (SparkSession, String) => DataFrame =
    (s, d) => {
      val streamed = graft.streaming.Streams
        .hourlyValueQuantiles(s, s"$d/events.parquet", mode)
      val ev = Tables.events(s, d)
        .select(date_trunc("hour", col("ts")).as("window_start"), col("value"))
      val n = col("n").cast("double")
      // Exact side = DISCRETE order statistics (actual data values —
      // bit-identical in both engines; interpolated percentiles round
      // differently at midpoints, e.g. (28.29+28.30)/2). Gate-side
      // collect per hour is bounded by the window, not the stream.
      ev.join(broadcast(streamed), Seq("window_start"))
        .groupBy(col("window_start"))
        .agg(
          count(lit(1)).as("n"),
          first(col("n_events")).as("n_events"),
          sort_array(collect_list(col("value"))).as("__sorted"),
          sum(when(col("value") <= col("approx_p50"), 1L).otherwise(0L)).as("__le50"),
          sum(when(col("value") <= col("approx_p95"), 1L).otherwise(0L)).as("__le95"))
        .select(col("window_start"), col("n_events"),
          element_at(col("__sorted"), ceil(n * 0.5).cast("int")).as("p50"),
          element_at(col("__sorted"), ceil(n * 0.95).cast("int")).as("p95"),
          ((col("__le50") / n).between(lit(0.45), lit(0.55) + lit(1.0) / n) &&
            (col("__le95") / n).between(lit(0.90), lit(1.0)))
            .cast("int").as("within_bound"))
        .orderBy(col("window_start"))
    }

  /** st14/st23 gate: the exact per-hour top-3 users, each probing the
    * window's streamed Misra-Gries sketch for lb ≤ exact ≤ ub (see
    * [[st14]]). */
  private def trendingGate(mode: OutputMode): (SparkSession, String) => DataFrame =
    (s, d) => {
      val streamed = graft.streaming.Streams
        .hourlyTrending(s, s"$d/events.parquet", mode)
      val byHour = Window.partitionBy(col("window_start"))
        .orderBy(col("exact_cnt").desc, col("user_id"))
      val top3 = Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("user_id"))
        .agg(count(lit(1)).as("exact_cnt"))
        .withColumn("rnk", row_number().over(byHour))
        .filter(col("rnk") <= 3)
      top3.join(broadcast(streamed), Seq("window_start"))
        .withColumn("__b",
          graft.functions.FreqSketchAgg.freqBounds(col("sk"), col("user_id")))
        .select(col("window_start"), col("rnk"), col("user_id"),
          col("exact_cnt"), col("n_events"),
          (col("__b.lb") <= col("exact_cnt") &&
            col("exact_cnt") <= col("__b.ub")).cast("int").as("within_bound"))
        .orderBy(col("window_start"), col("rnk"))
    }

  /** Gap-based sessionization (30-min inactivity), batch form: the
    * lag + cumulative-sum pattern. Works at 100 TB: both windows
    * shuffle once on user_id; no self-join, no driver loops. */
  val st02 = QueryDef(
    "st02_sessionize",
    (s, d) => {
      val wu  = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val wcum = wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("ts_us"))
      e.withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(wu))
        .withColumn("new_s", when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_s")).over(wcum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          timestamp_micros(min(col("ts_us"))).cast("timestamp_ntz").as("session_start"),
          timestamp_micros(max(col("ts_us"))).cast("timestamp_ntz").as("session_end"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("session_id"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
      g AS (
        SELECT user_id, event_id, ts_us,
               ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us
        FROM e),
      s AS (
        SELECT user_id, ts_us,
               sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM g)
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             make_timestamp(min(ts_us)) AS session_start,
             make_timestamp(max(ts_us)) AS session_end,
             count(*) AS n_events
      FROM s
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id"""))

  /** Sliding (hopping) windows: 2-hour windows every hour — each event
    * contributes to two overlapping windows. Spark's `window(ts, dur,
    * slide)`; the oracle replays by fanning each event to its two
    * window starts. Same code works under readStream unchanged. */
  val st03 = QueryDef(
    "st03_sliding_windows",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))
        .orderBy(col("window_start"), col("event_type"))
    },
    Some("""
      WITH e AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
      w AS (SELECT unnest([h, h - INTERVAL 1 HOUR]) AS window_start, event_type FROM e)
      SELECT window_start, event_type, count(*) AS n_events
      FROM w GROUP BY 1, 2
      ORDER BY window_start, event_type"""))

  /** Built-in session windows: `session_window(ts, gap)` merges events
    * with inter-arrival gap < 30 min per user; window end = last event
    * + gap (Spark's definition — the oracle reproduces min(ts) and
    * max(ts)+gap via the lag+cumsum rewrite, new session when
    * gap >= 30 min). The streaming form is the same expression under
    * readStream; [[st02]]/[[graft.streaming.Streams.sessionize]] are
    * the hand-rolled equivalents. */
  val st04 = QueryDef(
    "st04_session_window",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, ts FROM events),
      g AS (
        SELECT user_id, event_id, ts,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM e),
      s AS (
        SELECT user_id, ts,
               sum(CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM g)
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n_events
      FROM s
      GROUP BY user_id, session_id
      ORDER BY user_id, session_start"""))
}
