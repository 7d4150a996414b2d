package graft.queries

import graft.{Memo, Tables, TempDirs}
import graft.ops.Normalize
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import QueryDef.{dsum, dsumSql}

/** Scalar-function and filter surface (SURVEY.md §2.2 P-ops, §2.8 F-ops).
  * The reference's cleaning functions operate on scraped football
  * strings; here they run over equivalent shapes synthesized from
  * testdata columns so the DuckDB oracle can pin exact semantics.
  * All expressions are Catalyst built-ins → whole-stage codegen.
  */
object Scalars {

  def defs: Seq[QueryDef] =
    Seq(q19, q20, q21, q22, q23, q24, q25, q26, q27, q29, q31, q32, q35, q36,
      q44, q53, q54, q55, q56, q57, q58, q59, q60, q61, q62, q63, q64, q65,
      q67, q68, q69, q70, q73, q74, q76, q78, q83, q85, q93)

  /** Join on normalized keys. Ops: J9/F1 (Transform.py:394-404: lower/trim
    * both sides before merging). */
  val q19 = QueryDef(
    "q19_normalized_key_join",
    (s, d) => {
      val messy = Tables.customer(s, d).select(
        concat(lit("  "), upper(col("c_name")), lit("  ")).as("messy_name"),
        col("c_acctbal"))
      val clean = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      messy.join(clean, Normalize.normKey(col("messy_name")) === Normalize.normKey(col("c_name")))
        .select(col("c_custkey"), col("messy_name"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT b.c_custkey, a.messy_name, b.c_name, a.c_acctbal
      FROM (SELECT concat('  ', upper(c_name), '  ') AS messy_name, c_acctbal, c_custkey AS k FROM customer) a
      JOIN customer b ON lower(trim(a.messy_name)) = lower(trim(b.c_name))
      ORDER BY b.c_custkey"""))

  /** Club-name suffix scrub. Ops: F2/F3 (Transform.py:235-242 ordered
    * "f.c."/"fc"/"afc" removal + trailing-dot strip). */
  val q20 = QueryDef(
    "q20_club_name_scrub",
    (s, d) => {
      val p = Tables.part(s, d)
      val club = when(col("p_partkey") % 3 === 0, concat(col("p_name"), lit(" F.C.")))
        .when(col("p_partkey") % 3 === 1, concat(col("p_name"), lit(" AFC")))
        .otherwise(concat(col("p_name"), lit(" fc ")))
      p.select(col("p_partkey"), club.as("club"),
          Normalize.cleanClubName(club).as("clean_name"))
        .orderBy(col("p_partkey"))
    },
    // Same ordered literal-replace chain on the lowercased string, then
    // trailing [ .]+ strip, then dangling " a."/" a" drop, then trim.
    Some("""
      SELECT p_partkey, club,
             trim(regexp_replace(
               regexp_replace(
                 replace(replace(replace(replace(replace(replace(lower(club),
                   'a.f.c.', ''), 'a.f.c', ''), 'f.c.', ''), 'f.c', ''), 'afc', ''), 'fc', ''),
                 '[ .]+$', ''),
               ' a\.?$', '')) AS clean_name
      FROM (
        SELECT p_partkey,
               CASE WHEN p_partkey % 3 = 0 THEN concat(p_name, ' F.C.')
                    WHEN p_partkey % 3 = 1 THEN concat(p_name, ' AFC')
                    ELSE concat(p_name, ' fc ') END AS club
        FROM part)
      ORDER BY p_partkey"""))

  /** Composite-string parsing battery. Ops: F4 Q-strip, F5 "GF:GA"
    * split, F7 round-label zfill, F8 rank clean, F9 season conversion
    * (Transform.py:260-264,788-792,482,779-785,711-725). */
  val q21 = QueryDef(
    "q21_scalar_composites",
    (s, d) => {
      val o = Tables.orders(s, d)
      val qid    = concat(lit("Q"), col("o_orderkey"))
      val pair   = concat(col("o_orderkey"), lit(":"), col("o_custkey"))
      val rlabel = concat(lit("Matchweek "), (col("o_orderkey") % 38) + 1)
      val rnk    = concat((col("o_custkey") % 20) + 1, lit("."))
      val season = concat(lit(1990) + col("o_orderkey") % 30, lit("-"),
        lit(1991) + col("o_orderkey") % 30)
      val (gf, ga) = Normalize.splitPair(pair)
      o.select(
          col("o_orderkey"),
          Normalize.stripQ(qid).as("q_stripped"),
          gf.as("pair_left"), ga.as("pair_right"),
          Normalize.roundLabel(rlabel).as("round_label"),
          Normalize.rankClean(rnk).as("rank_val"),
          Normalize.convertSeason(season).as("season_code"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey,
             TRY_CAST(replace('Q' || o_orderkey, 'Q', '') AS INT) AS q_stripped,
             TRY_CAST(split_part(o_orderkey || ':' || o_custkey, ':', 1) AS INT) AS pair_left,
             TRY_CAST(split_part(o_orderkey || ':' || o_custkey, ':', 2) AS INT) AS pair_right,
             lpad(split_part('Matchweek ' || CAST(o_orderkey % 38 + 1 AS VARCHAR), ' ', 2), 2, '0') AS round_label,
             TRY_CAST(split_part(CAST(o_custkey % 20 + 1 AS VARCHAR) || '.', '.', 1) AS INT) AS rank_val,
             TRY_CAST(right(CAST(1990 + o_orderkey % 30 AS VARCHAR), 2) ||
                      right(CAST(1991 + o_orderkey % 30 AS VARCHAR), 2) AS INT) AS season_code
      FROM orders
      ORDER BY o_orderkey"""))

  /** Date parts + monthly rollup. Ops: F6 date extraction
    * (Transform.py:358-359), A1 over calendar keys. */
  val q22 = QueryDef(
    "q22_monthly_orders",
    (s, d) => {
      val o = Tables.orders(s, d)
      o.groupBy(
          year(col("o_orderdate")).as("order_year"),
          month(col("o_orderdate")).as("order_month"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice"), 2).as("total_value"))
        .orderBy(col("order_year"), col("order_month"))
    },
    Some(s"""
      SELECT year(o_orderdate) AS order_year, month(o_orderdate) AS order_month,
             count(*) AS n_orders, ${dsumSql("o_totalprice", 2)} AS total_value
      FROM orders
      GROUP BY 1, 2
      ORDER BY order_year, order_month"""))

  /** Null-tolerant coercion. Ops: F10 (pd.to_numeric(errors='coerce') —
    * garbage → null, digits parse; ANSI-safe via try_cast). */
  val q23 = QueryDef(
    "q23_try_coercion",
    (s, d) => {
      val c = Tables.customer(s, d)
      c.select(
          col("c_custkey"),
          Normalize.tryInt(col("c_name")).as("bad_parse"),
          Normalize.tryLong(substring(col("c_name"), 10, 9)).as("good_parse"),
          Normalize.tryInt(col("c_name")).isNull.as("is_unparseable"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey,
             TRY_CAST(c_name AS INT) AS bad_parse,
             TRY_CAST(substr(c_name, 10, 9) AS BIGINT) AS good_parse,
             TRY_CAST(c_name AS INT) IS NULL AS is_unparseable
      FROM customer
      ORDER BY c_custkey"""))

  /** Two-stage null filtering. Ops: P3/P5/P9 (Transform.py:387-388,502 —
    * stage-1 key-null drop keeps unplayed rows, stage-2 result-null drop;
    * placement changes row counts, so it is pinned here). */
  val q24 = QueryDef(
    "q24_two_stage_null_filter",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val staged = li
        .withColumn("disc_key", nullif(col("l_discount"), lit(0.0)))
        .withColumn("tax_key", nullif(col("l_tax"), lit(0.0)))
        .na.drop(Seq("disc_key"))                     // stage 1: key nulls out
      val counted = staged.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_discounted"),
          count(col("tax_key")).as("n_also_taxed"))  // stage 2: result nulls ignored
      counted.orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag, count(*) AS n_discounted,
             count(nullif(l_tax, 0.0)) AS n_also_taxed
      FROM lineitem
      WHERE nullif(l_discount, 0.0) IS NOT NULL
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** Case-normalized membership filter. Ops: P6/P8 (ui.py:153,211
    * LOWER(col) IN ('home','away')). */
  val q25 = QueryDef(
    "q25_case_insensitive_filter",
    (s, d) => {
      val e = Tables.events(s, d)
      e.filter(lower(col("event_type")).isin("click", "view"))
        .filter(lower(col("event_type")) =!= "error")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, count(*) AS n_events
      FROM events
      WHERE lower(event_type) IN ('click', 'view') AND lower(event_type) <> 'error'
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Tumbling-window rollup (batch twin of the Structured Streaming
    * hourly aggregation; graft.streaming runs the same logic with
    * watermarks). */
  val q26 = QueryDef(
    "q26_hourly_windows",
    (s, d) => {
      val e = Tables.events(s, d)
      e.groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("window_start"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast("string").cast("double").as("total_value"))
        .orderBy(col("window_start"))
    },
    Some("""
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, count(*) AS n_events,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_value
      FROM events
      GROUP BY 1
      ORDER BY window_start"""))

  /** Cardinality sketch: HyperLogLog++ distinct-count estimates per
    * group — the scale substitute for exact COUNT DISTINCT when the
    * key cardinality itself is huge (A3's 100 TB escape hatch; SURVEY
    * §2.5). The sketch value itself is approximate, so it can't be
    * hash-compared raw; instead BOTH engines emit the exact count
    * (hash-compared) and a `within_bound` flag — Spark computes
    * |HLL − exact|/exact ≤ 3·rsd from the real sketch, the oracle
    * asserts the literal 1 the bound guarantees. A sketch regression
    * past the bound flips the flag and fails the row hash, so the
    * gate genuinely checks the sketch without pretending it's exact
    * (SketchSpec additionally pins the raw error). */
  val q29 = QueryDef(
    "q29_approx_distinct",
    (s, d) => {
      val li = graft.Tables.lineitem(s, d)
      li.groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          approx_count_distinct(col("l_orderkey"), 0.05).as("__approx"),
          count(lit(1)).as("n_rows"))
        .withColumn("within_bound",
          (abs(col("__approx") - col("exact_orders")).cast("double") /
            col("exact_orders") <= 0.15).cast("int"))
        .drop("__approx")
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             count(DISTINCT l_orderkey) AS exact_orders,
             count(*) AS n_rows,
             CAST(1 AS INT) AS within_bound
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** Hierarchical totals in one pass: ROLLUP over (returnflag,
    * linestatus) emits leaf, subtotal, and grand-total rows with a
    * grouping marker — the OLAP-cube family the reference approximates
    * with separate dashboard queries. One shuffle for all levels
    * (partial aggregation covers every grouping set). */
  val q31 = QueryDef(
    "q31_rollup_revenue",
    (s, d) => {
      val li = graft.Tables.lineitem(s, d)
      li.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_rows"),
          grouping_id(col("l_returnflag"), col("l_linestatus")).cast("int").as("lvl"))
        .orderBy(col("lvl"), col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
             ${dsumSql("l_extendedprice")} AS revenue,
             count(*) AS n_rows,
             CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS lvl
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY lvl, l_returnflag, l_linestatus"""))

  /** CUBE — all 4 grouping combinations of (returnflag, linestatus)
    * in ONE pass (completes the grouping-analytics family next to
    * [[q31]] ROLLUP and q49 GROUPING SETS). Spark expands the cube
    * into a single Expand + hash aggregate — each input row fans out
    * to its 2^k grouping projections map-side, so the full lattice
    * still costs one shuffle keyed on (grouping-id, keys), not 4
    * scans. grouping_id disambiguates real NULL keys from subtotal
    * rows — the standard CUBE-consumer discipline. */
  val q54 = QueryDef(
    "q54_cube_revenue",
    (s, d) => {
      val li = graft.Tables.lineitem(s, d)
      li.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_rows"),
          grouping_id(col("l_returnflag"), col("l_linestatus")).cast("int").as("lvl"))
        .orderBy(col("lvl"), col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
             ${dsumSql("l_extendedprice")} AS revenue,
             count(*) AS n_rows,
             CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS lvl
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY lvl, l_returnflag, l_linestatus"""))

  /** Exact percentiles (linear interpolation) of order totals per
    * status — distribution profiling. Exact sort-based percentile
    * (both engines interpolate identically over the sorted set);
    * approx_percentile is the sketch alternative at extreme scale. */
  val q32 = QueryDef(
    "q32_percentiles",
    (s, d) => {
      val o = graft.Tables.orders(s, d)
      o.groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
          round(expr("percentile(o_totalprice, 0.99)"), 2).as("p99"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""
      SELECT o_orderstatus,
             round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
             round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
             round(quantile_cont(o_totalprice, 0.99), 2) AS p99
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  /** Skew-salted aggregation over the 5 hot event_type keys
    * ([[graft.ops.Salt]]): partial sums per (key, salt-of-event_id)
    * spread the hot key across all reducers, then a tiny per-key
    * combine — exact (decimal partials are associative), same result
    * as the plain GROUP BY the oracle runs. SaltSpec pins equality
    * with the unsalted plan and the two-phase shape. */
  val q36 = QueryDef(
    "q36_salted_agg",
    (s, d) => {
      val ev = graft.Tables.events(s, d)
      graft.ops.Salt.saltedSumCount(ev,
        Seq(col("event_type")), col("value"), col("event_id"), 16,
        "sum_value", "n_events")
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Skew-salted JOIN over the same 5 hot event_type keys as [[q36]]
    * ([[graft.ops.Salt.saltedJoin]]): the fact shuffles on
    * (event_type, salt-of-user_id) so no single reducer owns a whole
    * event_type; the 5-row weight dim replicates ×16 to meet every
    * salt bucket. Result provably equals the plain join (the oracle
    * runs the unsalted SQL); SaltSpec pins equality under disabled
    * auto-broadcast plus the ×buckets dim replication shape. The
    * post-join per-type weighted aggregate proves row-level join
    * fidelity, not just key reachability. */
  val q53 = QueryDef(
    "q53_skew_salted_join",
    (s, d) => {
      val ev = graft.Tables.events(s, d)
      val dim = ev.select(col("event_type")).distinct()
        .withColumn("w", length(col("event_type")).cast("int"))
      graft.ops.Salt.saltedJoin(ev, dim, Seq("event_type"),
          col("user_id"), 16)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          QueryDef.dsum(col("value") * col("w")).as("wsum"))
        .orderBy(col("event_type"))
    },
    Some(s"""
      WITH dim AS (
        SELECT DISTINCT event_type, CAST(len(event_type) AS INT) AS w
        FROM events)
      SELECT e.event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             ${QueryDef.dsumSql("e.value * d.w")} AS wsum
      FROM events e JOIN dim d ON e.event_type = d.event_type
      GROUP BY e.event_type
      ORDER BY e.event_type"""))

  /** The sketch twin of [[q32]]: approx_percentile (Greenwald-Khanna
    * with accuracy 100, mergeable partial sketches) — at 100 TB the
    * exact percentile's per-group sort of every value is the
    * bottleneck; the GK sketch is one bounded-size buffer per group,
    * map-side combined like any aggregate. Gate discipline mirrors
    * [[q29]]: both engines emit the EXACT percentiles (hash-compared)
    * plus a `within_bound` flag — Spark checks the GK value lands
    * between the exact quantiles at rank p±2ε (ε = 1/accuracy is the
    * GK guarantee; the factor 2 absorbs interpolation at the window
    * edges), the oracle asserts the literal 1. A sketch drifting past
    * its rank guarantee flips the flag and fails the row hash. */
  val q35 = QueryDef(
    "q35_approx_percentiles",
    (s, d) => {
      val o = graft.Tables.orders(s, d)
      // ε = 1/accuracy = 0.01 ⇒ window half-width 0.02; p99's upper
      // edge caps at 1.0 (the max)
      o.groupBy(col("o_orderstatus"))
        .agg(
          expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").as("__ex"),
          expr("approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 100)").as("__ap"),
          expr("percentile(o_totalprice, array(0.48, 0.88, 0.97))").as("__lo"),
          expr("percentile(o_totalprice, array(0.52, 0.92, 1.0))").as("__hi"))
        .select(
          col("o_orderstatus"),
          round(element_at(col("__ex"), 1), 2).as("p50"),
          round(element_at(col("__ex"), 2), 2).as("p90"),
          round(element_at(col("__ex"), 3), 2).as("p99"),
          (0 until 3).map { i =>
            element_at(col("__ap"), i + 1).between(
              element_at(col("__lo"), i + 1), element_at(col("__hi"), i + 1))
          }.reduce(_ && _).cast("int").as("within_bound"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""
      SELECT o_orderstatus,
             round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
             round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
             round(quantile_cont(o_totalprice, 0.99), 2) AS p99,
             CAST(1 AS INT) AS within_bound
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  /** MERGEABLE sketch rollup — the pre-aggregation pattern [[q29]]'s
    * one-shot HLL can't express: build a DataSketches HLL per FINE
    * bucket (returnflag × linestatus — at 100 TB: per day/partition,
    * persisted alongside the aggregate), then `hll_union_agg` merges
    * the stored sketches LOSSLESSLY to any coarser grouping without
    * rescanning the fact — COUNT DISTINCT over arbitrary rollup
    * windows from kilobytes of state. That mergeability is exactly
    * what approx_count_distinct's internal buffers don't expose, and
    * it is why warehouses persist sketches, not estimates.
    *
    * Gate discipline = [[q29]]: both engines emit the exact per-flag
    * distinct (hash-compared) and the sketch-count n_parts; Spark
    * computes within_bound from the real merged estimate (lgK=12 ⇒
    * rsd ≈ 1.6%, bound 5%), the oracle asserts the literal 1 the
    * bound guarantees — a merge regression flips the flag and fails
    * the row hash. */
  val q55 = QueryDef(
    "q55_sketch_rollup",
    (s, d) => {
      val li = graft.Tables.lineitem(s, d)
      // stage 1: one persisted-size sketch per fine bucket
      val parts = li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(hll_sketch_agg(col("l_orderkey"), lit(12)).as("sk"))
      // stage 2: merge stored sketches up to the coarser grouping
      val merged = parts.groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"),
          count(lit(1)).as("n_parts"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      merged.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_orders"), col("n_parts"),
          (abs(col("approx") - col("exact_orders")).cast("double") /
            col("exact_orders") <= 0.05).cast("int").as("within_bound"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             count(DISTINCT l_orderkey) AS exact_orders,
             count(DISTINCT l_linestatus) AS n_parts,
             CAST(1 AS INT) AS within_bound
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** Ordered FUNNEL analysis — view → click → purchase per user, each
    * step strictly AFTER the previous one in event time (a click
    * before the first view does not count). The product-analytics
    * staple the registry's sessionization (st02/st04) and attribution
    * (q37) don't cover: stage K's timestamp depends on stage K-1's,
    * so it is sequential logic, not plain aggregation.
    *
    * Plan shape at 100 TB: three chained windowed conditional MINs
    * over the SAME user_id partition — Spark plans one hash exchange
    * and three in-partition Window passes, then the per-user collapse
    * reuses the same clustering (no second shuffle; the q40/q46
    * shared-exchange discipline). No self-joins: the naive form joins
    * events back to itself per stage (3 fact-fact shuffles); the
    * windowed form is linear. The oracle spells the same semantics as
    * per-stage aggregate+join over the tiny per-user table. */
  val q56 = QueryDef(
    "q56_funnel_steps",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("t_view",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t_click",
          min(when(col("event_type") === "click" &&
            col("ts") > col("t_view"), col("ts"))).over(w))
        .withColumn("t_purchase",
          min(when(col("event_type") === "purchase" &&
            col("ts") > col("t_click"), col("ts"))).over(w))
        .groupBy(col("user_id"))
        .agg(max(col("t_view")).as("t_view"),
          max(col("t_click")).as("t_click"),
          max(col("t_purchase")).as("t_purchase"))
        .withColumn("stage",
          when(col("t_purchase").isNotNull, 3)
            .when(col("t_click").isNotNull, 2)
            .when(col("t_view").isNotNull, 1)
            .otherwise(0))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH e AS (SELECT user_id, event_type,
                        CAST(ts AS TIMESTAMP) AS ts FROM events),
      v AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
            FROM e GROUP BY user_id),
      c AS (SELECT e.user_id, min(e.ts) AS t_click
            FROM e JOIN v USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > v.t_view
            GROUP BY e.user_id),
      p AS (SELECT e.user_id, min(e.ts) AS t_purchase
            FROM e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY e.user_id)
      SELECT v.user_id,
             CAST(v.t_view AS TIMESTAMP) AS t_view,
             CAST(c.t_click AS TIMESTAMP) AS t_click,
             CAST(p.t_purchase AS TIMESTAMP) AS t_purchase,
             CASE WHEN p.t_purchase IS NOT NULL THEN 3
                  WHEN c.t_click IS NOT NULL THEN 2
                  WHEN v.t_view IS NOT NULL THEN 1
                  ELSE 0 END AS stage
      FROM v
      LEFT JOIN c USING (user_id)
      LEFT JOIN p USING (user_id)
      ORDER BY user_id"""))

  /** VALUE-based window frame — trailing 30-DAY revenue per nation via
    * `RANGE BETWEEN 29 PRECEDING AND CURRENT ROW` over the day value.
    * The frame feature the registry's ROWS windows (q10's last-5-rows
    * form) can't express: a ROWS frame counts physical rows, so date
    * GAPS silently widen the lookback and tied order days make the
    * result depend on row order; a RANGE frame is bounded by the
    * ORDER-BY VALUE — gap-correct and tie-deterministic by
    * construction (all peers of a day share one frame).
    *
    * Plan: the joined rows are repartitioned by nation ONCE, and
    * that single hash(n_name) exchange feeds everything downstream —
    * the daily (nation, day) aggregate is satisfied by the nation
    * clustering via the subset rule (same (nation, day) ⇒ same
    * nation ⇒ same partition; partials still combine map-side), and
    * the RANGE window requires exactly that clustering. The naive
    * form (groupBy first) plans hash(n_name, day) for the aggregate
    * and then a SECOND full hash(n_name) exchange for the window,
    * because the subset rule only runs the other way —
    * hash(n_name, day) does NOT satisfy ClusteredDistribution(n_name).
    * Parallelism is bounded by nation cardinality either way (the
    * window is per-nation), so pre-clustering costs nothing.
    * Window sums stay DECIMAL until the final double cast, so frame
    * accumulation order is irrelevant. PlanQualitySpec pins the
    * one-exchange shape. */
  val q57 = QueryDef(
    "q57_trailing_range_window",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("n_name")).orderBy(col("day"))
        .rangeBetween(-29, 0)
      val o = graft.Tables.orders(s, d)
      val c = graft.Tables.customer(s, d)
      val n = graft.Tables.nation(s, d)
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .withColumn("day",
          datediff(col("o_orderdate"), to_date(lit("1970-01-01"))))
        .repartition(col("n_name"))
        .groupBy(col("n_name"), col("day"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 4))).as("__rev"))
        .withColumn("__trail", sum(col("__rev")).over(w))
        .select(col("n_name"), col("day"),
          col("__rev").cast("double").as("day_rev"),
          col("__trail").cast("double").as("trailing_rev"))
        .orderBy(col("n_name"), col("day"))
    },
    Some("""
      WITH daily AS (
        SELECT n_name,
               datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2)
      SELECT n_name, CAST(day AS INT) AS day,
             CAST(rev AS DOUBLE) AS day_rev,
             CAST(sum(rev) OVER (PARTITION BY n_name ORDER BY day
                    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS trailing_rev
      FROM daily
      ORDER BY n_name, day"""))

  /** Custom DataSource V2 connector under the hash gate
    * ([[graft.sources.SyntheticSource]]): a deterministic synthetic
    * table read through the full DSv2 surface — `id` range predicates
    * push INTO the source (generation narrows; pruned rows are never
    * materialized), the projection prunes the read schema, and the
    * scan splits into parallel slices. The oracle replays the
    * identical rows from DuckDB's `range()`, so the connector's
    * pushdown arithmetic is externally hash-verified, not just
    * spec-asserted (SourcesSpec pins the pushdown/pruning plan). */
  val q58 = QueryDef(
    "q58_dsv2_source",
    (s, d) => {
      s.read.format("graft.sources.SyntheticSource")
        .option("rows", "100000").option("slices", "8").load()
        .filter(col("id") >= 25000L && col("id") < 75000L)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("value")).as("sum_value"))
        .orderBy(col("bucket"))
    },
    Some(s"""
      SELECT CAST((i * 2654435761) % 97 AS INT) AS bucket,
             count(*) AS n_rows,
             ${dsumSql("(i % 1000) / 10.0")} AS sum_value
      FROM range(25000, 75000) t(i)
      GROUP BY 1
      ORDER BY bucket"""))

  /** SESSION RETENTION analytics — windows at TWO granularities in
    * one pass. st02 pins the plain gap-sessionize (lag + running sum
    * → per-session aggregate); this query adds the analytic layer a
    * retention dashboard needs ON TOP of the session aggregate: a
    * second `lag` window at SESSION granularity computes each
    * session's idle gap since the user's previous session and flags
    * reactivations (> 48 h away). The scale story is that ALL of it —
    * event-level lag, running session number, per-session aggregate,
    * session-level lag — shares hash(user_id) clustering, so the
    * whole two-granularity pipeline costs ONE hash exchange + the
    * final ORDER BY (PlanQualitySpec pins 3 Windows / 2 Exchanges).
    * The naive form (sessionize, write, re-read, re-shuffle for the
    * session-level window) pays a second full shuffle of the
    * session table.
    * Gap math runs on integer epoch MICROS (`ts_ns div 1000`) — µs
    * is the precision floor both engines share (DuckDB 1.0 truncates
    * parquet nanos to µs on read, so its epoch_ns is µs·1000), and
    * integer µs arithmetic is exact in both. Tie rows (equal µs) get
    * gap 0 in any tie order, so per-session outputs are deterministic
    * under the (t_us, event_id) total order. */
  val q59 = QueryDef(
    "q59_session_retention",
    (s, d) => {
      val GAP_US = 6L * 3600 * 1000 * 1000 // 6 h session gap, in micros
      val REACT_US = 48L * 3600 * 1000 * 1000 // 48 h reactivation gap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("__t_us"), col("event_id"))
      val wRun = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      // session granularity: one row per (user, session) after the agg
      val wSess = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("session_seq"))
      graft.Tables.events(s, d)
        .withColumn("__t_us", expr("ts_ns div 1000"))
        .withColumn("__prev", lag(col("__t_us"), 1).over(w))
        .withColumn("__new",
          (col("__prev").isNull || col("__t_us") - col("__prev") > GAP_US)
            .cast("int"))
        .withColumn("session_seq", sum(col("__new")).over(wRun).cast("int"))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          min(col("__t_us")).as("start_us"),
          max(col("__t_us")).as("end_us"),
          dsum(col("value")).as("session_value"))
        .withColumn("idle_us",
          col("start_us") - lag(col("end_us"), 1).over(wSess))
        .withColumn("is_reactivation",
          (col("idle_us") > REACT_US).cast("int")) // null for session 1
        .orderBy(col("user_id"), col("session_seq"))
    },
    Some(s"""
      WITH g AS (
        SELECT user_id, event_id, epoch_us(ts) AS tus, value,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL OR
                         epoch_us(ts) - lag(epoch_us(ts)) OVER w > 21600000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      s AS (
        SELECT user_id, tus, value, event_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM g),
      agg AS (
        SELECT user_id, CAST(session_seq AS INT) AS session_seq,
               count(*) AS n_events, min(tus) AS start_us, max(tus) AS end_us,
               ${dsumSql("value")} AS session_value
        FROM s GROUP BY 1, 2)
      SELECT user_id, session_seq, n_events, start_us, end_us, session_value,
             start_us - lag(end_us) OVER ws AS idle_us,
             CAST(start_us - lag(end_us) OVER ws > 172800000000 AS INT)
               AS is_reactivation
      FROM agg
      WINDOW ws AS (PARTITION BY user_id ORDER BY session_seq)
      ORDER BY user_id, session_seq"""))

  /** HEAVY HITTERS via count-min sketch — completes the mergeable-
    * sketch family (q29 HLL estimate, q55 HLL rollup) with the
    * frequency sketch: the built-in `count_min_sketch` aggregate
    * builds a ~100 KB depth×width grid in ONE pass (mergeable across
    * partitions — the partial-agg tree merges grids cell-wise), and
    * the graft-native [[graft.functions.CmsEstimate]] expression
    * probes it — the read side Spark's SQL surface lacks.
    *
    * Gate form (the q29 within_bound idiom): the exact top-10 counts
    * hash-compare against DuckDB; the sketch contributes a boolean
    * per row checking the CMS contract — never underestimates (hard
    * guarantee of the min-over-rows estimate), overestimates ≤ 2·ε·N.
    * The textbook bound is ε·N with per-probe failure probability
    * δ=0.01 — too flaky for a hard per-row gate at an arbitrary SF
    * (10 probes ⇒ ~10% flake). Doubling the slack drops the failure
    * odds to ~(2e)^-depth ≈ 2·10⁻⁴ per probe while still asserting
    * the sketch is within a small constant of its contract. At 100 TB the
    * sketch replaces a full second aggregation pass for any "is this
    * key frequent?" probe: 100 KB of state per executor regardless
    * of key cardinality. */
  val q60 = QueryDef(
    "q60_heavy_hitters",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val li = graft.Tables.lineitem(s, d)
      val sk = li.agg(
        expr("count_min_sketch(l_partkey, 0.001d, 0.99d, 42)").as("__sk"),
        count(lit(1)).as("__n"))
      val top = li.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("l_partkey"))
        .limit(10)
      top.crossJoin(broadcast(sk))
        .withColumn("__est",
          call_function("graft_cms_estimate", col("__sk"), col("l_partkey")))
        .withColumn("within_bound",
          (col("__est") >= col("exact_cnt") &&
            col("__est").cast("double") <=
              col("exact_cnt") + col("__n").cast("double") * (2 * 0.001)).cast("int"))
        .select(col("l_partkey"), col("exact_cnt"), col("within_bound"))
        .orderBy(col("exact_cnt").desc, col("l_partkey"))
    },
    Some("""
      SELECT l_partkey, count(*) AS exact_cnt, CAST(1 AS INT) AS within_bound
      FROM lineitem GROUP BY l_partkey
      ORDER BY exact_cnt DESC, l_partkey LIMIT 10"""))

  /** COHORT RETENTION MATRIX — the canonical product-analytics
    * triangle: users grouped by FIRST-ACTIVITY week (their cohort),
    * each cohort followed week over week — cell (cohort, k) = how
    * many of the cohort's users were active k weeks later. Next to
    * q59 (session-level retention within a user's own history) this
    * is the population-level view growth teams actually chart.
    *
    * Shape at 100 TB: distinct (user, week) pairs in ONE pass; the
    * cohort assignment is a min-aggregate per user (map-side
    * combined); activity joins back to cohorts on user_id — both
    * sides hash-partition on the SAME key so the join reuses the
    * distinct's exchange; the final (cohort, k) aggregate is bounded
    * by weeks², not users. All integer (epoch-week via floor
    * division on epoch-days), bit-exact twin. */
  val q76 = QueryDef(
    "q76_cohort_retention",
    (s, d) => {
      val weeks = Tables.events(s, d)
        .select(col("user_id"),
          expr("CAST(ts_ns div 604800000000000 AS BIGINT)").as("week"))
        .distinct()
      val cohorts = weeks.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      weeks.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("weeks_since"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy(col("cohort_week"), col("weeks_since"))
    },
    Some("""
      WITH w AS (
        SELECT DISTINCT user_id,
               epoch_us(ts) // 604800000000 AS week
        FROM events),
      c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY user_id)
      SELECT c.cohort_week, w.week - c.cohort_week AS weeks_since,
             count(*) AS n_active
      FROM w JOIN c ON w.user_id = c.user_id
      GROUP BY 1, 2
      ORDER BY cohort_week, weeks_since"""))

  /** STATISTICAL ANOMALY FLAGS — per-group 2σ outlier detection
    * (statistical process control / data-quality monitoring) with an
    * EXACT-ARITHMETIC twin: the condition |x − µ| > 2σ is evaluated
    * as (n·x − S)² > 4·(n·Q − S²) over integer cents (S = Σx,
    * Q = Σx²) — multiplying through by n² removes the division and
    * the square removes the sqrt, so there is NO floating point
    * anywhere and the oracle compares bit-exact (the q66/q71
    * fixed-point discipline applied to second moments). Products run
    * in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): exact to 10³⁸,
    * overflow-safe far beyond the tested SFs; the production form at
    * 100 TB keeps the same two-pass shape with the decimal stats of
    * q44 ([[graft.functions.DecimalStatsAgg]]).
    *
    * Shape: one grouped agg over the fact (map-side combined sums),
    * broadcast the ≤|types|-row stats back onto the fact, count
    * flags — two fact passes, zero shuffles of the fact itself. */
  val q73 = QueryDef(
    "q73_anomaly_flags",
    (s, d) => {
      val cents = expr("CAST(round(value * 100) AS DECIMAL(38,0))")
      val e = Tables.events(s, d).select(col("event_type"), cents.as("x"))
      val stats = e.groupBy(col("event_type")).agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("q"))
      e.join(broadcast(stats), Seq("event_type"))
        .withColumn("is_anom",
          ((col("n") * col("x") - col("s")) * (col("n") * col("x") - col("s")) >
            (col("n") * col("q") - col("s") * col("s")) * 4).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("is_anom")).as("n_anomalies"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH c AS (
        SELECT event_type, CAST(round(value * 100) AS HUGEINT) AS x FROM events),
      st AS (
        SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
               sum(x) AS s, sum(x * x) AS q
        FROM c GROUP BY event_type)
      SELECT c.event_type, count(*) AS n_rows,
             CAST(sum(CASE WHEN (n * x - s) * (n * x - s) > 4 * (n * q - s * s)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
      FROM c JOIN st ON c.event_type = st.event_type
      GROUP BY c.event_type
      ORDER BY c.event_type"""))

  /** FORWARD-FILL imputation (LOCF — last observation carried
    * forward): the time-series repair primitive next to [[q51]]'s
    * dense-grid zero-fill — nulls inherit the most recent non-null
    * value within the key's ordered history.
    *
    * Runs through [[graft.ops.Locf.fill]], NOT the textbook
    * `last(ignoreNulls) OVER (PARTITION BY event_type ORDER BY
    * event_id)`: event_type has ~5 values, so the naive window hashes
    * the whole fact onto ~5 reducers — corpus/5 through one task's
    * sort at 100 TB, a straggler the plan gate's single-partition
    * check can't see (the t18/t21 low-cardinality-window trap, q40's
    * class). Locf segments each timeline into deterministic W-wide
    * ord buckets, fills within each (type, bucket) — W-bounded reducer
    * sorts — and stitches ONE carried value across each seam via a
    * corpus/W-row boundary table; the carry join reuses the window's
    * own (type, bucket) partitioning, so the fact still pays exactly
    * ONE exchange, the same count the naive window pays. LocfSpec
    * proves the two forms row-identical; the oracle replays the naive
    * window (single-node totality is free in DuckDB).
    *
    * The null pattern is synthesized deterministically (every 7th
    * event's value masked) so both engines fill the same holes;
    * output echoes n_filled per type to pin that the fill actually
    * engaged. */
  val q74 = QueryDef(
    "q74_forward_fill",
    (s, d) => {
      val e = Tables.events(s, d).select(col("event_id"), col("event_type"),
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value"))
          .as("v"))
      graft.ops.Locf.fill(e, Seq("event_type"), "event_id", "v", "v_filled")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("v").isNull.cast("long")).as("n_masked"),
          sum((col("v").isNull && col("v_filled").isNotNull).cast("long"))
            .as("n_filled"),
          QueryDef.dsum(col("v_filled")).as("sum_filled"))
        .orderBy(col("event_type"))
    },
    Some(s"""
      WITH m AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        FROM events),
      f AS (
        SELECT event_type, v,
               last_value(v IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        FROM m)
      SELECT event_type, count(*) AS n_rows,
             CAST(count(*) FILTER (WHERE v IS NULL) AS BIGINT) AS n_masked,
             CAST(count(*) FILTER (WHERE v IS NULL AND v_filled IS NOT NULL)
               AS BIGINT) AS n_filled,
             ${QueryDef.dsumSql("v_filled")} AS sum_filled
      FROM f
      GROUP BY event_type
      ORDER BY event_type"""))

  /** LINEAR INTERPOLATION — the third time-series repair primitive,
    * completing the trio ([[graft.queries.Relational.q51]] zero-fill
    * for MISSING ROWS, [[q74]] LOCF for trailing nulls, this for
    * interior nulls where a straight line between the surviving
    * neighbors beats carrying the stale value): every masked point
    * gets prev + (next − prev)·(t − t_prev) ÷ (t_next − t_prev),
    * head nulls backfill from the next observation, tail nulls carry
    * the previous one.
    *
    * Exactness: the series is integer cents (q73's proven
    * `round(value·100)` bridge) and the interpolation is ALL-INTEGER
    * — both engines' integer division truncates toward zero (probed:
    * DuckDB `//` and Spark `div` both give −7÷2 = −3), so negative
    * slopes divide identically and the repaired series is
    * bit-identical with no float in the formula.
    *
    * Shape at 100 TB: the four neighbor columns (prev/next value +
    * their positions) come from [[graft.ops.Locf.neighbors]] — the
    * seam-stitched two-phase form (range-partition by (type, id),
    * strict-frame windows within each P-bounded slice, one carried
    * observation per direction per seam), because the naive
    * hash(event_type) window puts corpus/|types| rows through each of
    * ~5 reducer sorts (the low-cardinality funnel q74 documents;
    * LocfSpec proves the stitched form row-identical). Two lessons
    * LIVE INSIDE that operator rather than here now: (a) the desc
    * pass is load-bearing — the natural `first(x) OVER (ROWS BETWEEN
    * 1 FOLLOWING AND UNBOUNDED FOLLOWING)` spelling makes Spark's
    * UnboundedFollowingWindowFunctionFrame RE-SCAN the frame from
    * each row to the partition end, O(n²) per partition, measured as
    * a multi-hour sf1 hang at 200k rows/partition (fine at sf0.1's
    * 20k — the bug class that hides below the bench SF); "nearest
    * FOLLOWING non-null" = "nearest PRECEDING non-null under the
    * REVERSED order", evaluated incrementally; (b) both direction
    * windows share one exchange. The repair itself is a narrow
    * projection and the report map-combines into |types| groups. */
  val q85 = QueryDef(
    "q85_linear_interp",
    (s, d) => {
      val e = Tables.events(s, d).select(col("event_id"), col("event_type"),
        when(col("event_id") % 7 === 0, lit(null))
          .otherwise(expr("CAST(round(value * 100) AS BIGINT)")).as("x"))
      val withN = graft.ops.Locf.neighbors(
        e, Seq("event_type"), "event_id", "x")
      val repaired = withN.withColumn("x_rep",
        when(col("x").isNotNull, col("x"))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            expr("pv + ((nv - pv) * (event_id - pt)) div (nt - pt)"))
          .when(col("pv").isNotNull, col("pv"))
          .otherwise(col("nv")))
      repaired.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("x").isNull.cast("long")).as("n_masked"),
          sum((col("x").isNull && col("pv").isNotNull && col("nv").isNotNull)
            .cast("long")).as("n_interp"),
          sum(col("x_rep")).as("sum_cents"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH m AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 7 = 0 THEN NULL
                    ELSE CAST(round(value * 100) AS BIGINT) END AS x
        FROM events),
      n AS (
        SELECT event_id, event_type, x,
               last_value(x IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
               last_value(CASE WHEN x IS NOT NULL THEN event_id END
                 IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
               first_value(x IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN x IS NOT NULL THEN event_id END
                 IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
        FROM m),
      r AS (
        SELECT event_type, x, pv, nv,
               CASE WHEN x IS NOT NULL THEN x
                    WHEN pv IS NOT NULL AND nv IS NOT NULL
                      THEN pv + ((nv - pv) * (event_id - pt)) // (nt - pt)
                    WHEN pv IS NOT NULL THEN pv
                    ELSE nv END AS x_rep
        FROM n)
      SELECT event_type, count(*) AS n_rows,
             CAST(count(*) FILTER (WHERE x IS NULL) AS BIGINT) AS n_masked,
             CAST(count(*) FILTER (WHERE x IS NULL AND pv IS NOT NULL
               AND nv IS NOT NULL) AS BIGINT) AS n_interp,
             CAST(sum(x_rep) AS BIGINT) AS sum_cents
      FROM r
      GROUP BY event_type
      ORDER BY event_type"""))

  /** EVENT TRANSITION MATRIX — first-order Markov counts over each
    * user's time-ordered event stream: P(next = B | current = A) is
    * the navigation-flow / recommender-prior primitive next to the
    * funnel (q56: a FIXED ordered pattern) and sessionization
    * (q59: boundaries, not order). One lag window per user plus one
    * global bigram aggregate.
    *
    * Shape at 100 TB: ONE hash exchange on user_id feeds the lag
    * window (per-user partitions sort locally on (ts, event_id) — the
    * unique id breaks timestamp ties so the matrix is deterministic);
    * the bigram count then map-side combines into at most |types|²
    * groups — a constant-size result regardless of SF, like q02. No
    * self-join of the fact to its successor (the naive form shuffles
    * the fact twice and explodes on ts ties). */
  val q70 = QueryDef(
    "q70_transition_matrix",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ns"), col("event_id"))
      e.select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n_transitions"))
        .orderBy(col("prev_type"), col("event_type"))
    },
    Some("""
      WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events)
      SELECT prev_type, event_type, count(*) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
      ORDER BY prev_type, event_type"""))

  /** TABLE PROFILE — the ANALYZE-TABLE primitive every 100 TB
    * warehouse runs before anything else: per-column row count, null
    * count, distinct count, min/max, in ONE pass over the fact (the
    * optimizer-statistics / data-discovery operator; Spark's own CBO
    * consumes exactly these numbers). The scale path for NDV is the
    * HLL sketch — `approx_count_distinct` per column rides the same
    * single aggregate, while the EXACT ndv twin (what the oracle
    * compares) costs an Expand ×columns that a production profiler
    * would skip. The per-column wide aggregate becomes per-row output
    * via `stack` — one pass, no per-column scans.
    *
    * Parity notes: null counts via count(*) − count(c) (exact longs),
    * min/max rendered to strings (long → decimal-free digits,
    * DECIMAL(12,2) → identical "123.45" in both engines, strings
    * compare bytewise in both); sketch folds into within_bound per
    * the q29 discipline (rsd 0.05, bound 0.15 ≈ 3σ).
    *
    * Plan note: the production pass is ONE codegen hash aggregate (no
    * distinct). Putting the 5 exact NDVs in the same aggregate plans
    * the multi-distinct Expand — every row replicated ×6 through an
    * ObjectHashAggregate, measured 5.3 s warm at sf0.1; as 5 separate
    * column-pruned two-phase distincts UNIONed it is a fraction of
    * that, and the production profiler would skip the exact side
    * entirely. */
  val q69 = QueryDef(
    "q69_table_profile",
    (s, d) => {
      val o = Tables.orders(s, d)
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority")
      // production pass: one codegen aggregate, no distinct anywhere
      val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
        Seq(count(col(c)).as(s"__cnt_$c"),
          approx_count_distinct(col(c), 0.05).as(s"__apx_$c"),
          min(col(c)).cast("string").as(s"__min_$c"),
          max(col(c)).cast("string").as(s"__max_$c"))
      }
      val stackArgs = cols.map { c =>
        s"'$c', __n - __cnt_$c, __apx_$c, __min_$c, __max_$c"
      }.mkString(", ")
      val base = o.agg(aggs.head, aggs.tail: _*)
        .select(col("__n").as("n_rows"), expr(
          s"stack(${cols.size}, $stackArgs) AS " +
            "(col_name, n_nulls, __apx, min_s, max_s)"))
      // oracle twin: exact NDV per column as column-pruned two-phase
      // distincts (each a pruned scan + codegen agg), unioned
      val exact = cols.map { c =>
        o.select(col(c)).agg(countDistinct(col(c)).as("ndv_exact"))
          .select(lit(c).as("col_name"), col("ndv_exact"))
      }.reduce(_ union _)
      base.join(exact, Seq("col_name"))
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("ndv_exact"), col("min_s"), col("max_s"),
          (abs(col("__apx") - col("ndv_exact")).cast("double") /
            col("ndv_exact") <= 0.15).cast("int").as("within_bound"))
        .orderBy(col("col_name"))
    },
    Some("""
      SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
             count(*) - count(o_orderkey) AS n_nulls,
             count(DISTINCT o_orderkey) AS ndv_exact,
             CAST(min(o_orderkey) AS VARCHAR) AS min_s,
             CAST(max(o_orderkey) AS VARCHAR) AS max_s,
             CAST(1 AS INT) AS within_bound
      FROM orders
      UNION ALL
      SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
             count(DISTINCT o_custkey),
             CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR),
             CAST(1 AS INT)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
             count(DISTINCT o_orderstatus),
             min(o_orderstatus), max(o_orderstatus), CAST(1 AS INT)
      FROM orders
      UNION ALL
      SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
             count(DISTINCT o_totalprice),
             CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR),
             CAST(1 AS INT)
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
             count(DISTINCT o_orderpriority),
             min(o_orderpriority), max(o_orderpriority), CAST(1 AS INT)
      FROM orders
      ORDER BY col_name"""))

  /** FREQUENT ITEMS via Misra-Gries sketch — the top-k complement of
    * [[q60]]'s count-min: a CMS can answer "how often does THIS key
    * occur?" but cannot NAME the heavy hitters, so finding them still
    * costs an exact per-key aggregation pass. The frequent-items
    * sketch ([[graft.functions.FreqSketchAgg]], DataSketches
    * LongsSketch) carries the candidate set inside its bounded map:
    * ONE pass over 100 TB yields the top items AND deterministic
    * frequency bounds (lb ≤ true ≤ ub, error ≤ n/maxMapSize, no
    * randomness anywhere — Misra-Gries purges are deterministic)
    * from maxMapSize counters per executor. NO_FALSE_NEGATIVES means
    * a true heavy hitter can never be missed.
    *
    * Gate form (q60 discipline): the exact top-10 is hash-compared;
    * the sketch folds into within_bound = the Misra-Gries invariant
    * (lb ≤ exact ≤ ub AND ub − lb ≤ 4·n/maxMapSize — the library's
    * purge analysis gives ≤ 3.5·n/M a-priori, widened to 4 per the
    * q60 lesson) checked per probe — a deterministic guarantee, not
    * a probabilistic bound, so the flag is 1 at every SF by
    * construction unless the sketch is wrong. */
  val q68 = QueryDef(
    "q68_frequent_items",
    (s, d) => {
      import graft.functions.FreqSketchAgg.{freqSketch, freqBounds}
      val e = Tables.events(s, d)
      val sk = e.agg(freqSketch(col("user_id"), 128).as("__sk"),
        count(lit(1)).as("__n"))
      val top = e.groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id"))
        .limit(10)
      top.crossJoin(broadcast(sk))
        .withColumn("__b", freqBounds(col("__sk"), col("user_id")))
        .withColumn("within_bound",
          (col("__b.lb") <= col("exact_cnt") &&
            col("exact_cnt") <= col("__b.ub") &&
            col("__b.ub") - col("__b.lb") <= expr("(4L * __n) div 128L")).cast("int"))
        .select(col("user_id"), col("exact_cnt"), col("within_bound"))
        .orderBy(col("exact_cnt").desc, col("user_id"))
    },
    Some("""
      SELECT user_id, count(*) AS exact_cnt, CAST(1 AS INT) AS within_bound
      FROM events GROUP BY user_id
      ORDER BY exact_cnt DESC, user_id LIMIT 10"""))

  /** SET-OVERLAP via theta sketches — the set operation the HLL family
    * (q29/q55/st10) cannot express: |A ∩ B| between every pair of
    * event-type audiences from KILOBYTE sketches, no pairwise
    * exact-distinct join over the raw events.
    *
    * Shape at 100 TB: ONE pass over the fact builds a mergeable theta
    * sketch per group (Spark's `theta_sketch_agg`, map-side combined
    * like any aggregate buffer; `theta_union_agg` rolls stored
    * sketches up to coarser groupings, the q55 pattern). All
    * G·(G−1)/2 pairwise overlaps then come from the G-row sketch
    * table alone — here via a broadcast non-equi self-join on the
    * 5-row (event-type cardinality, a constant) aggregate, the raw
    * 100k..100G-row events table untouched.
    *
    * Gate form (q29 discipline): per-type exact users and pairwise
    * exact overlap are hash-compared; the sketch estimate folds into
    * `within_bound` = |est − exact| ≤ 5%·|A ∪ B| + 0.5 (intersection
    * error is relative to the UNION size; ≈ 3σ at lgK=12, and at the
    * test SFs the sketch is below saturation so est is EXACT — the
    * flag is deterministic). The exact branch exists FOR the oracle;
    * the sketch branch is the scale path. */
  val q61 = QueryDef(
    "q61_sketch_overlap",
    (s, d) => {
      val e = Tables.events(s, d)
      // 5 rows (one per event type): sketch + exact audience size.
      // persisted: referenced as BOTH sides of the pair join — without
      // the cache the sketch aggregate over the fact runs twice
      val sk = Memo.persist(
        e.groupBy(col("event_type"))
          .agg(theta_sketch_agg(col("user_id"), 12).as("sk"),
            countDistinct(col("user_id")).as("users")))
      val a = sk.select(col("event_type").as("type_a"),
        col("sk").as("sk_a"), col("users").as("users_a"))
      val b = sk.select(col("event_type").as("type_b"),
        col("sk").as("sk_b"), col("users").as("users_b"))
      val ut = e.select(col("user_id"), col("event_type")).distinct()
      val ov = ut.as("x").join(ut.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("exact_overlap"))
      ov.join(broadcast(a), Seq("type_a"))
        .join(broadcast(b), Seq("type_b"))
        .withColumn("__est",
          theta_sketch_estimate(theta_intersection(col("sk_a"), col("sk_b"))))
        .withColumn("within_bound",
          (abs(col("__est") - col("exact_overlap")) <=
            (col("users_a") + col("users_b") - col("exact_overlap"))
              .cast("double") * 0.05 + 0.5).cast("int"))
        .select(col("type_a"), col("type_b"), col("users_a"),
          col("users_b"), col("exact_overlap"), col("within_bound"))
        .orderBy(col("type_a"), col("type_b"))
    },
    Some("""
      WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      cnt AS (SELECT event_type, count(*) AS users FROM ut GROUP BY 1),
      ov AS (
        SELECT x.event_type AS type_a, y.event_type AS type_b,
               count(*) AS exact_overlap
        FROM ut x JOIN ut y
          ON x.user_id = y.user_id AND x.event_type < y.event_type
        GROUP BY 1, 2)
      SELECT type_a, type_b, ca.users AS users_a, cb.users AS users_b,
             exact_overlap, CAST(1 AS INT) AS within_bound
      FROM ov
      JOIN cnt ca ON ca.event_type = ov.type_a
      JOIN cnt cb ON cb.event_type = ov.type_b
      ORDER BY type_a, type_b"""))

  /** Z-ORDER DATA LAYOUT — multi-dimensional clustering for file-level
    * data skipping (the Delta `OPTIMIZE ZORDER BY` / Hudi clustering
    * primitive), via the graft-native [[graft.functions.ZOrderKey]]
    * Morton-interleave expression (codegen'd long bit-math).
    *
    * At 100 TB the scan is won at the file-skipping level: min/max
    * file statistics prune on ONE linear-sort dimension only, while a
    * z-ordered layout keeps BOTH dimensions' per-file ranges tight —
    * each contiguous key range is a bounded rectangle in value space.
    * This query runs the layout math end to end and MEASURES the
    * benefit: scale (l_partkey, l_suppkey) to 16-bit cells (bounds
    * from one ungrouped-agg pass, broadcast back — the stats pass a
    * real OPTIMIZE does), interleave to a 32-bit Morton key, cut the
    * key space into 64 z-cells (top 6 bits = the "files"), and emit
    * each cell's row count + per-dimension min/max rectangle plus
    * `prunes_probe`: whether the cell's x-range misses a fixed probe
    * band (xc in [8192, 16383]) entirely — i.e. whether a real scan
    * with that predicate would skip the "file". A linear layout prunes
    * ~0% of files on the secondary dimension; the z-layout prunes
    * ~3/4 here. One shuffle (the 64-group hash agg); a physical
    * rewrite would repartitionByRange on the full key — same math.
    *
    * Oracle: identical spread-shift-mask rounds written as DuckDB
    * bitwise SQL, floor division on both sides (values nonnegative).
    */
  val q62 = QueryDef(
    "q62_zorder_layout",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(
        col("l_partkey").cast("long").as("x"),
        col("l_suppkey").cast("long").as("y"))
      val bounds = li.agg(
        min(col("x")).as("__minx"), max(col("x")).as("__maxx"),
        min(col("y")).as("__miny"), max(col("y")).as("__maxy"))
      li.crossJoin(broadcast(bounds))
        .withColumn("xc", expr(
          "((x - __minx) * 65535) DIV greatest(__maxx - __minx, 1)"))
        .withColumn("yc", expr(
          "((y - __miny) * 65535) DIV greatest(__maxy - __miny, 1)"))
        .withColumn("bucket", shiftright(
          graft.functions.ZOrderKey.zorder(col("xc"), col("yc")), 26))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("xc")).as("min_xc"), max(col("xc")).as("max_xc"),
          min(col("yc")).as("min_yc"), max(col("yc")).as("max_yc"))
        .withColumn("prunes_probe",
          (col("max_xc") < 8192 || col("min_xc") > 16383).cast("int"))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH b AS (
        SELECT CAST(min(l_partkey) AS BIGINT) AS minx, CAST(max(l_partkey) AS BIGINT) AS maxx,
               CAST(min(l_suppkey) AS BIGINT) AS miny, CAST(max(l_suppkey) AS BIGINT) AS maxy
        FROM lineitem),
      c AS (
        SELECT ((CAST(l_partkey AS BIGINT) - minx) * 65535) // greatest(maxx - minx, 1) AS xc,
               ((CAST(l_suppkey AS BIGINT) - miny) * 65535) // greatest(maxy - miny, 1) AS yc
        FROM lineitem, b),
      s1 AS (SELECT xc, yc, (xc | (xc << 8)) & 16711935 AS xs,
                            (yc | (yc << 8)) & 16711935 AS ys FROM c),
      s2 AS (SELECT xc, yc, (xs | (xs << 4)) & 252645135 AS xs,
                            (ys | (ys << 4)) & 252645135 AS ys FROM s1),
      s3 AS (SELECT xc, yc, (xs | (xs << 2)) & 858993459 AS xs,
                            (ys | (ys << 2)) & 858993459 AS ys FROM s2),
      s4 AS (SELECT xc, yc, (xs | (xs << 1)) & 1431655765 AS xs,
                            (ys | (ys << 1)) & 1431655765 AS ys FROM s3),
      z AS (SELECT xc, yc, (xs | (ys << 1)) >> 26 AS bucket FROM s4)
      SELECT bucket, count(*) AS n,
             min(xc) AS min_xc, max(xc) AS max_xc,
             min(yc) AS min_yc, max(yc) AS max_yc,
             CAST(CASE WHEN max(xc) < 8192 OR min(xc) > 16383 THEN 1 ELSE 0 END AS INT)
               AS prunes_probe
      FROM z GROUP BY bucket ORDER BY bucket"""))

  /** BLOOM-INDEXED POINT LOOKUP — the read side of
    * [[graft.ops.Layout.bloomIndex]] and the q62 layout family's
    * third skipping primitive: min/max stats serve clustered ranges,
    * z-order serves 2-d rectangles, and per-row-group parquet BLOOM
    * filters serve needle lookups (`key IN (...)`) on columns the
    * file order does NOT cluster — an in-range absent key prunes
    * nothing by stats, but the bloom rejects the row group from a
    * few KB of footer-region bytes. At 100 TB: a secondary-key point
    * query touches a handful of row groups instead of the whole
    * table, with zero reclustering of the primary layout.
    *
    * The query rewrites the fact once per run into a bloom-indexed
    * temp copy (the st06 temp-dir pattern), then runs the lookup
    * through the stock Spark parquet scan — pushed In predicates hit
    * parquet-mr's bloom row-group filtering automatically. The
    * 16-key probe list is materialized driver-side first (bounded,
    * the q58 runtime-filter id-list precedent); the oracle computes
    * the same keys as a CTE over the original table, so the gate
    * proves the indexed copy answers exactly like the source. */
  val q67 = QueryDef(
    "q67_bloom_lookup",
    (s, d) => {
      val tmp = TempDirs.create("graft-q67")
      graft.ops.Layout.bloomIndex(s, s"$d/lineitem.parquet", s"$tmp/li",
        targetFileBytes = 4L << 20, Seq("l_orderkey"), expectedNdv = 131072L)
      val indexed = s.read.parquet(s"$tmp/li")
      val keys = indexed.select(col("l_orderkey")).distinct()
        .orderBy(col("l_orderkey")).limit(16).collect().map(_.getLong(0))
      indexed.filter(col("l_orderkey").isin(keys: _*))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          QueryDef.dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("l_orderkey"))
    },
    Some(s"""
      WITH k AS (
        SELECT DISTINCT l_orderkey FROM lineitem ORDER BY 1 LIMIT 16)
      SELECT l.l_orderkey, count(*) AS n_lines,
             ${QueryDef.dsumSql("l.l_extendedprice")} AS revenue
      FROM lineitem l JOIN k USING (l_orderkey)
      GROUP BY 1 ORDER BY 1"""))

  /** TARGETED DELETE with file-level skipping
    * ([[graft.ops.Delete.targetedDelete]]) — the GDPR /
    * retention-expiry write path of the q62/q67 layout family: the
    * layout's data-skipping stats bound which files a keyed DELETE
    * must rewrite, and every other file is carried forward
    * byte-identical (DeleteSpec proves the bytes; this gate proves
    * the surviving CONTENT end-to-end through a real on-disk delete,
    * read back from the output directory).
    *
    * The doomed keys are the lowest custkey decile — a narrow key
    * range, so under the range-clustered 8-file layout the rewrite
    * touches ~1 file and the rest are skipped; `files_skipped`
    * surfaces that as a within_bound-style flag the oracle asserts
    * literal 1 (file counts themselves are not SQL-expressible).
    *
    * At 100 TB: discovery is a key-column scan with the key filter
    * pushed onto min/max-clustered parquet; the rewrite cost is
    * O(touched files); the carry-forward is a manifest re-point in a
    * real table format (FS copy only in this directory stand-in). */
  val q78 = QueryDef(
    "q78_targeted_delete",
    (s, d) => {
      val tmp = TempDirs.create("graft-q78")
      val t = s"$tmp/orders"
      val base = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      // custkey-clustered layout: range partition + local sort gives
      // each file a tight custkey min/max band
      base.repartitionByRange(8, col("o_custkey"))
        .sortWithinPartitions(col("o_custkey"))
        .write.parquet(t)
      val thr = base.agg(max(col("o_custkey"))).head().getLong(0) / 10L
      val keys = s.read.parquet(t)
        .select(col("o_custkey")).where(col("o_custkey") <= thr).distinct()
      val stats = graft.ops.Delete.targetedDelete(
        s, t, s"$tmp/out", "o_custkey", keys)
      s.read.parquet(s"$tmp/out")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          QueryDef.dsum(col("o_totalprice")).as("total_price"))
        .withColumn("files_skipped",
          lit(stats.filesSkipped > 0).cast("int"))
        .orderBy(col("o_orderstatus"))
    },
    Some(s"""
      WITH thr AS (SELECT max(o_custkey) // 10 AS t FROM orders)
      SELECT o_orderstatus, count(*) AS n_orders,
             ${QueryDef.dsumSql("o_totalprice")} AS total_price,
             CAST(1 AS INT) AS files_skipped
      FROM orders, thr
      WHERE o_custkey > t
      GROUP BY 1 ORDER BY 1"""))

  /** TRAILING-WINDOW DISTINCT via sketch union — the WAU/rolling-MAU
    * primitive: distinct users over each trailing 7-day window, from
    * per-day HLL sketches unioned across the window. COUNT(DISTINCT)
    * does not decompose over windows (users overlap days), so the
    * exact form must re-scan every window; mergeable sketches make
    * the trailing union a kilobyte-level operation — the q55
    * persisted-sketch pattern extended to SLIDING windows.
    *
    * Shape at 100 TB: ONE pass over events builds a day-keyed sketch
    * table (map-side combined, |days| rows bounded by the calendar,
    * not SF); each day's sketch then contributes to its 7 trailing
    * windows by an offset-explode (×7 on the DAY table, not the
    * fact) + hll_union_agg — no global window (plan-gate clean), no
    * range join, no second pass over raw events. The exact twin
    * (distinct pairs → same offset-explode → countDistinct) exists
    * FOR the oracle and is itself shuffle-honest.
    *
    * Gate form (q29/st10 discipline): exact trailing counts
    * hash-compare; the sketch folds into within_bound = |est−exact|
    * ≤ 5%·exact (lgK=12 ⇒ rsd ≈ 1.6%, 3σ ≈ 5%), asserted literal 1
    * by the oracle and verified at both SFs. */
  val q63 = QueryDef(
    "q63_trailing_distinct",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(expr("ts_ns div 86400000000000").as("day"), col("user_id"))
      // scale path: day-keyed sketches from ONE pass over the fact
      val daily = e.groupBy(col("day"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      val est = daily
        .select(explode(sequence(col("day"), col("day") + 6)).as("day"), col("sk"))
        .groupBy(col("day"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("__est"))
      // exact twin (for the oracle): distinct pairs, same offset-explode
      val exact = e.distinct()
        .select(explode(sequence(col("day"), col("day") + 6)).as("day"), col("user_id"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("users_7d"))
      // keep only real days (offset-explode fabricates post-horizon days)
      daily.select(col("day"))
        .join(exact, Seq("day")).join(est, Seq("day"))
        .withColumn("within_bound",
          (abs(col("__est") - col("users_7d")) <=
            col("users_7d").cast("double") * 0.05).cast("int"))
        .select(col("day"), col("users_7d"), col("within_bound"))
        .orderBy(col("day"))
    },
    Some("""
      WITH pairs AS (
        SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
      contrib AS (
        SELECT day + g AS day, user_id
        FROM pairs, generate_series(0, 6) AS t(g)),
      exact AS (
        SELECT day, count(DISTINCT user_id) AS users_7d
        FROM contrib GROUP BY day)
      SELECT e.day, e.users_7d, CAST(1 AS INT) AS within_bound
      FROM exact e JOIN (SELECT DISTINCT day FROM pairs) real USING (day)
      ORDER BY day"""))

  /** DAILY CHURN via theta-sketch DIFFERENCE — completes the sketch
    * set algebra: union (q55/q63), intersection (q61), and now A\B
    * (Spark's `theta_difference`, DataSketches AnotB):
    * "users active today who were NOT active yesterday" from stored
    * kilobyte sketches — the new-arrivals/churn product metric that
    * otherwise needs a day-over-day anti-join over the raw fact.
    *
    * Shape at 100 TB: the day-keyed sketch table comes from ONE pass
    * (mergeable, map-side combined, |days| rows); the day-over-day
    * comparison is a self-join of that tiny table shifted by one day.
    * The sketch table is persisted once for both sides of the shift
    * join (the q61 pattern). The exact anti-join twin exists FOR the
    * oracle. First day has no predecessor → its "new users" are all
    * its users (empty B), handled by the null branch.
    *
    * Gate form (q29 discipline): exact per-day users and new_users
    * hash-compare; the sketch folds into within_bound = |est−exact| ≤
    * 5%·(|A|+|B|)+0.5 (AnotB error scales with the union; ≈3σ at
    * lgK=12; exact below saturation), asserted at both SFs. */
  val q64 = QueryDef(
    "q64_sketch_churn",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(expr("ts_ns div 86400000000000").as("day"), col("user_id"))
      val daily = Memo.persist(
        e.groupBy(col("day")).agg(
          theta_sketch_agg(col("user_id"), 12).as("sk"),
          countDistinct(col("user_id")).as("users")))
      val prev = daily.select((col("day") + 1).as("day"),
        col("sk").as("sk_prev"), col("users").as("users_prev"))
      val pairs = e.distinct()
      val y = pairs.select((col("day") + 1).as("day"), col("user_id"))
      val exact = pairs.join(y, Seq("day", "user_id"), "left_anti")
        .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      daily.join(prev, Seq("day"), "left")
        .join(exact, Seq("day"))
        .withColumn("__est",
          theta_sketch_estimate(when(col("sk_prev").isNull, col("sk"))
            .otherwise(theta_difference(col("sk"), col("sk_prev")))))
        .withColumn("within_bound",
          (abs(col("__est") - col("new_users")) <=
            (col("users") + coalesce(col("users_prev"), lit(0L)))
              .cast("double") * 0.05 + 0.5).cast("int"))
        .select(col("day"), col("users"), col("new_users"), col("within_bound"))
        .orderBy(col("day"))
    },
    Some("""
      WITH pairs AS (
        SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
      cnt AS (SELECT day, count(*) AS users FROM pairs GROUP BY day),
      nw AS (
        SELECT p.day, count(*) AS new_users
        FROM pairs p LEFT JOIN pairs y
          ON y.day = p.day - 1 AND y.user_id = p.user_id
        WHERE y.user_id IS NULL
        GROUP BY p.day)
      SELECT day, users, new_users, CAST(1 AS INT) AS within_bound
      FROM cnt JOIN nw USING (day)
      ORDER BY day"""))

  /** QUANTILE-SKETCH warehouse rollup via KLL — the fourth member of
    * the mergeable-sketch algebra (HLL distinct q29/q55, count-min
    * frequency q60, theta set-ops q61/q64, and now KLL quantiles:
    * Spark's `kll_sketch_agg_double`/`kll_merge_agg_double`, probed
    * through [[graft.functions.GraftFunctions.kllQuantile]], which
    * answers NULL for an empty sketch). What it adds over [[q35]]'s
    * approx_percentile: GK buffers merge only WITHIN one aggregation —
    * they cannot be persisted and re-merged later, so every new
    * percentile question rescans the fact. Here stage 1 builds one
    * few-KB KLL sketch per FINE bucket (status × priority — at 100 TB:
    * per day/partition, persisted alongside the aggregates), and
    * stage 2 merges the STORED sketches to the coarser grouping and
    * probes p50/p90/p99 from kilobytes — any quantile, any rollup,
    * zero fact rescans. That is how a latency/price dashboard works at
    * 100 TB: the fact is read once, ever.
    *
    * Gate form (the q35 rank-window idiom + q55 rollup discipline):
    * exact percentiles and the bucket count hash-compare; the merged
    * sketch's probes fold into within_bound = each KLL value lands
    * between the exact quantiles at rank r ± 2ε (KLL k=200 ⇒
    * ε ≈ 1.65% at 99% confidence, library getNormalizedRankError;
    * doubling it puts per-probe flake odds below 1e-6 — the q60
    * widen-the-bound lesson; p99's upper edge caps at rank 1.0). */
  val q65 = QueryDef(
    "q65_kll_quantile_rollup",
    (s, d) => {
      import graft.functions.GraftFunctions.kllQuantile
      val o = Tables.orders(s, d)
      // stage 1: one bounded-size sketch per fine bucket
      val parts = o.groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(kll_sketch_agg_double(col("o_totalprice").cast("double"), 200).as("sk"))
      // stage 2: merge stored sketches up to the coarser grouping
      val merged = parts.groupBy(col("o_orderstatus"))
        .agg(kll_merge_agg_double(col("sk"), 200).as("sk"), count(lit(1)).as("n_parts"))
        .select(col("o_orderstatus"), col("n_parts"),
          kllQuantile(col("sk"), 0.5).as("__k50"),
          kllQuantile(col("sk"), 0.9).as("__k90"),
          kllQuantile(col("sk"), 0.99).as("__k99"))
      val exact = o.groupBy(col("o_orderstatus"))
        .agg(
          expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").as("__ex"),
          expr("percentile(o_totalprice, array(0.467, 0.867, 0.957))").as("__lo"),
          expr("percentile(o_totalprice, array(0.533, 0.933, 1.0))").as("__hi"))
      merged.join(exact, Seq("o_orderstatus"))
        .select(
          col("o_orderstatus"),
          round(element_at(col("__ex"), 1), 2).as("p50"),
          round(element_at(col("__ex"), 2), 2).as("p90"),
          round(element_at(col("__ex"), 3), 2).as("p99"),
          col("n_parts"),
          Seq(("__k50", 1), ("__k90", 2), ("__k99", 3)).map { case (k, i) =>
            col(k).between(
              element_at(col("__lo"), i), element_at(col("__hi"), i))
          }.reduce(_ && _).cast("int").as("within_bound"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""
      SELECT o_orderstatus,
             round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
             round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
             round(quantile_cont(o_totalprice, 0.99), 2) AS p99,
             count(DISTINCT o_orderpriority) AS n_parts,
             CAST(1 AS INT) AS within_bound
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  /** Semi-structured extraction: JSON props column (events.props is
    * `{"k": <int>}`). Spark `get_json_object` vs DuckDB regexp — same
    * values on this shape. */
  val q27 = QueryDef(
    "q27_json_extract",
    (s, d) => {
      val e = Tables.events(s, d)
      e.select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("k_sum"), count(col("k")).as("k_count"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type,
             CAST(sum(TRY_CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INT)) AS BIGINT) AS k_sum,
             count(TRY_CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INT)) AS k_count
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Typed-Dataset aggregation: per-event-type count/mean/variance via
    * the `Aggregator` API over a case-class Dataset
    * ([[graft.functions.DecimalStatsAgg]] —
    * `groupByKey(_.key).agg(toColumn)`), completing the API-surface
    * ladder: SQL text (q28) / DataFrame ops (everything) / Catalyst
    * expressions (q33/q34/t07) / typed Dataset (here).
    *
    * Parity discipline: the value is cast to DECIMAL(18,6) by
    * Catalyst BEFORE entering typed code (so JVM arithmetic never
    * re-implements cast semantics), sums stay exact decimals through
    * reduce/merge, and mean/variance leave `finish` as raw doubles
    * that are rounded by Spark's own `round` — the oracle spells the
    * identical IEEE sequence on DuckDB's exact decimal sums. Plan
    * note: typed aggregation still gets map-side partial buffers
    * (ObjectHashAggregate), one shuffle on the group key. */
  val q44 = QueryDef(
    "q44_typed_agg",
    (s, d) => {
      import s.implicits._
      // null values filtered BEFORE typed code, mirroring the oracle's
      // WHERE: an event type whose values are ALL null must be absent
      // from both sides (not present with n=0), and inside the
      // aggregate every group then has n >= 1
      val ds = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_type").as("key"),
          col("value").cast(DecimalType(18, 6)).as("value"))
        .as[graft.functions.DecValue]
      ds.groupByKey(_.key)
        .agg(graft.functions.DecimalStatsAgg.toColumn.name("stats"))
        .toDF("event_type", "stats")
        .select(col("event_type"), col("stats.n_vals").as("n_vals"),
          round(col("stats.mean"), 6).as("mean"),
          round(col("stats.var_samp"), 6).as("var_samp"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH d AS (
        SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v
        FROM events WHERE value IS NOT NULL),
      a AS (
        SELECT event_type, count(*) AS n_vals,
               CAST(sum(v) AS DOUBLE) AS s,
               CAST(sum(v * v) AS DOUBLE) AS ss
        FROM d GROUP BY event_type)
      SELECT event_type, n_vals,
             round(s / n_vals, 6) AS mean,
             CASE WHEN n_vals <= 1 THEN NULL
                  ELSE round((ss - s * s / n_vals) / (n_vals - 1), 6)
             END AS var_samp
      FROM a ORDER BY event_type"""))

  /** EQUI-DEPTH HISTOGRAM — the optimizer's selectivity structure
    * (what `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS` builds,
    * completing the stats family next to [[q69]]'s profile): 8
    * equal-population buckets over o_totalprice — boundary values at
    * the exact octile percentiles, per-bucket row counts from one
    * assignment pass. Equi-depth beats equi-width under skew: every
    * bucket carries the same evidence weight, so range-selectivity
    * estimates have uniform relative error.
    *
    * Parity discipline: boundaries are ROUNDED (2 dec) in both
    * engines BEFORE bucket assignment — the q32 rule extended from
    * "compare the percentile" to "branch on the percentile": raw
    * interpolated doubles could differ in the last ulp and flip a
    * boundary-equal row's bucket, rounded ones cannot.
    *
    * At 100 TB: two fact passes (exact-percentile aggregate; bucket
    * assignment against the broadcast 1-row boundary set — a
    * map-combined 8-group aggregate). The exact percentile is the
    * small-N path; at petabyte N the boundary pass swaps for the
    * mergeable KLL sketch ([[q65]]) with the same downstream shape. */
  /** Shared one-row EXACT octile boundary table over orders — the
    * expensive pass both [[q83]] and [[q93]] start from, spelled once
    * so the two queries' canonical plans are identical and the
    * persisted materialization is shared across them (the Shingles
    * discipline: a 100 TB deployment writes the boundary table once
    * per corpus snapshot and feeds every histogram job from it).
    * ONE percentile aggregate over the octile array — seven scalar
    * percentile(x, p) calls each materialize their own full-value
    * buffer (7× the state and sort work; measured 2.9 s at sf0.1 in
    * the bench vs sub-second for the fused call).
    *
    * ADJUDICATED TRADE: the persist costs a COLD standalone q83
    * ~+0.26 s at sf0.1 (0.73→0.99 —
    * cache materialization it didn't pay before) and hands q93 the
    * same amount back warm, so the suite is net-neutral and sf1 is
    * flat. Kept as-is rather than made conditional: a
    * persist-only-if-q93-runs dial would couple two queries' plans
    * through hidden session state, and the 100 TB deployment shape —
    * write the boundary table once per corpus snapshot, feed every
    * histogram job from it — is exactly what the unconditional
    * shared persist rehearses. Audit NOTE carries the numbers. */
  /** The exact boundary pass is a DISTRIBUTED SELECTION instead of
    * the `percentile(x, array(...))` aggregate. That
    * aggregate buffers every value: each map task builds a value map,
    * and the final merge concatenates ALL N values into ONE reducer
    * and sorts them single-threaded — the measured ×7.2 sf0.1→sf1
    * wall ratio (1.0 → 7.3 s) was that reducer, and at petabyte N it
    * is the exact-path bottleneck q93's KLL swap exists to dodge.
    * Selection does what a distributed ORDER BY already knows how to
    * do: range-partition + local sort (pinned by an eager
    * localCheckpoint, the Pack discipline — both passes must observe
    * identical partition boundaries), per-partition row counts to the
    * driver (P longs, never rows — the Pack/q67 bounded-collect
    * class), then ONE codegen filter pass picks the ≤14 rows whose
    * global rank brackets an octile (row k of partition p is
    * monotonically_increasing_id p·2³³+k under the pinned layout) and
    * a one-row aggregate interpolates in-plan:
    * b_i = round(vlo + (vhi − vlo)·frac, 2) with frac = p·(n−1) −
    * ⌊p·(n−1)⌋ a plan literal — the same arithmetic DuckDB's
    * quantile_cont applies to the same two order statistics, so the
    * oracle (unchanged) certifies value equality.
    *
    * One boundary table per (session, corpus dir) and pass through
    * [[Memo]]: the selection passes run EAGERLY (localCheckpoint +
    * counts collect), so Spark's
    * canonical-plan cache dedup can never fire across q83/q93 (each
    * call mints a fresh checkpoint RDD) and q93 re-paid the whole
    * selection q83 had just run. The memo hands q93 the SAME boundary
    * DataFrame q83 built in this pass; after a clearCache the next
    * caller recomputes everything from parquet, fresh checkpoint
    * included. */
  private def exactOctiles(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = Memo(s, s"octiles:$d") {
    val sorted = graft.Tables.orders(s, d).select(col("o_totalprice").as("x"))
      .repartitionByRange(col("x")).sortWithinPartitions("x")
      .localCheckpoint() // eager: pins partitioning + order for both passes
    val counts = sorted
      .groupBy(spark_partition_id().as("pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = counts.map(_._2).sum
    require(n > 0, "exactOctiles: empty orders table")
    // global 1-based rank → monotonically_increasing_id under the
    // checkpointed layout (upper 31 bits partition id, lower 33 local)
    def midFor(rank: Long): Long = {
      var off = 0L; var res = -1L
      counts.foreach { case (pid, c) =>
        if (res < 0 && rank <= off + c) res = (pid.toLong << 33) | (rank - off - 1)
        off += c
      }
      require(res >= 0, s"exactOctiles: rank $rank out of range (n=$n)")
      res
    }
    val specs = (1 to 7).map { i =>
      val idx = (i * 0.125) * (n - 1)
      val lo = math.floor(idx).toLong
      (midFor(lo + 1), midFor(math.min(lo + 2, n)), idx - lo)
    }
    val wanted = specs.flatMap { case (l, h, _) => Seq(l, h) }.distinct
    val aggs = specs.zipWithIndex.map { case ((loMid, hiMid, frac), i) =>
      val vlo = min(when(col("__mid") === loMid, col("x")))
      val vhi = min(when(col("__mid") === hiMid, col("x")))
      round(vlo + (vhi - vlo) * lit(frac), 2).as(s"b${i + 1}")
    }
    Memo.persist(
      sorted.withColumn("__mid", monotonically_increasing_id())
        .filter(col("__mid").isin(wanted: _*))
        .groupBy().agg(aggs.head, aggs.tail: _*))
  }

  val q83 = QueryDef(
    "q83_equidepth_histogram",
    (s, d) => {
      val o = graft.Tables.orders(s, d).select(col("o_totalprice").as("x"))
      val bounds = exactOctiles(s, d)
      val bucket = (1 to 7)
        .map(i => when(col("x") > col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      o.crossJoin(broadcast(bounds))
        .groupBy(bucket.cast("bigint").as("bucket_id"))
        .agg(count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(bounds))
        .select(col("bucket_id"),
          element_at(array(col("b1"), col("b2"), col("b3"), col("b4"),
            col("b5"), col("b6"), col("b7"), lit(null).cast("double")),
            (col("bucket_id") + 1).cast("int")).as("hi"),
          col("n_rows"))
        .orderBy(col("bucket_id"))
    },
    Some("""
      WITH b AS (
        SELECT round(quantile_cont(o_totalprice, 0.125), 2) AS b1,
               round(quantile_cont(o_totalprice, 0.25), 2) AS b2,
               round(quantile_cont(o_totalprice, 0.375), 2) AS b3,
               round(quantile_cont(o_totalprice, 0.5), 2) AS b4,
               round(quantile_cont(o_totalprice, 0.625), 2) AS b5,
               round(quantile_cont(o_totalprice, 0.75), 2) AS b6,
               round(quantile_cont(o_totalprice, 0.875), 2) AS b7
        FROM orders),
      a AS (
        SELECT CAST(o_totalprice > b1 AS INT) + CAST(o_totalprice > b2 AS INT) +
               CAST(o_totalprice > b3 AS INT) + CAST(o_totalprice > b4 AS INT) +
               CAST(o_totalprice > b5 AS INT) + CAST(o_totalprice > b6 AS INT) +
               CAST(o_totalprice > b7 AS INT) AS bucket_id
        FROM orders CROSS JOIN b),
      g AS (SELECT CAST(bucket_id AS BIGINT) AS bucket_id, count(*) AS n_rows
            FROM a GROUP BY 1)
      SELECT g.bucket_id,
             CASE g.bucket_id WHEN 0 THEN b.b1 WHEN 1 THEN b.b2
                  WHEN 2 THEN b.b3 WHEN 3 THEN b.b4 WHEN 4 THEN b.b5
                  WHEN 5 THEN b.b6 WHEN 6 THEN b.b7 ELSE NULL END AS hi,
             g.n_rows
      FROM g CROSS JOIN b ORDER BY g.bucket_id"""))

  /** [[q83]]'s PETABYTE BOUNDARY PATH, demonstrated not promised:
    * the equi-depth histogram with its octile
    * boundaries computed from the MERGEABLE KLL sketch ([[q65]]'s
    * machinery) instead of the exact percentile pass — at petabyte N
    * the exact pass's full-value percentile buffer is the bottleneck,
    * while the sketch is one k-bounded buffer per fine bucket,
    * map-side combined and mergeable across partitions/days (built
    * here per o_orderstatus and rolled up, the q65 two-stage shape).
    *
    * ONE SHARED ASSIGNMENT PASS:
    * the fact is scanned once against BOTH broadcast boundary rows,
    * aggregating to the ≤64-row (exact_bucket × kll_bucket) cross
    * matrix; the exact histogram, the KLL histogram, and the total
    * are all rollups of that persisted matrix — three aggregates, one
    * fact pass.
    *
    * Gate = the q35 discipline: the hash-compared columns (bucket_id,
    * exact rounded boundary hi, exact n_rows) replay q83 verbatim in
    * DuckDB; everything sketch-derived folds into `within_bound` —
    * each KLL-assigned bucket population must land within 4ε·N of its
    * exact twin (each of a bucket's two boundaries is a rank-ε probe,
    * doubled per the q60/q65 widen-the-bound lesson; k=200 ⇒
    * ε ≈ 1.65%, so the tolerance is ±6.6% of N against an expected
    * 12.5% share — a sketch drifting past its KLL guarantee flips the
    * flag and fails the row hash).
    *
    * GATE CLASS: PROBABILISTIC. The DataSketches KLL
    * sketch is unseeded and randomized, so `within_bound` is a
    * random variable compared against a constant-1 oracle: the
    * 4-epsilon headroom (±6.6% of N vs the ~1.65% 99%-confidence
    * rank error) makes a flip astronomically unlikely, but a failure
    * here would be RUN-DEPENDENT and non-reproducible. Operational
    * rule: re-run once before treating a within_bound flip as a
    * regression; two consecutive flips = a real sketch defect. q29
    * (HLL) and q60/q65 carry the same class. */
  val q93 = QueryDef(
    "q93_equidepth_kll",
    (s, d) => {
      import graft.functions.GraftFunctions.kllQuantile
      val KLL_EPS = 0.0165 // getNormalizedRankError(k=200), 99% conf
      val o = graft.Tables.orders(s, d)
        .select(col("o_totalprice").as("x"), col("o_orderstatus"))
      // exact boundaries — THE shared [[exactOctiles]] table:
      // identical canonical plan to q83's, so in a suite run the
      // expensive exact-percentile fact pass materializes ONCE and
      // q93 reads the cache; within this query the persist also feeds
      // its two broadcast consumers (the matrix assignment pass and
      // the final `hi` projection) without a recompute
      val exactB = exactOctiles(s, d)
      // sketch boundaries — per-status fine sketches, merged up (q65)
      val sketchB = o.groupBy(col("o_orderstatus"))
        .agg(kll_sketch_agg_double(col("x").cast("double"), 200).as("sk"))
        .agg(kll_merge_agg_double(col("sk"), 200).as("sk"))
        .select((1 to 7).map(i =>
          kllQuantile(col("sk"), i / 8.0).as(s"k$i")): _*)
      val bucketEx = (1 to 7)
        .map(i => when(col("x") > col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _).cast("bigint")
      val bucketKll = (1 to 7)
        .map(i => when(col("x") > col(s"k$i"), 1).otherwise(0))
        .reduce(_ + _).cast("bigint")
      // ONE fact pass: both assignments aggregate to the ≤64-row
      // cross matrix; everything downstream rolls up from it
      val matrix = Memo.persist(
        o.crossJoin(broadcast(exactB)).crossJoin(broadcast(sketchB))
          .groupBy(bucketEx.as("bucket_id"), bucketKll.as("kb"))
          .agg(count(lit(1)).as("n")))
      val ex = matrix.groupBy(col("bucket_id")).agg(sum(col("n")).as("n_rows"))
      val kl = matrix.groupBy(col("kb").as("bucket_id"))
        .agg(sum(col("n")).as("kn"))
      val tot = matrix.agg(sum(col("n")).as("n_total"))
      ex.join(kl, Seq("bucket_id"), "left")
        .crossJoin(broadcast(tot))
        .crossJoin(broadcast(exactB))
        .select(col("bucket_id"),
          element_at(array(col("b1"), col("b2"), col("b3"), col("b4"),
            col("b5"), col("b6"), col("b7"), lit(null).cast("double")),
            (col("bucket_id") + 1).cast("int")).as("hi"),
          col("n_rows"),
          (abs(coalesce(col("kn"), lit(0L)) - col("n_rows")).cast("double")
            <= lit(4 * KLL_EPS) * col("n_total")).cast("int")
            .as("within_bound"))
        .orderBy(col("bucket_id"))
    },
    Some("""
      WITH b AS (
        SELECT round(quantile_cont(o_totalprice, 0.125), 2) AS b1,
               round(quantile_cont(o_totalprice, 0.25), 2) AS b2,
               round(quantile_cont(o_totalprice, 0.375), 2) AS b3,
               round(quantile_cont(o_totalprice, 0.5), 2) AS b4,
               round(quantile_cont(o_totalprice, 0.625), 2) AS b5,
               round(quantile_cont(o_totalprice, 0.75), 2) AS b6,
               round(quantile_cont(o_totalprice, 0.875), 2) AS b7
        FROM orders),
      a AS (
        SELECT CAST(o_totalprice > b1 AS INT) + CAST(o_totalprice > b2 AS INT) +
               CAST(o_totalprice > b3 AS INT) + CAST(o_totalprice > b4 AS INT) +
               CAST(o_totalprice > b5 AS INT) + CAST(o_totalprice > b6 AS INT) +
               CAST(o_totalprice > b7 AS INT) AS bucket_id
        FROM orders CROSS JOIN b),
      g AS (SELECT CAST(bucket_id AS BIGINT) AS bucket_id, count(*) AS n_rows
            FROM a GROUP BY 1)
      SELECT g.bucket_id,
             CASE g.bucket_id WHEN 0 THEN b.b1 WHEN 1 THEN b.b2
                  WHEN 2 THEN b.b3 WHEN 3 THEN b.b4 WHEN 4 THEN b.b5
                  WHEN 5 THEN b.b6 WHEN 6 THEN b.b7 ELSE NULL END AS hi,
             g.n_rows,
             CAST(1 AS INT) AS within_bound
      FROM g CROSS JOIN b ORDER BY g.bucket_id"""))
}
