package graft.queries

import graft.{Memo, Tables}
import graft.ops.{Dedup, Upsert, Ids}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import QueryDef.{dsum, dsumSql}

/** The reference's relational query surface (SURVEY.md §2) transposed to
  * the testdata star schema. Each entry cites the reference operator ids
  * it reproduces (§2.x tags) and the ui.py/Transform.py behavior it
  * mirrors.
  *
  * Scale notes baked into every plan:
  *  - TRUE dims (region/nation — constant-size at any SF) carry
  *    explicit broadcast hints. SF-SCALING tables (customer/supplier/
  *    part) deliberately do NOT: a hard hint forces a broadcast that
  *    OOMs at 100× SF, whereas leaving the choice to
  *    autoBroadcastJoinThreshold + AQE broadcasts them while small and
  *    degrades gracefully to shuffle join when they outgrow the
  *    executor (PlanQualitySpec pins that they still broadcast at test
  *    SF through the threshold, so the intent is enforced without the
  *    scale hazard);
  *  - aggregations are plain groupBy → Catalyst plans partial (map-side)
  *    + final hash aggregation, one shuffle on the group keys;
  *  - top-k = orderBy+limit → TakeOrderedAndProject (no global sort
  *    materialization).
  */
object Relational {

  def defs: Seq[QueryDef] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09,
    q10, q11, q12, q13, q14, q15, q16, q17, q18, q28, q30, q33, q37, q38, q39,
    q40, q41, q42, q43, q45, q46, q47, q48, q49, q50, q51, q52, q71, q72,
    q77, q79, q80, q82, q84, q86, q87, q88, q89, q90, q91, q92)

  /** Flagship (SURVEY §7.2): top-k revenue customers.
    * Ops: A1 grouped sum, A6 HAVING, J6 multiway join, O3 top-k
    * (ui.py:76-94's "top scorers" shape). */
  val q01 = QueryDef(
    "q01_topk_revenue",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      val c  = Tables.customer(s, d)
      // aggregate pushed below the join: revenue partial-sums per
      // order BEFORE joining orders/customer, so the join and the
      // customer shuffle carry one row per order, not per lineitem
      // (Catalyst has no aggregate-pushdown rule; the regrouping is
      // exact — decimal partial sums are associative)
      val perOrder = li.groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4))).as("rev"))
      perOrder.join(o, col("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(c("c_custkey"), c("c_name"))
        .agg(sum(col("rev")).cast("string").cast("double").as("revenue"))
        .filter(col("revenue") > 0)
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    },
    Some(s"""
      SELECT c.c_custkey, c.c_name,
             ${dsumSql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_name
      HAVING ${dsumSql("l.l_extendedprice * (1 - l.l_discount)")} > 0
      ORDER BY revenue DESC, c_custkey
      LIMIT 10"""))

  /** Pricing summary (TPC-H Q1 shape). Ops: A1/A2 multi-col grouped sums,
    * A8 means, P-filters; exercises partial aggregation + pushdown. */
  val q02 = QueryDef(
    "q02_pricing_summary",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      li.filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
             sum(l_quantity) AS sum_qty,
             ${dsumSql("l_extendedprice", 2)} AS sum_base_price,
             ${dsumSql("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
             ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
             sum(l_quantity) / count(*) AS avg_qty,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** Orders per nation. Ops: A3 COUNT DISTINCT, A4 COALESCE-over-agg,
    * left joins down a dim chain (ui.py:117-129 matches-played shape). */
  val q03 = QueryDef(
    "q03_orders_per_nation",
    (s, d) => {
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      n.join(c, n("n_nationkey") === c("c_nationkey"), "left")
        .join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(n("n_name"))
        .agg(
          coalesce(countDistinct(o("o_orderkey")), lit(0)).as("n_orders"),
          coalesce(countDistinct(c("c_custkey")), lit(0)).as("n_customers"))
        .orderBy(n("n_name"))
    },
    Some("""
      SELECT n.n_name,
             coalesce(count(DISTINCT o.o_orderkey), 0) AS n_orders,
             coalesce(count(DISTINCT c.c_custkey), 0) AS n_customers
      FROM nation n
      LEFT JOIN customer c ON n.n_nationkey = c.c_nationkey
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY n.n_name
      ORDER BY n.n_name"""))

  /** Conditional-aggregation pivot. Ops: A5 (ui.py:199-216 home/away
    * points via SUM(CASE WHEN)). */
  val q04 = QueryDef(
    "q04_event_pivot",
    (s, d) => {
      val e = Tables.events(s, d)
      e.groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "purchase", col("value").cast(DecimalType(18, 2)))
            .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("string").cast("double").as("purchase_value"),
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_clicks"),
          sum(when(col("event_type") === "view", 1).otherwise(0)).as("n_views"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"))
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT user_id,
             CAST(CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS STRING) AS DOUBLE) AS purchase_value,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""))

  /** Part demand top-20. Ops: A1+A6+O3 with broadcast dim join. */
  val q05 = QueryDef(
    "q05_part_demand",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val p  = Tables.part(s, d)
      li.groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity")).as("demand"))
        .filter(col("demand") > 0)
        .join(p, col("l_partkey") === p("p_partkey"))
        .select(col("l_partkey"), col("p_name"), col("demand"))
        .orderBy(col("demand").desc, col("l_partkey"))
        .limit(20)
    },
    Some("""
      SELECT l_partkey, p_name, sum(l_quantity) AS demand
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY l_partkey, p_name
      HAVING sum(l_quantity) > 0
      ORDER BY demand DESC, l_partkey
      LIMIT 20"""))

  /** Goals-conceded-per-match analog. Ops: A7 ratio of aggregates, F11
    * ROUND/CAST/NULLIF division (ui.py:227,245,263). */
  val q06 = QueryDef(
    "q06_supplier_ratio",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val su = Tables.supplier(s, d)
      li.groupBy(col("l_suppkey"))
        .agg(
          sum(col("l_quantity")).as("total_qty"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .join(su, col("l_suppkey") === su("s_suppkey"))
        .select(
          col("l_suppkey"), col("s_name"),
          round(col("total_qty").cast("double") /
            nullif(col("n_orders"), lit(0)).cast("double"), 2).as("qty_per_order"))
        .orderBy(col("l_suppkey"))
    },
    Some("""
      SELECT l_suppkey, s_name,
             round(CAST(sum(l_quantity) AS DOUBLE) / CAST(nullif(count(DISTINCT l_orderkey), 0) AS DOUBLE), 2) AS qty_per_order
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY l_suppkey, s_name
      ORDER BY l_suppkey"""))

  /** Recent-form per entity. Ops: W3 per-key top-N window (generalizes
    * ui.py:272-292 "last 5 matches of one team" to every key). */
  val q07 = QueryDef(
    "q07_recent_orders",
    (s, d) => {
      val o = Tables.orders(s, d)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      o.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("order_date"))
        .orderBy(col("o_custkey"), col("rn"))
    },
    Some("""
      SELECT o_custkey, rn, o_orderkey, CAST(o_orderdate AS DATE) AS order_date
      FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders)
      WHERE rn <= 5
      ORDER BY o_custkey, rn"""))

  /** League-standings rank. Ops: W1 rank over aggregated points
    * (Transform.py:779-785 stores it; we compute it). */
  val q08 = QueryDef(
    "q08_nation_rank",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      val c  = Tables.customer(s, d)
      val n  = Tables.nation(s, d)
      val rev = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(n("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      rev.withColumn("rnk", rank().over(Window.orderBy(col("revenue").desc, col("n_name"))))
        .orderBy(col("rnk"), col("n_name"))
    },
    Some(s"""
      SELECT n_name, revenue, rank() OVER (ORDER BY revenue DESC, n_name) AS rnk
      FROM (
        SELECT n.n_name, ${dsumSql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name)
      ORDER BY rnk, n_name"""))

  /** Surrogate-id assignment. Ops: W2+O5 (Transform.py:116-119 sorted
    * sequential ids; see graft.ops.Ids for the scale strategies). */
  val q09 = QueryDef(
    "q09_sequential_ids",
    (s, d) => {
      val p = Tables.part(s, d)
      Ids.sequential(p.select(col("p_name")).distinct(), Seq(col("p_name")), "part_id")
        .select(col("part_id"), col("p_name"))
        .orderBy(col("part_id"))
    },
    Some("""
      SELECT row_number() OVER (ORDER BY p_name) AS part_id, p_name
      FROM (SELECT DISTINCT p_name FROM part)
      ORDER BY part_id"""))

  /** Rolling form string. Ops: W4 frame-spec window — the scraped
    * "WWDLD" Recent_Form (Extract.py:166-174) computed instead of stored:
    * last-5 event initials per user. */
  val q10 = QueryDef(
    "q10_rolling_form",
    (s, d) => {
      val e = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ns"), col("event_id"))   // full ns precision, like DuckDB's ORDER BY ts
        .rowsBetween(-4, 0)
      e.withColumn("form", concat_ws("", collect_list(substring(col("event_type"), 1, 1)).over(w)))
        .select(col("user_id"), col("event_id"), col("form"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      SELECT user_id, event_id,
             string_agg(substr(event_type, 1, 1), '')
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS form
      FROM events
      ORDER BY user_id, event_id"""))

  /** Priority-ordered keyed dedup. Ops: U3/U4 keep-first
    * (Transform.py:110,346 — survivor chosen by explicit order, not
    * pandas row position). */
  val q11 = QueryDef(
    "q11_dedup_first_order",
    (s, d) => {
      val o = Tables.orders(s, d)
      Dedup.keepFirst(o, Seq("o_custkey"), Seq(col("o_orderdate").asc, col("o_orderkey").asc))
        .select(col("o_custkey"), col("o_orderkey").as("first_orderkey"),
          col("o_orderdate").cast("date").as("first_date"))
        .orderBy(col("o_custkey"))
    },
    Some("""
      SELECT o_custkey, o_orderkey AS first_orderkey, CAST(o_orderdate AS DATE) AS first_date
      FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
        FROM orders)
      WHERE rn = 1
      ORDER BY o_custkey"""))

  /** DISTINCT dimension values. Ops: U6 (ui.py:135). */
  val q12 = QueryDef(
    "q12_distinct_segments",
    (s, d) =>
      Tables.customer(s, d).select(col("c_mktsegment")).distinct()
        .orderBy(col("c_mktsegment")),
    Some("SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"))

  /** Schema-aligned union with null padding. Ops: U1 (Transform.py:104-107
    * season-stats ∪ match-stats players with NA-padded born). */
  val q13 = QueryDef(
    "q13_union_entities",
    (s, d) => {
      val c = Tables.customer(s, d)
        .select(col("c_name").as("name"), col("c_acctbal").as("acctbal"),
          col("c_nationkey").as("nationkey"), col("c_mktsegment").as("mktsegment"),
          lit("customer").as("entity_type"))
      val su = Tables.supplier(s, d)
        .select(col("s_name").as("name"), col("s_acctbal").as("acctbal"),
          col("s_nationkey").as("nationkey"), lit(null: String).as("mktsegment"),
          lit("supplier").as("entity_type"))
      c.unionByName(su).orderBy(col("entity_type"), col("name"))
    },
    Some("""
      SELECT c_name AS name, c_acctbal AS acctbal, c_nationkey AS nationkey,
             c_mktsegment AS mktsegment, 'customer' AS entity_type
      FROM customer
      UNION ALL
      SELECT s_name, s_acctbal, s_nationkey, NULL, 'supplier' FROM supplier
      ORDER BY entity_type, name"""))

  /** Anti join. Ops: J8 (Extract.py:285-291 incremental-merge key
    * exclusion). */
  val q14 = QueryDef(
    "q14_customers_no_orders",
    (s, d) => {
      val c = Tables.customer(s, d)
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp_ntz"))
      c.join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_name FROM customer c
      WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
      ORDER BY c_custkey"""))

  /** Update-wins upsert. Ops: S9/U7 (Load.py:79-89 ON CONFLICT DO
    * UPDATE; Extract.py:262-303). "New" = open orders repriced; new rows
    * replace old on the PK. */
  val q15 = QueryDef(
    "q15_upsert_update_wins",
    (s, d) => {
      val o = Tables.orders(s, d)
      val old = o.filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp_ntz"))
        .select(col("o_orderkey"), col("o_totalprice"))
      val incoming = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), (col("o_totalprice") + lit(1.0)).as("o_totalprice"))
      Upsert.updateWins(old, incoming, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      WITH old AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'),
      incoming AS (
        SELECT o_orderkey, o_totalprice + 1.0 AS o_totalprice FROM orders
        WHERE o_orderstatus = 'O')
      SELECT o_orderkey, o_totalprice FROM incoming
      UNION ALL
      SELECT o.o_orderkey, o.o_totalprice FROM old o
      WHERE NOT EXISTS (SELECT 1 FROM incoming i WHERE i.o_orderkey = o.o_orderkey)
      ORDER BY o_orderkey"""))

  /** Insert-only upsert. Ops: S10/U8 (Load.py:276-284 ON CONFLICT DO
    * NOTHING — old rows win). */
  val q16 = QueryDef(
    "q16_upsert_ignore_new",
    (s, d) => {
      val o = Tables.orders(s, d)
      val old = o.filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp_ntz"))
        .select(col("o_orderkey"), col("o_totalprice"))
      val incoming = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), (col("o_totalprice") + lit(1.0)).as("o_totalprice"))
      Upsert.ignoreNew(old, incoming, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      WITH old AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'),
      incoming AS (
        SELECT o_orderkey, o_totalprice + 1.0 AS o_totalprice FROM orders
        WHERE o_orderstatus = 'O')
      SELECT o_orderkey, o_totalprice FROM old
      UNION ALL
      SELECT i.o_orderkey, i.o_totalprice FROM incoming i
      WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.o_orderkey = i.o_orderkey)
      ORDER BY o_orderkey"""))

  /** Role-playing dim joined twice. Ops: J3/J7 (ui.py:284-285 dim_team
    * as team AND opponent): nation as customer-nation and
    * supplier-nation. */
  val q17 = QueryDef(
    "q17_nation_roleplay",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      val c  = Tables.customer(s, d)
      val su = Tables.supplier(s, d)
      val cn = Tables.nation(s, d).select(
        col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      val sn = Tables.nation(s, d).select(
        col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .join(broadcast(cn), c("c_nationkey") === col("cn_key"))
        .join(broadcast(sn), su("s_nationkey") === col("sn_key"))
        .groupBy(col("cust_nation"), col("supp_nation"))
        .agg(count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("cust_nation"), col("supp_nation"))
    },
    Some(s"""
      SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
             count(*) AS n_lines,
             ${dsumSql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      GROUP BY cn.n_name, sn.n_name
      ORDER BY cust_nation, supp_nation"""))

  /** Parameterized dashboard drill-down. Ops: J6 multiway join + P7
    * equality param filter (ui.py:65-94, season/team filters). The
    * region literal plays ui.py's `%s` bind. */
  val q18 = QueryDef(
    "q18_region_dashboard",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      val c  = Tables.customer(s, d)
      val n  = Tables.nation(s, d)
      val r  = Tables.region(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(r("r_name") === "EUROPE")
        .groupBy(n("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some(s"""
      SELECT n.n_name, ${dsumSql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY n.n_name
      ORDER BY revenue DESC, n_name"""))

  /** SQL-text entry point. Ops: S11 (ui.py's pd.read_sql surface —
    * SQL strings executed against registered views, ui.py:47-314) +
    * A8 ungrouped mean (ui.py:697-698 quadrant averages). The mean is
    * computed as decimal-sum/count, not avg(double), so the value is
    * independent of partial-aggregation order. */
  val q28 = QueryDef(
    "q28_sql_source",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql("""
        SELECT count(*) AS n_orders,
               round(CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) / count(*), 2) AS avg_price,
               count(DISTINCT c.c_nationkey) AS n_nations
        FROM orders_v o JOIN customer_v c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus = 'F'""")
    },
    Some("""
      SELECT count(*) AS n_orders,
             round(CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) / count(*), 2) AS avg_price,
             count(DISTINCT c.c_nationkey) AS n_nations
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderstatus = 'F'"""))

  /** As-of join — an operator Spark lacks natively (brief: custom-op
    * category). Each event matches the LATEST order of the same user
    * at-or-before the event time. Implemented the scalable way: tag
    * both sides, union, ONE shuffle on the key, and carry the most
    * recent order forward with last(ignoreNulls) over a running
    * window — linear in rows, no range-explosion join, no per-key
    * driver loop. Orders are first deduped to one per (user, date) so
    * tie semantics are well-defined on both engines (DuckDB replays it
    * with its native ASOF JOIN). */
  val q30 = QueryDef(
    "q30_asof_join",
    (s, d) => {
      val dayUs = 86400000000L
      val o = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("user_id"),
          col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
        .select(col("user_id"),
          (datediff(col("o_orderdate"), lit("1970-01-01")) * dayUs).as("t_us"),
          lit(0).as("kind"), col("o_orderkey"),
          lit(null).cast("long").as("event_id"))
      val e = Tables.events(s, d)
        .select(col("user_id"),
          expr("ts_ns div 1000").as("t_us"),
          lit(1).as("kind"),
          lit(null).cast("long").as("o_orderkey"),
          col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.unionByName(e)
        .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
        .withColumn("asof_order_t_us",
          last(when(col("kind") === 0, col("t_us")), ignoreNulls = true).over(w))
        .filter(col("kind") === 1 && col("asof_orderkey").isNotNull)
        .select(col("event_id"), col("user_id"),
          col("asof_orderkey"), col("asof_order_t_us"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey AS user_id, o_orderdate, max(o_orderkey) AS o_orderkey
        FROM orders GROUP BY 1, 2),
      ot AS (SELECT user_id, o_orderkey,
                    epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS t_us
             FROM o)
      SELECT e.event_id, e.user_id,
             ot.o_orderkey AS asof_orderkey, ot.t_us AS asof_order_t_us
      FROM events e
      ASOF JOIN ot ON e.user_id = ot.user_id AND epoch_us(e.ts) >= ot.t_us
      ORDER BY e.event_id"""))

  /** Range join, bucketed — the second operator of the custom-op
    * family next to [[q30]]'s as-of join: clicks attributed to each
    * purchase of the same user within the 30 minutes before it.
    * A naive theta join (user match + range predicate) degenerates to
    * per-user cross products at scale; here both sides bin their
    * timestamps into window-width buckets, purchases probe their own
    * and the previous bucket (window length == bucket width ⇒ the two
    * buckets COVER the range — no match can escape), and the exact
    * range predicate filters inside the equi-join. The join key is
    * (user, bucket): shuffle-friendly, output bounded by bucket
    * population, result identical to the naive form (the oracle runs
    * the naive form). */
  val q37 = QueryDef(
    "q37_range_attribution",
    (s, d) => {
      val W = 1800000000L // 30 min in µs
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), expr("ts_ns div 1000").as("us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us").as("p_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("us").as("c_us"),
          expr(s"us div $W").as("cb"))
      val probes = purchases
        .withColumn("cb", explode(array(expr(s"p_us div $W") - 1, expr(s"p_us div $W"))))
      val matched = probes.join(clicks, Seq("user_id", "cb"))
        .filter(col("c_us") >= col("p_us") - W && col("c_us") < col("p_us"))
        .groupBy(col("user_id"), col("p_us"))
        .agg(count(lit(1)).as("n_clicks"))
      purchases.join(matched, Seq("user_id", "p_us"), "left")
        .select(col("user_id"), col("p_us"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
        .orderBy(col("user_id"), col("p_us"))
    },
    Some("""
      WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      p AS (SELECT user_id, us AS p_us FROM ev WHERE event_type = 'purchase'),
      c AS (SELECT user_id, us AS c_us FROM ev WHERE event_type = 'click'),
      m AS (
        SELECT p.user_id, p.p_us, count(*) AS n_clicks
        FROM p JOIN c ON p.user_id = c.user_id
         AND c.c_us >= p.p_us - 1800000000 AND c.c_us < p.p_us
        GROUP BY 1, 2)
      SELECT p.user_id, p.p_us, CAST(coalesce(m.n_clicks, 0) AS BIGINT) AS n_clicks
      FROM p LEFT JOIN m USING (user_id, p_us)
      ORDER BY user_id, p_us"""))

  /** The custom TopKPerKey physical operator (graft.plans), driver-
    * verified: top-3 orders per customer by price via bounded heaps —
    * the oracle replays it as the window formulation it replaces.
    * Full (price DESC, orderkey) tiebreak makes the top-k set unique. */
  val q33 = QueryDef(
    "q33_topk_operator",
    (s, d) => {
      val o = Tables.orders(s, d)
      graft.plans.TopK.perKey(o,
          Seq(col("o_custkey")),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      WHERE rn <= 3
      ORDER BY o_custkey, o_totalprice DESC, o_orderkey"""))

  /** CDC snapshot diff ([[graft.ops.SnapshotDiff]]): v2 of orders is
    * derived deterministically from v1 inside the query (both engines
    * replay it) — every 7th key deleted, every remaining 5th key
    * repriced (+1.0, exact IEEE add so no rounding divergence), every
    * 11th key re-inserted under a shifted id. One full-outer shuffle
    * join on the key classifies I/U/D; unchanged keys never surface. */
  val q38 = QueryDef(
    "q38_snapshot_diff",
    (s, d) => {
      val v1 = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val v2 = v1.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(v1.filter(col("o_orderkey") % 11 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
      graft.ops.SnapshotDiff.diff(v1, v2, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      WITH v1 AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
      v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM v1 WHERE o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000 AS o_orderkey, o_totalprice, o_orderstatus
        FROM v1 WHERE o_orderkey % 11 = 0),
      d AS (
        SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
               CASE WHEN a.o_orderkey IS NULL THEN 'I'
                    WHEN b.o_orderkey IS NULL THEN 'D'
                    WHEN (a.o_totalprice IS DISTINCT FROM b.o_totalprice)
                      OR (a.o_orderstatus IS DISTINCT FROM b.o_orderstatus) THEN 'U'
               END AS op
        FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey)
      SELECT o_orderkey, op FROM d WHERE op IS NOT NULL
      ORDER BY o_orderkey"""))

  /** Incremental aggregate maintenance: given the v1→v2 delta (same
    * derivation as [[q38]]), per-customer revenue totals are UPDATED
    * from the old aggregate plus the delta sum — touching only changed
    * groups — instead of re-aggregating v2 from scratch. At 100 TB
    * this is the difference between re-reading the fact table and
    * reading yesterday's (tiny) aggregate plus today's delta.
    *
    * Cross-validated by construction: the oracle computes the v2
    * aggregate DIRECTLY for the changed customers, so any error in
    * the incremental path (a missed delta, a sign flip, a dropped
    * all-deleted group) hash-mismatches. All sums run in DECIMAL —
    * exact and associative, so the telescoped incremental sum equals
    * the direct sum bit-for-bit; groups whose orders all disappeared
    * surface as total = 0 on both sides. */
  val q39 = QueryDef(
    "q39_incremental_agg",
    (s, d) => {
      val dec = DecimalType(18, 4)
      val v1 = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val v2 = v1.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(v1.filter(col("o_orderkey") % 11 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
      // per-row delta over the key; unchanged rows cancel to 0
      val a = v1.select(col("o_orderkey"), col("o_custkey").as("ck_a"),
        col("o_totalprice").cast(dec).as("p_a"))
      val b = v2.select(col("o_orderkey"), col("o_custkey").as("ck_b"),
        col("o_totalprice").cast(dec).as("p_b"))
      val delta = a.join(b, Seq("o_orderkey"), "full_outer")
        .select(coalesce(col("ck_a"), col("ck_b")).as("o_custkey"),
          (coalesce(col("p_b"), lit(0).cast(dec)) -
            coalesce(col("p_a"), lit(0).cast(dec))).as("dp"))
        .filter(col("dp") =!= 0)
      val oldAgg = v1.groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(dec)).as("old_total"))
      val deltaAgg = delta.groupBy(col("o_custkey"))
        .agg(sum(col("dp")).as("d_total"))
      deltaAgg.join(oldAgg, Seq("o_custkey"), "left")
        .select(col("o_custkey"),
          (coalesce(col("old_total"), lit(0).cast(dec)) + col("d_total"))
            .cast("double").as("total"))
        .orderBy(col("o_custkey"))
    },
    Some("""
      WITH v1 AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
      v2 AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM v1 WHERE o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, o_totalprice
        FROM v1 WHERE o_orderkey % 11 = 0),
      delta AS (
        SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
               coalesce(CAST(b.o_totalprice AS DECIMAL(18,4)), 0) -
               coalesce(CAST(a.o_totalprice AS DECIMAL(18,4)), 0) AS dp
        FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey),
      changed AS (SELECT DISTINCT o_custkey FROM delta WHERE dp <> 0),
      direct AS (
        SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS total
        FROM v2 GROUP BY o_custkey)
      SELECT c.o_custkey,
             CAST(coalesce(d.total, 0) AS DOUBLE) AS total
      FROM changed c LEFT JOIN direct d ON d.o_custkey = c.o_custkey
      ORDER BY c.o_custkey"""))

  /** SCD Type-2 dimension history ([[graft.ops.Scd2]]): each
    * customer's order-status change log collapses to attribute
    * versions with [eff_from, eff_to) validity and an is_current
    * flag — the history the reference's drop-and-recreate dims
    * (scr/Transform.py:75-142) throw away. o_orderkey is the
    * same-day tiebreak AND the surviving version's surrogate key,
    * making both the version set and the sort total-ordered. */
  val q40 = QueryDef(
    "q40_scd2_history",
    (s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_orderstatus"))
      // Deliberately the NAIVE per-key window, not
      // Scd2.historyStitched — a MEASURED choice: at sf1
      // per-key histories are shallow (~10 changes/key; the 20%-hot
      // key's 300k), and the stitch's two boundary aggregates + two
      // carry joins are fact-sized when keys are many and shallow —
      // measured 1.24 s naive vs 5.97 s stitched on uniform sf1 and
      // ~1.9 s vs 3.53 s on the hot-key corpus. The ×1.5-class skew
      // residual of this form is the cheaper trade until a single
      // key's history outgrows one task's sort (the true hub regime
      // historyStitched exists for — row-identical, spec-proven).
      graft.ops.Scd2.history(o, Seq("o_custkey"),
          ts = "o_orderdate", tie = "o_orderkey", attrs = Seq("o_orderstatus"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          col("eff_from"), col("eff_to"), col("is_current"))
        .orderBy(col("o_custkey"), col("eff_from"), col("o_orderkey"))
    },
    Some("""
      WITH v AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
               row_number() OVER w AS rn,
               lag(o_orderstatus) OVER w AS prev
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)),
      s AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus
        FROM v WHERE rn = 1 OR prev IS DISTINCT FROM o_orderstatus),
      h AS (
        SELECT o_custkey, o_orderkey, o_orderstatus,
               o_orderdate AS eff_from,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS eff_to
        FROM s)
      SELECT o_custkey, o_orderkey, o_orderstatus, eff_from, eff_to,
             (eff_to IS NULL) AS is_current
      FROM h ORDER BY o_custkey, eff_from, o_orderkey"""))

  /** Point-in-time (as-of) join over the [[q40]] SCD2 history — the
    * consumer side of versioned dims: each order picks up the status
    * version valid AT its date (`eff_from <= t < eff_to`, open
    * current interval; the interval chain partitions time per key, so
    * every order matches EXACTLY one version).
    *
    * Spelled as the scalable UNION-AND-WINDOW as-of (the kdb `aj` /
    * pandas `merge_asof` evaluation strategy), NOT a key-equi join
    * with the interval bound as residual: version starts and probe
    * rows union into one stream, one hash exchange on the key, a
    * per-key sort on (ts, kind, ver_key) with version rows ordered
    * BEFORE probe rows at equal ts (inclusive eff_from; the running
    * last same-date version wins, exactly the non-empty interval),
    * and a running `last(..., ignoreNulls)` frame propagates the
    * in-effect version to each probe row — O(n log n) per key, O(1)
    * frame state.
    *
    * WHY (a skew probe, the q85 lesson's join-shaped sibling):
    * the previous residual-predicate join was "versions-per-key is
    * small and bounded" — TRUE on uniform keys, FALSE under skew,
    * where a hot customer's version count scales with its own order
    * count and the per-key probe degenerates to O(orders × versions)
    * inside one task. At sf1 with one customer owning 20% of orders
    * that is ~3·10^5 × 2·10^5 residual evaluations in a single
    * thread — a measured multi-hour hang (gen_sf.py --skew caught
    * it); the window formulation runs the same key in seconds. */
  val q41 = QueryDef(
    "q41_pit_join",
    (s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_orderstatus"))
      val hist = graft.ops.Scd2.history(o, Seq("o_custkey"),
          ts = "o_orderdate", tie = "o_orderkey", attrs = Seq("o_orderstatus"))
      // kind 0 = version start, kind 1 = probe (order): at equal ts
      // the version sorts first, so `eff_from <= t` is inclusive and
      // the LAST same-ts version (highest ver_key) is the one whose
      // interval is non-empty — identical to the interval-join result
      val vers = hist.select(col("o_custkey"), col("eff_from").as("ts"),
        lit(0).as("kind"), col("o_orderkey").as("ver_key"),
        col("o_orderstatus").as("status_then"),
        lit(null).cast("long").as("o_orderkey"),
        lit(null).cast(o.schema("o_orderdate").dataType).as("o_orderdate"))
      val probes = o.select(col("o_custkey"), col("o_orderdate").as("ts"),
        lit(1).as("kind"), lit(null).cast("long").as("ver_key"),
        lit(null).cast("string").as("status_then"),
        col("o_orderkey"), col("o_orderdate"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("ts"), col("kind"), col("ver_key"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      vers.unionByName(probes)
        .withColumn("status_asof", last(col("status_then"), ignoreNulls = true).over(w))
        .withColumn("ver_asof", last(col("ver_key"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("status_asof").as("status_then"), col("ver_asof").as("ver_key"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      WITH v AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
               row_number() OVER w AS rn,
               lag(o_orderstatus) OVER w AS prev
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)),
      s AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus
        FROM v WHERE rn = 1 OR prev IS DISTINCT FROM o_orderstatus),
      h AS (
        SELECT o_custkey, o_orderkey, o_orderstatus,
               o_orderdate AS eff_from,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS eff_to
        FROM s)
      SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
             h.o_orderstatus AS status_then, h.o_orderkey AS ver_key
      FROM orders o JOIN h ON h.o_custkey = o.o_custkey
       AND o.o_orderdate >= h.eff_from
       AND (h.eff_to IS NULL OR o.o_orderdate < h.eff_to)
      ORDER BY o.o_orderkey"""))

  /** SEAM-STITCHED SCD2 under the oracle gate —
    * [[graft.ops.Scd2.historyStitched]] exercised END-TO-END on the
    * regime it exists for: DEEP per-key histories. The change log is
    * the events stream folded onto 8 hub keys (`user_id % 8` — each
    * key carries N/8 changes, 125k at sf1, the telemetry-grade
    * per-entity depth where [[q40]]'s naive per-key window sorts one
    * key's entire history through a single reducer), segmented by
    * epoch DAY of the change time (events span one month → ~30
    * W-bounded segment sorts per key instead of one unbounded one;
    * the hub measurement in bench_scd2_regime_r12.json: stitched
    * ×1.57 better at 2M changes/key).
    *
    * The gate is the q90 pattern: the ORACLE is the NAIVE global-lag
    * SQL (one window over each key's full history) — a hash-identical
    * result proves the seam decomposition exact externally, not just
    * against Scd2Spec's engineered corpus: suppression lags crossing
    * day seams, carry joins, and backward interval closing all have
    * to reproduce the one-window semantics on real data. Timestamps
    * travel as epoch micros (`ts_ns div 1000` ≡ DuckDB `epoch_us`,
    * the q37/q56 discipline), so eff_from/eff_to hash exactly. */
  val q92 = QueryDef(
    "q92_scd2_stitched_deep",
    (s, d) => {
      val changes = Tables.events(s, d)
        .select((col("user_id") % 8).as("hub_id"),
          expr("ts_ns div 1000").as("us"), col("event_id"), col("event_type"))
      graft.ops.Scd2.historyStitched(changes, Seq("hub_id"),
          ts = "us", tie = "event_id", attrs = Seq("event_type"),
          segOrd = expr("us div 86400000000"), bucketWidth = 1L)
        .select(col("hub_id"), col("event_id"), col("event_type"),
          col("eff_from"), col("eff_to"), col("is_current"))
        .orderBy(col("hub_id"), col("eff_from"), col("event_id"))
    },
    Some("""
      WITH c AS (
        SELECT user_id % 8 AS hub_id, epoch_us(ts) AS us,
               event_id, event_type
        FROM events),
      v AS (
        SELECT hub_id, us, event_id, event_type,
               row_number() OVER w AS rn,
               lag(event_type) OVER w AS prev
        FROM c
        WINDOW w AS (PARTITION BY hub_id ORDER BY us, event_id)),
      s AS (
        SELECT hub_id, us, event_id, event_type
        FROM v WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
      h AS (
        SELECT hub_id, event_id, event_type, us AS eff_from,
               lead(us) OVER (PARTITION BY hub_id
                 ORDER BY us, event_id) AS eff_to
        FROM s)
      SELECT hub_id, event_id, event_type, eff_from, eff_to,
             (eff_to IS NULL) AS is_current
      FROM h ORDER BY hub_id, eff_from, event_id"""))

  /** Unpivot (melt) — the inverse of [[q04]]'s conditional-agg pivot:
    * the per-user wide event counts melt back into long
    * `(user_id, metric, cnt)` rows via Spark's native
    * `Dataset.unpivot` (planned as a single `Expand` — each input row
    * fans to 3 output rows in-place, NO shuffle and no join; the only
    * exchanges are the aggregate's and the final sort's).
    * 100 TB: Expand is embarrassingly parallel and row-local; the
    * melt multiplies rows ×k but never repartitions them. */
  val q42 = QueryDef(
    "q42_unpivot",
    (s, d) => {
      val e = Tables.events(s, d)
      val wide = e.groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_clicks"),
          sum(when(col("event_type") === "view", 1).otherwise(0)).as("n_views"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"))
      wide.unpivot(
          Array(col("user_id")),
          Array(col("n_clicks"), col("n_views"), col("n_errors")),
          "metric", "cnt")
        .orderBy(col("user_id"), col("metric"))
    },
    Some("""
      WITH wide AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
        FROM events GROUP BY user_id)
      SELECT user_id, metric, cnt
      FROM (UNPIVOT wide ON n_clicks, n_views, n_errors
            INTO NAME metric VALUE cnt)
      ORDER BY user_id, metric"""))

  /** Semi join (the missing sibling of [[q14]]'s anti join), spelled
    * as the [[graft.ops.BloomSemi]] composite: the big fact (orders)
    * probed against a selective build set (one nation's customers,
    * ~4% of probe rows match), with the probe side pre-filtered by an
    * in-plan bloom bitset of the build keys before the exact
    * `left_semi` removes false positives. Result is EXACTLY the plain
    * EXISTS — the bloom only cuts the probe rows entering the join
    * shuffle, which at 100 TB is the difference between shuffling the
    * whole fact table and shuffling ~the matching fraction.
    * BloomSemiSpec pins the equality and superset properties;
    * ShuffleAuditSpec pins the measured byte reduction. */
  val q43 = QueryDef(
    "q43_bloom_semi_join",
    (s, d) => {
      val o = Tables.orders(s, d)
      val nat3 = Tables.customer(s, d)
        .filter(col("c_nationkey") === 3).select(col("c_custkey"))
      graft.ops.BloomSemi.semiJoin(o, col("o_custkey"), nat3, col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
      WHERE EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey
                      AND c.c_nationkey = 3)
      ORDER BY o_orderkey"""))

  /** Data-quality report over the star schema — [[graft.ops.Checks]]
    * as a query: PK uniqueness, NOT NULL, referential integrity,
    * accepted values, and a row invariant, one
    * `(check_name, violations)` row each (the constraints the
    * reference declares as PostgreSQL DDL, run as explicit lake-side
    * validation). The accepted-values check intentionally FIRES on
    * real data (event types beyond click/view/purchase), so the
    * oracle pins a non-zero violation count, not just zeros. */
  val q45 = QueryDef(
    "q45_dq_checks",
    (s, d) => {
      import graft.ops.Checks
      val c = Tables.customer(s, d); val o = Tables.orders(s, d)
      Checks.report(Seq(
        Checks.pkUnique(c, Seq("c_custkey"), "pk_customer_unique"),
        Checks.referential(o, "o_custkey", c, "c_custkey", "fk_orders_customer"),
        Checks.notNull(o, "o_custkey", "notnull_orders_custkey"),
        Checks.acceptedValues(Tables.events(s, d), "event_type",
          Seq("click", "view", "purchase"), "accepted_event_types"),
        Checks.invariant(Tables.lineitem(s, d), col("l_quantity") > 0,
          "inv_lineitem_qty_pos")))
    },
    Some("""
      WITH checks AS (
        SELECT 'pk_customer_unique' AS check_name,
               CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS violations
        FROM (SELECT count(*) AS n FROM customer GROUP BY c_custkey)
        UNION ALL
        SELECT 'fk_orders_customer', count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'notnull_orders_custkey',
               count(CASE WHEN o_custkey IS NULL THEN 1 END) FROM orders
        UNION ALL
        SELECT 'accepted_event_types',
               count(CASE WHEN event_type IS NULL
                            OR event_type NOT IN ('click','view','purchase')
                          THEN 1 END) FROM events
        UNION ALL
        SELECT 'inv_lineitem_qty_pos',
               count(CASE WHEN NOT coalesce(l_quantity > 0, false) THEN 1 END)
        FROM lineitem)
      SELECT check_name, violations FROM checks ORDER BY check_name"""))

  /** Distribution-rank window family per nation — `ntile` (quartile
    * bucketing), `percent_rank`, `cume_dist`, and a `lag` delta,
    * completing §2.6 beyond rank/row_number/frames: the quantile-style
    * per-group normalization a feature pipeline runs.
    *
    * WITHOUT the per-key window: `PARTITION BY c_nationkey` hashes
    * the whole customer table onto 25 reducers — corpus/25 through
    * one task's sort at scale, the low-cardinality funnel (q74/q85's
    * class, but NOT one-carry-stitchable: rank-family functions need
    * each key's TOTAL count and every row's GLOBAL position). The
    * two-phase form the registry already owns supplies exactly those:
    *  - global position `rn` from [[graft.ops.Ids.densePerKey]]
    *    (range-partition by (nation, acctbal, custkey) so one nation
    *    spans many partitions, per-key-run partials — P+25 longs to
    *    the driver, never rows — broadcast offsets, partition-local
    *    numbering);
    *  - per-nation totals as a 25-row broadcast;
    *  - the four functions recomputed ARITHMETICALLY from (rn, n):
    *    ntile's SQL-standard fill (first n mod k buckets get one
    *    extra row; when n ≤ k the first branch covers every row, so
    *    the size-0 division is unreachable), percent_rank =
    *    (rn−1)/(n−1) and cume_dist = rn/n (the order is total —
    *    custkey breaks acctbal ties — so rank = row_number and every
    *    peer group is 1), and lag's previous-row value fetched by an
    *    EQUI-JOIN on (nation, rn−1) — a fully parallel integer join,
    *    not an ordered neighbor scan. PlanQualitySpec pins the
    *    window-free plan; the oracle keeps the native
    *    ntile/percent_rank/cume_dist/lag windows, so the hash gate
    *    proves the arithmetic reconstruction EQUALS the engine
    *    built-ins row for row.
    *
    * Deliberately UNROUNDED outputs: percent_rank/cume_dist/lag-diff
    * are single IEEE operations on identical integers/doubles, so
    * both engines produce bit-identical values — while rounding them
    * CREATES divergence at decimal half-boundaries (hit at sf0.1:
    * round(0.0640625, 6) differs between Spark's shortest-string
    * HALF_UP and DuckDB's binary-value rounding). Round only what
    * accumulation order can perturb; never round what is already
    * exact. */
  val q46 = QueryDef(
    "q46_window_family",
    (s, d) => {
      val c = Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
      val ranked = Memo.persist(graft.ops.Ids.densePerKey(
        c, Seq("c_nationkey"), Seq(col("c_acctbal"), col("c_custkey")), "rn"))
      val counts = ranked.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"))
      val prev = ranked.select(col("c_nationkey"),
        (col("rn") + 1L).as("rn"), col("c_acctbal").as("prev_bal"))
      ranked
        .join(broadcast(counts), Seq("c_nationkey"))
        .join(prev, Seq("c_nationkey", "rn"), "left")
        .withColumn("__size", expr("n div 4L"))
        .withColumn("__rem", expr("n % 4L"))
        .withColumn("__cut", expr("__rem * (__size + 1L)"))
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          when(col("rn") <= col("__cut"),
            expr("(rn - 1L) div (__size + 1L) + 1L"))
            .otherwise(expr("__rem + (rn - __cut - 1L) div __size + 1L"))
            .cast("int").as("quartile"),
          when(col("n") === 1L, lit(0.0))
            .otherwise((col("rn") - 1L).cast("double") /
              (col("n") - 1L).cast("double")).as("pct_rank"),
          (col("rn").cast("double") / col("n").cast("double")).as("cdist"),
          (col("c_acctbal") - col("prev_bal")).as("bal_step"))
        .orderBy(col("c_nationkey"), col("c_custkey"))
    },
    Some("""
      SELECT c_nationkey, c_custkey, c_acctbal,
             ntile(4) OVER w AS quartile,
             percent_rank() OVER w AS pct_rank,
             cume_dist() OVER w AS cdist,
             c_acctbal - lag(c_acctbal, 1) OVER w AS bal_step
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
      ORDER BY c_nationkey, c_custkey"""))

  /** Blocked fuzzy match (entity resolution) — the scale
    * generalization of the reference's hand-maintained team-name
    * variant map (Transform.py:407-423 hardcodes 'Utd'→'United' etc.;
    * at corpus scale the variants aren't known upfront): a
    * deterministic dirty feed (2nd char dropped + lowercased) is
    * matched back to the clean dimension by edit distance. The
    * BLOCKING join is the scale insight: candidates pair only within
    * an equi-key block (here first letter — in production a
    * soundex/prefix/length band), so the plan is a plain shuffle
    * equi-join producing O(n·block) pairs, never the O(n²) cross
    * join; `levenshtein` runs on candidates only, and best-match =
    * min-distance per dirty name via one window. */
  val q47 = QueryDef(
    "q47_fuzzy_match",
    (s, d) => {
      val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      val dirty = n.select(lower(concat(substring(col("n_name"), 1, 1),
        expr("substring(n_name, 3)"))).as("dirty_name"))
      val cand = dirty
        .join(n, substring(col("dirty_name"), 1, 1) ===
          lower(substring(col("n_name"), 1, 1)))
        .withColumn("dist", levenshtein(col("dirty_name"), lower(col("n_name"))))
        .filter(col("dist") <= 3)
      val w = Window.partitionBy(col("dirty_name"))
        .orderBy(col("dist"), col("n_name"))
      cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("dirty_name"), col("n_name").as("matched"), col("dist"))
        .orderBy(col("dirty_name"))
    },
    Some("""
      WITH dirty AS (
        SELECT lower(substr(n_name, 1, 1) || substr(n_name, 3)) AS dirty_name
        FROM nation),
      cand AS (
        SELECT d.dirty_name, n.n_name,
               levenshtein(d.dirty_name, lower(n.n_name)) AS dist
        FROM dirty d
        JOIN nation n
          ON substr(d.dirty_name, 1, 1) = lower(substr(n.n_name, 1, 1))
        WHERE levenshtein(d.dirty_name, lower(n.n_name)) <= 3),
      r AS (
        SELECT dirty_name, n_name, dist,
               row_number() OVER (PARTITION BY dirty_name
                 ORDER BY dist, n_name) AS rn
        FROM cand)
      SELECT dirty_name, n_name AS matched, dist
      FROM r WHERE rn = 1
      ORDER BY dirty_name"""))

  /** Correlated scalar subquery through Catalyst's DECORRELATION:
    * each customer's order count and latest order date as inline
    * `(SELECT ...)` expressions. Spark can't execute a correlated
    * subquery per-row — RewriteCorrelatedScalarSubquery turns each
    * into an aggregate + LEFT OUTER equi-join, so the plan is two
    * shuffled joins, NOT 1500 nested lookups: the SQL author writes
    * the per-row idiom, the engine runs the set-based plan a 100 TB
    * input needs. Dialect note: both subqueries aggregate (count/max
    * over the correlated group), which both engines accept; bare
    * `LIMIT 1` correlated subqueries are the non-portable spelling. */
  val q48 = QueryDef(
    "q48_correlated_subquery",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v48")
      Tables.customer(s, d).createOrReplaceTempView("customer_v48")
      s.sql("""
        SELECT c_custkey,
               (SELECT count(*) FROM orders_v48 o
                WHERE o.o_custkey = c.c_custkey) AS n_orders,
               (SELECT max(o_orderdate) FROM orders_v48 o
                WHERE o.o_custkey = c.c_custkey) AS last_order
        FROM customer_v48 c
        ORDER BY c_custkey""")
    },
    Some("""
      SELECT c_custkey,
             (SELECT count(*) FROM orders o
              WHERE o.o_custkey = c.c_custkey) AS n_orders,
             (SELECT max(o_orderdate) FROM orders o
              WHERE o.o_custkey = c.c_custkey) AS last_order
      FROM customer c
      ORDER BY c_custkey"""))

  /** Explicit GROUPING SETS — the generalization of [[q31]]'s ROLLUP
    * to arbitrary group combinations: per (status, priority), per
    * status, and per priority in ONE pass. Catalyst plans a single
    * Expand (each row replicated once per grouping set with its
    * unused keys nulled) feeding ONE hash aggregate — one shuffle
    * total, vs three scans + a union for the naive spelling.
    * `grouping_id()` disambiguates real NULL keys from subtotal
    * rows in both engines. */
  val q49 = QueryDef(
    "q49_grouping_sets",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v49")
      s.sql(s"""
        SELECT o_orderstatus, o_orderpriority,
               grouping__id AS gid,
               count(*) AS n_orders,
               ${QueryDef.dsumSql("o_totalprice")} AS revenue
        FROM orders_v49
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority))
        ORDER BY gid, o_orderstatus, o_orderpriority""")
    },
    Some(s"""
      SELECT o_orderstatus, o_orderpriority,
             grouping(o_orderstatus, o_orderpriority) AS gid,
             count(*) AS n_orders,
             ${QueryDef.dsumSql("o_totalprice")} AS revenue
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                              (o_orderstatus), (o_orderpriority))
      ORDER BY gid, o_orderstatus, o_orderpriority"""))

  /** Nested-array aggregation + higher-order functions, zero UDFs
    * (§2.10 discipline on collection types): per-order quantity
    * vectors built DETERMINISTICALLY — `collect_list` alone has no
    * ordering guarantee across partition merges, so the portable
    * spelling is sort_array over (linenumber, qty) structs — qty as
    * the EXPLICIT tiebreak, since the testdata duplicates line
    * numbers within an order and an under-specified sort diverges
    * between engines — then a
    * `transform` projection; `filter`/`array_max` HOFs derive
    * per-order features. Everything stays codegen-able expression
    * work inside one aggregate — the array column shape (bounded by
    * lines-per-order, NOT by table size) is the collection analog of
    * the sketch buffers: per-group state stays O(group width) at any
    * SF. The array is SERIALIZED at the output boundary
    * (`concat_ws` / `array_to_string`) so every emitted column is a
    * sortable scalar — external result checkers canonicalize by
    * sorting columns, and a raw array column is unhashable there. */
  val q50 = QueryDef(
    "q50_array_hof",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      li.groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(
          struct(col("l_linenumber"), col("l_quantity")))).as("pairs"))
        .select(col("l_orderkey"),
          transform(col("pairs"), p => p.getField("l_quantity")).as("qtys"))
        .select(col("l_orderkey"),
          concat_ws(",", col("qtys").cast("array<string>")).as("qtys"),
          size(col("qtys")).cast("long").as("n_items"),
          size(filter(col("qtys"), x => x >= 30)).cast("long").as("n_big"),
          array_max(col("qtys")).as("max_qty"))
        .filter(col("n_items") >= 5)
        .orderBy(col("l_orderkey"))
    },
    Some("""
      WITH g AS (
        SELECT l_orderkey,
               list(l_quantity ORDER BY l_linenumber, l_quantity) AS qtys
        FROM lineitem GROUP BY l_orderkey)
      SELECT l_orderkey, array_to_string(qtys, ',') AS qtys,
             len(qtys) AS n_items,
             len(list_filter(qtys, x -> x >= 30)) AS n_big,
             list_max(qtys) AS max_qty
      FROM g WHERE len(qtys) >= 5
      ORDER BY l_orderkey"""))

  /** Time-series gap filling — the resample/reindex primitive of
    * dashboard time axes (the reference's ui.py charts assume a dense
    * season axis; a lake-side pipeline must MATERIALIZE missing
    * periods): per-nation monthly order counts with absent months
    * present as explicit zeros. The dense grid is dimension ×
    * calendar: the calendar spine derives from a one-row min/max
    * aggregate exploded through `sequence` (a broadcast-scalar-sized
    * build — the deliberate cross join is dim×months, never
    * fact-sized), counts aggregate fact-side with ONE shuffle, and
    * the grid left-joins counts so gaps surface as 0 rather than
    * missing rows. */
  val q51 = QueryDef(
    "q51_gap_fill",
    (s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("month", to_date(date_trunc("month", col("o_orderdate"))))
      val counts = o.join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("month"))
        .agg(count(lit(1)).as("cnt"))
      val months = o.agg(min(col("month")).as("mn"), max(col("month")).as("mx"))
        .select(explode(sequence(col("mn"), col("mx"),
          expr("interval 1 month"))).as("month"))
      val grid = Tables.nation(s, d).select(col("n_nationkey"))
        .crossJoin(broadcast(months))
      grid.join(counts,
          grid("n_nationkey") === counts("c_nationkey") &&
            grid("month") === counts("month"), "left")
        .select(grid("n_nationkey"), grid("month"),
          coalesce(col("cnt"), lit(0L)).as("n_orders"))
        .orderBy(col("n_nationkey"), col("month"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month
        FROM orders),
      counts AS (
        SELECT c.c_nationkey, o.month, count(*) AS cnt
        FROM o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey, o.month),
      spine AS (
        SELECT CAST(unnest(generate_series(
                 (SELECT min(month) FROM o),
                 (SELECT max(month) FROM o),
                 INTERVAL 1 MONTH)) AS DATE) AS month),
      grid AS (SELECT n.n_nationkey, s.month FROM nation n CROSS JOIN spine s)
      SELECT g.n_nationkey, g.month,
             CAST(coalesce(c.cnt, 0) AS BIGINT) AS n_orders
      FROM grid g
      LEFT JOIN counts c
        ON g.n_nationkey = c.c_nationkey AND g.month = c.month
      ORDER BY g.n_nationkey, g.month"""))

  /** INTERSECT / EXCEPT — the set operations completing §2.4 next to
    * union/distinct/dedup: high-balance customers split into those
    * who do and don't hold orders, tagged and unioned into one
    * result. Catalyst plans `intersect` as a distinct + left-SEMI
    * join and `except` as distinct + left-ANTI — both one equi-
    * shuffle on the compared row, no materialized set structures, so
    * the set algebra scales exactly like the joins it lowers to. */
  val q52 = QueryDef(
    "q52_set_ops",
    (s, d) => {
      val rich = Tables.customer(s, d)
        .filter(col("c_acctbal") > 5000).select(col("c_custkey"))
      val withOrders = Tables.orders(s, d)
        .select(col("o_custkey").as("c_custkey"))
      rich.intersect(withOrders).withColumn("tag", lit("both"))
        .unionAll(rich.except(withOrders)
          .withColumn("tag", lit("only_balance")))
        .orderBy(col("tag"), col("c_custkey"))
    },
    Some("""
      WITH rich AS (
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
      wo AS (SELECT o_custkey AS c_custkey FROM orders)
      SELECT c_custkey, 'both' AS tag
      FROM (SELECT c_custkey FROM rich
            INTERSECT SELECT c_custkey FROM wo)
      UNION ALL
      SELECT c_custkey, 'only_balance' AS tag
      FROM (SELECT c_custkey FROM rich
            EXCEPT SELECT c_custkey FROM wo)
      ORDER BY tag, c_custkey"""))

  /** RFM SEGMENTATION — recency/frequency/monetary quintiles per
    * customer, the classic CRM scoring model. The naive form is three
    * GLOBAL ntile windows (every customer through one reducer — the
    * exact shape the plan gate forbids); the scale-honest form
    * computes the 4 quintile BOUNDARIES per metric as a 1-row exact
    * percentile aggregate (q32-proven cross-engine parity),
    * broadcasts that single row, and labels each customer with plain
    * comparisons — no global sort, no single-partition window,
    * O(boundaries) broadcast state.
    *
    * Parity: metrics are integers (days via datediff from the
    * table's max date, order counts, cents via exact DECIMAL(12,2)
    * ×100); boundaries are interpolated percentiles of integers at
    * ranks .2/.4/.6/.8 — both engines evaluate the identical IEEE
    * expression, and the strict `>` label comparisons agree
    * everywhere. Output = 3-d segment histogram (≤125 cells), all
    * integer counts, hash-exact. */
  val q77 = QueryDef(
    "q77_rfm_segments",
    (s, d) => {
      val o = Tables.orders(s, d)
      val anchor = o.agg(max(col("o_orderdate")).as("anchor"))
      val rfm = o.crossJoin(broadcast(anchor))
        .groupBy(col("o_custkey"))
        .agg(
          min(datediff(col("anchor"), col("o_orderdate"))).as("recency"),
          count(lit(1)).as("frequency"),
          sum((col("o_totalprice") * 100).cast("long")).as("monetary"))
      val bounds = rfm.agg(
        expr("percentile(recency, array(0.2, 0.4, 0.6, 0.8))").as("rb"),
        expr("percentile(frequency, array(0.2, 0.4, 0.6, 0.8))").as("fb"),
        expr("percentile(monetary, array(0.2, 0.4, 0.6, 0.8))").as("mb"))
      def seg(metric: org.apache.spark.sql.Column, b: String): org.apache.spark.sql.Column =
        (1 to 4).map(i => (metric.cast("double") >
          element_at(col(b), i)).cast("int")).reduce(_ + _) + 1
      rfm.crossJoin(broadcast(bounds))
        .select(
          seg(col("recency"), "rb").as("r_seg"),
          seg(col("frequency"), "fb").as("f_seg"),
          seg(col("monetary"), "mb").as("m_seg"))
        .groupBy(col("r_seg"), col("f_seg"), col("m_seg"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("r_seg"), col("f_seg"), col("m_seg"))
    },
    Some("""
      WITH anchor AS (SELECT max(o_orderdate) AS anchor FROM orders),
      rfm AS (
        SELECT o_custkey,
               min(datediff('day', o_orderdate, anchor)) AS recency,
               count(*) AS frequency,
               CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS monetary
        FROM orders, anchor
        GROUP BY o_custkey),
      b AS (
        SELECT quantile_cont(recency, [0.2, 0.4, 0.6, 0.8]) AS rb,
               quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fb,
               quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mb
        FROM rfm)
      SELECT
        1 + CAST(recency > rb[1] AS INT) + CAST(recency > rb[2] AS INT)
          + CAST(recency > rb[3] AS INT) + CAST(recency > rb[4] AS INT) AS r_seg,
        1 + CAST(frequency > fb[1] AS INT) + CAST(frequency > fb[2] AS INT)
          + CAST(frequency > fb[3] AS INT) + CAST(frequency > fb[4] AS INT) AS f_seg,
        1 + CAST(monetary > mb[1] AS INT) + CAST(monetary > mb[2] AS INT)
          + CAST(monetary > mb[3] AS INT) + CAST(monetary > mb[4] AS INT) AS m_seg,
        count(*) AS n_customers
      FROM rfm, b
      GROUP BY 1, 2, 3
      ORDER BY r_seg, f_seg, m_seg"""))

  /** TIME TRAVEL over a versioned table — the lakehouse snapshot
    * contract ([[graft.sources.Versioned]]): commit v1 (the base
    * fact), commit v2 (an update applied through the table's write
    * path), then JOIN THE TWO SNAPSHOTS — the audit/rollback query
    * shape Delta/Iceberg serve, completing the CDC family next to
    * q38's frame-level diff and q40's SCD2 history. Readers of v1 are
    * isolated from the v2 commit because committed version dirs are
    * immutable (commit point = one rename; VersionedSpec pins the
    * crash/staging/vacuum edges).
    *
    * Plan shape: the two version reads are independent pruned scans
    * joined on the table key — same cost model as q38's snapshot
    * diff; at 100 TB partition columns pass through each version so
    * both sides prune. The oracle recomputes both versions
    * arithmetically from the base table (decimal-exact: the v2
    * update is a DECIMAL add, dsum boundary discipline on output). */
  val q72 = QueryDef(
    "q72_time_travel",
    (s, d) => {
      import graft.sources.Versioned
      val tmp = graft.TempDirs.create("graft-q72")
      val tbl = s"$tmp/orders_versioned"
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      Versioned.commit(s, tbl, base)
      val updated = base.withColumn("o_totalprice",
        when(col("o_orderstatus") === "O",
          col("o_totalprice") + expr("CAST(100.00 AS DECIMAL(5,2))"))
          .otherwise(col("o_totalprice")))
      Versioned.commit(s, tbl, updated)
      val v1 = Versioned.read(s, tbl, Some(1L))
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").as("price_v1"))
      val v2 = Versioned.read(s, tbl)
        .select(col("o_orderkey"), col("o_totalprice").as("price_v2"))
      v1.join(v2, Seq("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("price_v1") =!= col("price_v2"), 1L).otherwise(0L))
            .as("n_changed"),
          QueryDef.dsum(col("price_v1")).as("sum_v1"),
          QueryDef.dsum(col("price_v2")).as("sum_v2"))
        .orderBy(col("o_orderstatus"))
    },
    Some(s"""
      SELECT o_orderstatus,
             count(*) AS n_rows,
             CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_changed,
             ${QueryDef.dsumSql("o_totalprice")} AS sum_v1,
             ${QueryDef.dsumSql(
               "CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 100.00 ELSE o_totalprice END")} AS sum_v2
      FROM orders
      GROUP BY 1 ORDER BY 1"""))

  /** CDC APPLY — the full three-clause MERGE closing the change-data
    * family: q38 DETECTS changes (frame diff), q72 READS versions
    * (time travel), [[graft.sources.Versioned.changes]] EMITS the
    * keyed feed, and this query APPLIES one —
    * [[graft.ops.SnapshotDiff.diffRows]] (I/U/D + payload, one
    * full-outer key join) fed into [[graft.ops.Upsert.merge]]
    * (`MERGE INTO … WHEN MATCHED UPDATE/DELETE, WHEN NOT MATCHED
    * INSERT`; one anti join + union). The gate proves the round-trip
    * IDENTITY row-for-row: apply(v1, cdc(v1→v2)) must hash-equal a
    * direct SQL recomputation of v2 — every inserted key present,
    * every deleted key absent, every updated payload exact.
    *
    * v2 is q39's deterministic mutation of orders (deletes %7,
    * updates %5 by +1.0, inserts %11 re-keyed +10⁸) — same workload,
    * different operator under test: q39 maintains an AGGREGATE from
    * the delta; this maintains the TABLE.
    *
    * At 100 TB: two key-hash shuffles total (diff's full-outer,
    * merge's anti), no broadcast (both snapshots scale), payload
    * width ridden as one struct. The CDF is |changes|-sized, so
    * applying a small delta to a huge table costs the table's anti
    * join once — the Delta/Iceberg MERGE cost model. */
  val q79 = QueryDef(
    "q79_merge_cdc_apply",
    (s, d) => {
      val v1 = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val v2 = v1.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(v1.filter(col("o_orderkey") % 11 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
      val cdc = graft.ops.SnapshotDiff.diffRows(v1, v2, Seq("o_orderkey"))
      Upsert.merge(v1, cdc, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      WITH v1 AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
      v2 AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM v1 WHERE o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_custkey, o_totalprice
        FROM v1 WHERE o_orderkey % 11 = 0)
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM v2 ORDER BY o_orderkey"""))

  /** MARKET-BASKET CO-OCCURRENCE — pairwise association rules
    * (support + lift) over order baskets: the recommender /
    * frequently-bought-together primitive, an operator CLASS the
    * registry lacked (co-occurrence mining; the candidate-pair
    * pre-pass of every FP-growth/A-priori implementation).
    *
    * Shape at 100 TB: the pair expansion is a SELF-JOIN WITHIN the
    * basket key — one hash exchange on l_orderkey, and the output is
    * bounded by Σ basket_size², not N² (baskets are small by domain;
    * a degenerate giant basket would need the d02-style per-key cap,
    * documented not needed for order lines). The pair aggregate then
    * map-combines into ≤ distinct-pair groups; item supports and the
    * basket total ride cheap side aggregates, broadcast back onto the
    * 20-row result.
    *
    * Parity: lift is emitted as LIFT_PPM = (10⁶·cnt_pair·n_orders)
    * div (cnt_a·cnt_b) — all-integer arithmetic (the q66 fixed-point
    * discipline), bit-identical in both engines; the products stay
    * far under 2⁶³. */
  val q71 = QueryDef(
    "q71_basket_pairs",
    (s, d) => {
      // four consumers each rebuild the scan + two-phase distinct —
      // MEASURED cheaper than persisting it (bench min 2.17 s vs
      // 2.92 s with Memo.persist at sf0.1/32 cores: the blocking
      // cache materialization + deserializing four reads costs more
      // than four fully-parallel 2-column scans; the d11/q81 persists
      // pay off only because their rebuilt subtrees contain joins and
      // windows, not a bare distinct)
      val b = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val supports = b.groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
      val n = b.agg(countDistinct(col("l_orderkey")).as("n_orders"))
      val a1 = b.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val a2 = b.select(col("l_orderkey"), col("l_partkey").as("pb"))
      val pairs = a1.join(a2, Seq("l_orderkey")).filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("cnt_pair"))
        .orderBy(col("cnt_pair").desc, col("pa"), col("pb"))
        .limit(20)
      pairs
        .join(supports.select(col("l_partkey").as("pa"), col("cnt").as("cnt_a")), Seq("pa"))
        .join(supports.select(col("l_partkey").as("pb"), col("cnt").as("cnt_b")), Seq("pb"))
        .crossJoin(broadcast(n))
        .select(col("pa"), col("pb"), col("cnt_pair"), col("cnt_a"), col("cnt_b"),
          expr("(1000000L * cnt_pair * n_orders) div (cnt_a * cnt_b)").as("lift_ppm"))
        .orderBy(col("cnt_pair").desc, col("pa"), col("pb"))
    },
    Some("""
      WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      s AS (SELECT l_partkey, count(*) AS cnt FROM b GROUP BY 1),
      n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
      p AS (SELECT a.l_partkey AS pa, c.l_partkey AS pb, count(*) AS cnt_pair
            FROM b a JOIN b c
              ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
            GROUP BY 1, 2
            ORDER BY cnt_pair DESC, pa, pb LIMIT 20)
      SELECT pa, pb, cnt_pair, sa.cnt AS cnt_a, sb.cnt AS cnt_b,
             (1000000 * cnt_pair * n_orders) // (sa.cnt * sb.cnt) AS lift_ppm
      FROM p
      JOIN s sa ON pa = sa.l_partkey
      JOIN s sb ON pb = sb.l_partkey
      CROSS JOIN n
      ORDER BY cnt_pair DESC, pa, pb"""))

  /** INCREMENTAL JOIN-VIEW MAINTENANCE — the delta-join identity
    * (DBToaster / Materialize's core rule) completing the incremental
    * family: q39 maintains an AGGREGATE from a delta of ONE table;
    * this maintains a JOIN view when BOTH inputs grow. For inserts,
    *   ΔV = agg(ΔA ⋈ B₂) + agg(A₁ ⋈ ΔB)
    * (ΔA ⋈ B₂ = ΔA⋈B₁ ∪ ΔA⋈ΔB folds the cross-delta term into one
    * join), so V₂ = merge(V₁, ΔV) — V₁'s join is NEVER recomputed.
    * The gate proves the identity row-for-row: the oracle computes
    * agg(A₂ ⋈ B₂) directly, and the incrementally-merged Spark result
    * must hash-equal it.
    *
    * Splits are deterministic key mods (orders %11 late-arriving,
    * lineitem %7 late-arriving), so both engines see identical
    * A₁/ΔA/B₁/ΔB.
    *
    * Exactness discipline: partial revenue stays DECIMAL through the
    * merge (decimal addition is associative — partial sums recombine
    * exactly regardless of which delta term they ride in) and casts
    * to DOUBLE only at the output boundary, the q01/dsum rule
    * extended across a two-level aggregation tree.
    *
    * At 100 TB: the two delta joins shuffle |Δ|-driven row counts —
    * with both tables bucketed by the join key they are co-located
    * probes, and the nightly cost is O(|Δ| + view), not O(|A⋈B|).
    * The merge touches only the view's grouping keys (bounded
    * cardinality). This is the maintenance loop every materialized
    * view at scale runs. */
  val q80 = QueryDef(
    "q80_incremental_join_view",
    (s, d) => {
      val A = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val B = Tables.lineitem(s, d).select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      val a1 = A.filter(col("o_orderkey") % 11 =!= 0)
      val da = A.filter(col("o_orderkey") % 11 === 0)
      val db = B.filter(col("l_orderkey") % 7 === 0)
      val b1 = B.filter(col("l_orderkey") % 7 =!= 0)
      def agg(df: DataFrame): DataFrame = df
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("rev").cast(DecimalType(18, 4))).as("r"))
      val v1 = agg(a1.join(b1, col("o_orderkey") === col("l_orderkey")))
      val dv = agg(
        da.join(B, col("o_orderkey") === col("l_orderkey"))
          .unionByName(a1.join(db, col("o_orderkey") === col("l_orderkey"))))
      v1.unionByName(dv)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("n")).as("n_rows"),
          sum(col("r")).cast("string").cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""
      SELECT o_orderpriority, count(*) AS n_rows,
             ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1 ORDER BY 1"""))

  /** MULTI-TOUCH ATTRIBUTION (U-shaped / position-based) — the
    * marketing-analytics operator on top of [[q37]]'s last-touch
    * range join: every click in the 30 minutes before a purchase gets
    * a CREDIT SHARE — 40% to the first touch, 40% to the last, 20%
    * split across the middles (1 touch → 100%, 2 → 50/50) — and
    * credit rolls up by click hour-of-day ("which hours drive
    * conversions").
    *
    * Credit is INTEGER PPM (the q66/q71 fixed-point discipline):
    * weights are exact millionths, the middle split uses integer div
    * with the remainder pinned to the first middle touch, so every
    * purchase's weights sum to EXACTLY 1,000,000 and the rollup is
    * bit-identical in both engines — float shares would drift in the
    * last ulp and break the hash gate.
    *
    * Shape at 100 TB: touch discovery is the q37 bucketed range join
    * (bucket width = window ⇒ lossless, 2 probes per purchase — no
    * unbounded interval explosion); the two position windows (rank,
    * size) share ONE hash(p_id) exchange; the final rollup
    * map-combines into 24 groups. Nothing quadratic, nothing
    * single-partition. */
  val q82 = QueryDef(
    "q82_multitouch_attribution",
    (s, d) => {
      val W = 1800000000L // 30 min in µs
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), expr("ts_ns div 1000").as("us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("us").as("p_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id"),
          col("us").as("c_us"), expr(s"us div $W").as("cb"))
      val probes = purchases.withColumn("cb",
        explode(array(expr(s"p_us div $W") - 1, expr(s"p_us div $W"))))
      val touches = probes.join(clicks, Seq("user_id", "cb"))
        .filter(col("c_us") >= col("p_us") - W && col("c_us") < col("p_us"))
        .select(col("p_id"), col("c_id"), col("c_us"))
      val byP = Window.partitionBy(col("p_id"))
      val weighted = touches
        .withColumn("rn",
          row_number().over(byP.orderBy(col("c_us"), col("c_id"))))
        .withColumn("n", count(lit(1)).over(byP))
        .withColumn("w_ppm",
          when(col("n") === 1, 1000000L)
            .when(col("n") === 2, 500000L)
            .when(col("rn") === 1 || col("rn") === col("n"), 400000L)
            .otherwise(expr(
              "200000L div (n - 2) + if(rn = 2, 200000L % (n - 2), 0L)")))
      weighted
        .groupBy(expr("(c_us div 3600000000L) % 24").as("hour_of_day"))
        .agg(count(lit(1)).as("n_touch"), sum(col("w_ppm")).as("credit_ppm"))
        .orderBy(col("hour_of_day"))
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
      p AS (SELECT event_id AS p_id, user_id, us AS p_us
            FROM ev WHERE event_type = 'purchase'),
      c AS (SELECT event_id AS c_id, user_id, us AS c_us
            FROM ev WHERE event_type = 'click'),
      m AS (
        SELECT p.p_id, c.c_id, c.c_us
        FROM p JOIN c ON p.user_id = c.user_id
         AND c.c_us >= p.p_us - 1800000000 AND c.c_us < p.p_us),
      r AS (
        SELECT p_id, c_id, c_us,
               row_number() OVER (PARTITION BY p_id ORDER BY c_us, c_id) AS rn,
               count(*) OVER (PARTITION BY p_id) AS n
        FROM m),
      w AS (
        SELECT c_us,
               CASE WHEN n = 1 THEN 1000000
                    WHEN n = 2 THEN 500000
                    WHEN rn = 1 OR rn = n THEN 400000
                    ELSE 200000 // (n - 2) +
                         CASE WHEN rn = 2 THEN 200000 % (n - 2) ELSE 0 END
               END AS w_ppm
        FROM r)
      SELECT (c_us // 3600000000) % 24 AS hour_of_day,
             count(*) AS n_touch,
             CAST(sum(w_ppm) AS BIGINT) AS credit_ppm
      FROM w GROUP BY 1 ORDER BY 1"""))

  /** A decimal sum, count and max over a unique-keyed join: lineitem
    * joins `orders` deduplicated on its key, grouped by the order's
    * priority. `sum` widens the DECIMAL(18,4) inputs and `max` keeps
    * them, and the unique dim side means each lineitem row counts once
    * — the oracle computes the same naive aggregate-over-join. */
  val q84 = QueryDef(
    "q84_eager_agg_rule",
    (s, d) => {
      val fact = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_quantity").cast(DecimalType(18, 4)).as("qty"),
        col("l_extendedprice").cast(DecimalType(18, 4)).as("price"))
      val dim = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .dropDuplicates("o_orderkey")
      fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("qty")).cast("string").cast("double").as("sum_qty"),
          sum(col("price")).cast("string").cast("double").as("sum_price"),
          count(lit(1)).as("n_rows"),
          max(col("qty")).cast("double").as("max_qty"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""
      SELECT o_orderpriority,
             ${dsumSql("l_quantity")} AS sum_qty,
             ${dsumSql("l_extendedprice")} AS sum_price,
             count(*) AS n_rows,
             CAST(max(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS max_qty
      FROM lineitem
      JOIN (SELECT DISTINCT o_orderkey, o_orderpriority FROM orders) o
        ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1"""))

  /** EXISTS / NOT EXISTS predicate subqueries (TPC-H Q4/Q21/Q22
    * shape) — the Catalyst DECORRELATION surface the registry's other
    * subquery query (q48: correlated SCALAR subqueries) doesn't touch:
    * `RewritePredicateSubquery` lowers the correlated EXISTS to a
    * LEFT SEMI join and the NOT EXISTS to a LEFT ANTI join, each an
    * equi-shuffle on the correlation key — the row-at-a-time
    * re-execution a naive engine would do becomes two set-joins.
    * Entered as SQL TEXT (the q28 path) because predicate subqueries
    * have no Column-API spelling; the oracle runs the identical
    * statement, so the gate pins the decorrelation's SEMANTICS
    * (orders with at least one big line and no deep-discount line).
    *
    * At 100 TB: both subquery scans prune to (key, filter column),
    * the filters reach parquet, and the semi/anti joins shuffle on
    * l_orderkey like any fact join — nothing correlated survives into
    * execution (PlanQualitySpec pins semi+anti and zero re-scans
    * beyond the two). */
  val q86 = QueryDef(
    "q86_exists_subqueries",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders_v
        WHERE EXISTS (SELECT 1 FROM lineitem_v
                      WHERE l_orderkey = o_orderkey AND l_quantity > 30)
          AND NOT EXISTS (SELECT 1 FROM lineitem_v
                          WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n_orders
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity > 30)
        AND NOT EXISTS (SELECT 1 FROM lineitem
                        WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** NOT IN with a NULLABLE subquery — SQL's three-valued-logic trap
    * and the NULL-AWARE ANTI JOIN it forces (the q86 anti join's evil
    * twin), demonstrated on BOTH branches in one result: the `clean`
    * variant (null-free subquery) returns the per-segment counts a
    * plain anti join would, and the `polluted` variant (the same
    * subquery with one key slice nulled) returns EXACTLY ZERO — one
    * NULL in the list makes `x NOT IN (…)` UNKNOWN for every
    * unmatched x, so the whole predicate filters everything, and the
    * hash-gated 0 distinguishes standard semantics from the
    * plain-anti-join bug an engine could silently ship. Spark plans
    * the polluted variant as a null-aware anti join; DuckDB
    * implements the same standard semantics natively.
    *
    * At 100 TB: the null-aware anti join only plans as BROADCAST (the
    * contains-a-NULL verdict is a global property, so Spark refuses a
    * shuffled version) — a huge nullable NOT IN subquery fails to
    * plan rather than mis-partition, and the production fix is the
    * NOT EXISTS spelling (q86) once keys are provably non-null.
    * Keeping both spellings in the registry documents exactly that
    * trade. */
  val q87 = QueryDef(
    "q87_not_in_null_aware",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql("""
        SELECT 'clean' AS variant, c_mktsegment, count(*) AS n_customers
        FROM customer_v
        WHERE c_custkey NOT IN (
          SELECT o_custkey FROM orders_v
          WHERE o_orderstatus = 'F' AND o_custkey % 13 <> 0)
        GROUP BY c_mktsegment
        UNION ALL
        SELECT 'polluted' AS variant, 'ALL' AS c_mktsegment,
               count(*) AS n_customers
        FROM customer_v
        WHERE c_custkey NOT IN (
          SELECT CASE WHEN o_custkey % 13 = 0 THEN NULL ELSE o_custkey END
          FROM orders_v WHERE o_orderstatus = 'F')
        ORDER BY variant, c_mktsegment""")
    },
    Some("""
      SELECT * FROM (
        SELECT 'clean' AS variant, c_mktsegment, count(*) AS n_customers
        FROM customer
        WHERE c_custkey NOT IN (
          SELECT o_custkey FROM orders
          WHERE o_orderstatus = 'F' AND o_custkey % 13 <> 0)
        GROUP BY c_mktsegment
        UNION ALL
        SELECT 'polluted' AS variant, 'ALL' AS c_mktsegment,
               count(*) AS n_customers
        FROM customer
        WHERE c_custkey NOT IN (
          SELECT CASE WHEN o_custkey % 13 = 0 THEN NULL ELSE o_custkey END
          FROM orders WHERE o_orderstatus = 'F'))
      ORDER BY variant, c_mktsegment"""))

  /** LATERAL correlated subquery with ORDER BY + LIMIT — the
    * top-N-per-group idiom in its SQL-standard spelling, and the
    * hardest decorrelation in the registry's subquery family (q48
    * scalar, q86 EXISTS, q87 NOT IN): a correlated LIMIT cannot
    * become a plain join, so Catalyst's DecorrelateInnerQuery rewrites
    * it into a per-key `WindowGroupLimit` + row_number filter + one
    * equi-join — the engine DERIVES the q07/q33 top-N plan from
    * row-at-a-time semantics. DuckDB executes the same statement with
    * its native LATERAL machinery; result equality pins that the
    * rewrite preserves per-row semantics (ties broken by name, so the
    * top-2 set is unique).
    *
    * At 100 TB: nothing row-at-a-time survives — the decorrelated
    * form is one customer shuffle for the group-limit window plus the
    * nation join, exactly the hand-written q07 shape. */
  val q88 = QueryDef(
    "q88_lateral_topk",
    (s, d) => {
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql("""
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation_v n,
        LATERAL (SELECT c_name, c_acctbal FROM customer_v
                 WHERE c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""")
    },
    Some("""
      SELECT n.n_name, t.c_name, t.c_acctbal
      FROM nation n,
      LATERAL (SELECT c_name, c_acctbal FROM customer c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_name LIMIT 2) t
      ORDER BY n.n_name, t.c_acctbal DESC, t.c_name"""))

  /** SHARE-OF-PARENT (ratio_to_report) — the percent-of-total BI
    * primitive the rollup family doesn't cover (q31/q54 produce the
    * parent TOTALS; this produces each child's SHARE of its parent):
    * every nation's fraction of its region's revenue, exact.
    *
    * Exactness: revenue aggregates as DECIMAL(18,4) (the q01 rule),
    * then converts to integer ten-thousandths-of-a-cent units for the
    * share — share_ppm = (10⁶ · nation_units) div region_units is
    * all-integer, so the ratio is bit-identical in both engines
    * (a double division would drift in the last ulp across
    * differently-ordered partial sums).
    *
    * Shape at 100 TB: the per-(region, nation) aggregate is the only
    * fact-sized work (revenue partial-sums per order BEFORE the
    * customer join, the q01 pushdown); parent totals re-aggregate the
    * 25-row child table and broadcast back — NOT a second fact pass
    * and NOT a partition-wide window over fact rows. */
  val q89 = QueryDef(
    "q89_share_of_parent",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      val perOrder = li.groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4))).as("rev"))
      val byNation = perOrder
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("rev")).as("revd"))
        // exact integer cents: DECIMAL(18,4)·10⁴ has no fraction (the
        // BIGINT cast is exact, no rounding-mode exposure), then an
        // integer div to cents keeps 10⁶·units inside int64 at any
        // gate SF (ten-thousandths overflowed at sf0.1)
        .withColumn("units", expr("CAST(revd * 10000 AS BIGINT) div 100"))
      val byRegion = byNation.groupBy(col("r_name"))
        .agg(sum(col("units")).as("reg_units"))
      byNation.join(broadcast(byRegion), Seq("r_name"))
        .select(col("r_name"), col("n_name"),
          col("revd").cast("double").as("revenue"),
          expr("(1000000L * units) div reg_units").as("share_ppm"))
        .orderBy(col("r_name"), col("n_name"))
    },
    Some("""
      WITH bn AS (
        SELECT r.r_name, n.n_name,
               sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                   AS DECIMAL(18,4))) AS revd
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2),
      u AS (SELECT r_name, n_name, revd,
                   CAST(revd * 10000 AS BIGINT) // 100 AS units FROM bn),
      br AS (SELECT r_name, sum(units) AS reg_units FROM u GROUP BY 1)
      SELECT u.r_name, u.n_name,
             CAST(u.revd AS DOUBLE) AS revenue,
             CAST((1000000 * u.units) // br.reg_units AS BIGINT) AS share_ppm
      FROM u JOIN br ON u.r_name = br.r_name
      ORDER BY u.r_name, u.n_name"""))

  /** SEQUENCE-GAP AUDIT ([[graft.ops.Gaps]]) — islands-and-gaps over
    * the finished-order key sequence (the archive-completeness
    * question: which order-number ranges are absent from the
    * 'F'-status set — the primitive for missing invoice numbers /
    * dropped offsets / absent surrogate ids). The textbook
    * `lag(k) OVER (ORDER BY k)` needs a TOTAL order — one reducer,
    * the plan-gate-forbidden shape; the op computes the identical
    * result with a range exchange + per-partition keyed lag + P
    * boundary longs to the driver (the Ids.dense/Pack two-phase
    * discipline). The oracle runs the naive global-lag form in
    * DuckDB, where single-node totality is free — hash equality
    * proves the two-phase decomposition exact, boundary stitches
    * included. */
  val q90 = QueryDef(
    "q90_sequence_gaps",
    (s, d) =>
      graft.ops.Gaps.gaps(
          Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
          "o_orderkey")
        .withColumn("span", col("gap_end") - col("gap_start") + 1)
        .orderBy(col("gap_start")),
    Some("""
      WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders
                 WHERE o_orderstatus = 'F'),
      l AS (SELECT k, lag(k) OVER (ORDER BY k) AS prev FROM k)
      SELECT prev + 1 AS gap_start, k - 1 AS gap_end,
             k - prev - 1 AS span
      FROM l WHERE prev IS NOT NULL AND k - prev > 1
      ORDER BY gap_start"""))

  /** RECURSIVE CTE — the iterative-query surface expressed in SQL
    * (`WITH RECURSIVE`, Catalyst's UnionLoop execution, new in
    * Spark 4): walk a synthetic customer hierarchy (parent(c) =
    * (c−1) div 3, a deterministic 3-ary tree over c_custkey) from the
    * root and roll up headcount and account balance per depth. The
    * declarative twin of the hand-built Pregel loops (q66/q75/d07):
    * the ENGINE drives the fixpoint — each iteration is one
    * frontier⋈customer equi-join (the frontier is the only moving
    * state, O(level width) rows), terminating when the frontier
    * empties; ~log₃|customer| rounds here. At 100 TB the per-round
    * shuffle is the frontier, never the full table, and the join key
    * derives arithmetically (no parent table scan per round beyond
    * the one the join needs). Entered as SQL TEXT (the q28/q86
    * pathway) because WITH RECURSIVE has no Column-API spelling;
    * DuckDB replays the identical recursion, depths and DECIMAL
    * balance sums hash-exact.
    *
    * Ref: recursion replaces the reference's imperative re-query
    * loops (scr/Load.py's per-season fetch loop is the closest
    * analog); the capability itself is an extension. */
  val q91 = QueryDef(
    "q91_recursive_hierarchy",
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v91")
      s.sql(s"""
        WITH RECURSIVE tree AS (
          SELECT c_custkey AS node, 0 AS depth, c_acctbal
          FROM customer_v91 WHERE c_custkey = 0
          UNION ALL
          SELECT c.c_custkey, t.depth + 1, c.c_acctbal
          FROM customer_v91 c JOIN tree t
            ON (c.c_custkey - 1) DIV 3 = t.node
          WHERE c.c_custkey > 0)
        SELECT depth, count(*) AS n_nodes,
               ${QueryDef.dsumSql("c_acctbal")} AS sum_bal
        FROM tree GROUP BY depth ORDER BY depth""")
    },
    Some(s"""
      WITH RECURSIVE tree AS (
        SELECT c_custkey AS node, 0 AS depth, c_acctbal
        FROM customer WHERE c_custkey = 0
        UNION ALL
        SELECT c.c_custkey, t.depth + 1, c.c_acctbal
        FROM customer c JOIN tree t ON (c.c_custkey - 1) // 3 = t.node
        WHERE c.c_custkey > 0)
      SELECT depth, count(*) AS n_nodes,
             ${QueryDef.dsumSql("c_acctbal")} AS sum_bal
      FROM tree GROUP BY depth ORDER BY depth"""))
}
