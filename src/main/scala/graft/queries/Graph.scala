package graft.queries

import graft.{Memo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond [[graft.ops.ConnectedComponents]]
  * (d07): Pregel-on-DataFrames, the shape GraphX/GraphFrames reduce to
  * on Spark — a persisted edge table plus a small per-node state table
  * that re-aggregates each superstep. The three canonical Pregel
  * algorithms are covered across the repo: fixpoint contraction (d07
  * connected components), value iteration ([[q66]] PageRank), and
  * frontier propagation ([[q75]] BFS hops).
  */
object Graph {

  def defs: Seq[QueryDef] = Seq(q66, q75, q81)

  /** Shared customer↔supplier purchase graph: built ONCE per
    * (session, sfDir) and pass ([[Memo]]) and reused by every graph
    * query — the family's first runner pays the build, the rest ride
    * the cache. `edges` = symmetrized distinct pairs with src degree,
    * pre-partitioned by src; `nodes` = the |V|-row node table derived
    * from the CACHED edges (deriving it from pre-cache lineage would
    * re-run the whole build per reference — caught by DumpPlan).
    * Supplier ids live at +10_000_000 in the shared node
    * space. */
  private[queries] def purchaseGraph(s: SparkSession, d: String): (DataFrame, DataFrame) =
    Memo(s, s"graph:$d") {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      // ONE-EXCHANGE build (measured: a multi-exchange build cost
      // 3–4× the supersteps it feeds). Symmetrize
      // the RAW join output first (two 2-column scans through the
      // broadcast orders join — no shuffle), then pay a single
      // repartition(src): HashPartitioning(src) satisfies the
      // (src, dst) dedup's clustering requirement (subset rule), so
      // dropDuplicates runs in place, and the degree is a keyed
      // window over the same partitioning — dedup + degree + the
      // superstep-ready layout all ride one exchange where the old
      // shape paid distinct + a second persist + repartition.
      // `nodes` dedups the cached edges on src — also exchange-free.
      val cs0 = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_suppkey") + 10000000L).as("dst"))
      val sym = cs0.unionByName(
        cs0.select(col("dst").as("src"), col("src").as("dst")))
      // Degree via the window, not a partition-local aggregate +
      // broadcast join-back: that form (which kills the window's
      // |E|-row sort) re-runs the dedup agg once per branch above the
      // ReusedExchange and measured the build SLOWER (1.7-2.25 ->
      // 2.5-3.35 s, same |E|). The one sort the window pays is cheaper
      // than a second 1.17M-row hash dedup.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
      val edges = Memo.persist(
        sym.repartition(col("src"))
          .dropDuplicates("src", "dst")
          .withColumn("deg", count(lit(1)).over(w)))
      val nodes = Memo.persist(
        edges.dropDuplicates("src").select(col("src").as("node")))
      (edges, nodes)
    }

  /** PAGERANK over the customer↔supplier purchase graph — supplier
    * importance from who-buys-from-whom (lineitem ⋈ orders gives
    * customer→supplier edges; symmetrized so rank circulates through
    * the bipartite graph instead of dead-ending at suppliers).
    *
    * FIXED-POINT INTEGER arithmetic (rank in millionths, damping
    * 0.85 as `(85 · x) div 100`, contributions `rank div degree`):
    * float PageRank is not hash-gateable — parallel double summation
    * is order-dependent and engines diverge in the last ulp — while
    * integer PageRank is bit-deterministic in ANY engine, the same
    * trick production MapReduce rankers use. The dangling-mass term
    * is deliberately dropped (every node here has out-edges by
    * construction: the graph is symmetrized).
    *
    * Plan shape at 100 TB (the Pregel cost model): the EDGE table —
    * the big side, |E| ≈ fact size — comes from [[purchaseGraph]]:
    * built once, pre-partitioned by src, persisted, SHARED with q75.
    * Each of the 3 supersteps shuffles (a) the |V|-row rank table to
    * the edge partitioning for the join (tiny) and (b) map-side-
    * combined per-partition contribution partials (≤ |V| per
    * partition, not |E|) for the groupBy(dst). The edges themselves
    * never re-shuffle across supersteps — per-iteration shuffle
    * volume is O(|V|), not O(|E|). Iteration count is a constant (3),
    * so the lineage stays bounded — no checkpoint needed; a
    * variable-round version would localCheckpoint per superstep like
    * ConnectedComponents does.
    *
    * Oracle: the same 3 supersteps as chained DuckDB CTEs — integer
    * ops make the twin exact, no within_bound needed. */
  val q66 = QueryDef(
    "q66_pagerank",
    (s, d) => {
      val (edges, _) = purchaseGraph(s, d)
      // The symmetrized graph makes two superstep simplifications
      // exact (the oracle replays the NAIVE nodes-left-join form, so
      // the hash gate proves both):
      //  - r0 is the constant 1_000_000, so superstep 1's "join ranks
      //    then divide" is just `1000000 div deg` read off the cached
      //    edge table — no join at all;
      //  - u→v implies v→u, so EVERY node has an in-edge and receives
      //    ≥1 contribution — contrib's key set is exactly the node
      //    set, and the per-superstep `nodes LEFT JOIN contrib`
      //    (+ coalesce for never-reached nodes) is a no-op dropped
      //    here. Two joins and three |V|-row stages gone per run.
      def fold(contrib: DataFrame): DataFrame = contrib
        .select(col("dst").as("node"),
          expr("150000L + (85L * csum) div 100L").as("r"))
      var ranks: DataFrame = fold(edges
        .groupBy(col("dst")).agg(sum(expr("1000000L div deg")).as("csum")))
      for (_ <- 2 to 3) {
        ranks = fold(edges
          .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst"), expr("r div deg").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("csum")))
      }
      ranks.filter(col("node") >= 10000000L)
        .select((col("node") - 10000000L).as("supplier"), col("r").as("rank_ppm"))
        .orderBy(col("rank_ppm").desc, col("supplier"))
        .limit(20)
    },
    Some("""
      WITH cs AS (
        SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 10000000 AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      edges AS (
        SELECT src, dst FROM cs UNION ALL SELECT dst AS src, src AS dst FROM cs),
      deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      nodes AS (SELECT src AS node FROM deg),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
      c1 AS (SELECT e.dst, CAST(SUM(r0.r // d.deg) AS BIGINT) AS csum
             FROM edges e JOIN deg d USING (src) JOIN r0 ON r0.node = e.src
             GROUP BY e.dst),
      r1 AS (SELECT n.node, 150000 + (85 * COALESCE(c1.csum, 0)) // 100 AS r
             FROM nodes n LEFT JOIN c1 ON c1.dst = n.node),
      c2 AS (SELECT e.dst, CAST(SUM(r1.r // d.deg) AS BIGINT) AS csum
             FROM edges e JOIN deg d USING (src) JOIN r1 ON r1.node = e.src
             GROUP BY e.dst),
      r2 AS (SELECT n.node, 150000 + (85 * COALESCE(c2.csum, 0)) // 100 AS r
             FROM nodes n LEFT JOIN c2 ON c2.dst = n.node),
      c3 AS (SELECT e.dst, CAST(SUM(r2.r // d.deg) AS BIGINT) AS csum
             FROM edges e JOIN deg d USING (src) JOIN r2 ON r2.node = e.src
             GROUP BY e.dst),
      r3 AS (SELECT n.node, 150000 + (85 * COALESCE(c3.csum, 0)) // 100 AS r
             FROM nodes n LEFT JOIN c3 ON c3.dst = n.node)
      SELECT node - 10000000 AS supplier, r AS rank_ppm
      FROM r3 WHERE node >= 10000000
      ORDER BY rank_ppm DESC, supplier
      LIMIT 20"""))

  /** BFS HOP DISTANCES — frontier propagation from a seed node (the
    * minimum customer key) over the shared purchase graph: dist(v) =
    * min(dist(v), 1 + min over in-edges of dist(u)), three rounds →
    * every node within 3 hops labeled with its exact hop count. The
    * third canonical Pregel algorithm next to d07's component
    * contraction and q66's value iteration; the real-world shape is
    * blast-radius / reachability analysis ("which suppliers are ≤ 3
    * relationships from this account").
    *
    * Plan shape: reuses [[purchaseGraph]]'s persisted edge table (the
    * family's first runner pays the build); each round is the q66
    * superstep pair — join the O(|V|) frontier to the pre-partitioned
    * edges, min-combine per dst (map-side combined partials), left
    * join back. min is idempotent, so revisiting settled nodes is
    * harmless and no per-round frontier diff is needed at this
    * constant round count. Output is the hop histogram (≤ 4 rows) —
    * all integer, hash-exact. */
  val q75 = QueryDef(
    "q75_bfs_hops",
    (s, d) => {
      val (edges, nodes) = purchaseGraph(s, d)
      // SETTLED-ONLY state: dist carries only
      // reached nodes, so each round is (a) probe the cached edges
      // with the settled set, (b) UNION + min-combine — one shuffle —
      // instead of an all-nodes frame with a null-tracking LEFT
      // JOIN back (a third stage per round that existed purely to
      // carry unreached nulls). min is idempotent, so re-reaching a
      // settled node is harmless and the combine keeps the first
      // (smallest) hop; results are row-identical (the oracle still
      // replays the naive all-nodes form). Per-round persist stays:
      // round k+1 references dist_k TWICE (edge probe + union), so an
      // unpersisted chain re-executes prior rounds' joins.
      var dist: DataFrame = Memo.persist(
        nodes.agg(min(col("node")).as("node")).withColumn("dist", lit(0L)))
      for (_ <- 1 to 3) {
        val reached = edges
          .join(dist.withColumnRenamed("node", "src")
            .select(col("src"), col("dist")), Seq("src"))
          .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
        dist = Memo.persist(dist.unionByName(reached)
          .groupBy(col("node")).agg(min(col("dist")).as("dist")))
      }
      dist
        .groupBy(col("dist").as("hops"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("hops"))
    },
    Some("""
      WITH cs AS (
        SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 10000000 AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      edges AS (
        SELECT src, dst FROM cs UNION ALL SELECT dst AS src, src AS dst FROM cs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      seed AS (SELECT min(node) AS node FROM nodes),
      d0 AS (SELECT n.node,
                    CASE WHEN n.node = s.node THEN CAST(0 AS BIGINT) END AS dist
             FROM nodes n, seed s),
      r1 AS (SELECT e.dst, min(d.dist + 1) AS nd
             FROM edges e JOIN d0 d ON d.node = e.src AND d.dist IS NOT NULL
             GROUP BY e.dst),
      d1 AS (SELECT n.node, least(n.dist, r.nd) AS dist
             FROM d0 n LEFT JOIN r1 r ON r.dst = n.node),
      r2 AS (SELECT e.dst, min(d.dist + 1) AS nd
             FROM edges e JOIN d1 d ON d.node = e.src AND d.dist IS NOT NULL
             GROUP BY e.dst),
      d2 AS (SELECT n.node, least(n.dist, r.nd) AS dist
             FROM d1 n LEFT JOIN r2 r ON r.dst = n.node),
      r3 AS (SELECT e.dst, min(d.dist + 1) AS nd
             FROM edges e JOIN d2 d ON d.node = e.src AND d.dist IS NOT NULL
             GROUP BY e.dst),
      d3 AS (SELECT n.node, least(n.dist, r.nd) AS dist
             FROM d2 n LEFT JOIN r3 r ON r.dst = n.node)
      SELECT dist AS hops, count(*) AS n_nodes
      FROM d3 WHERE dist IS NOT NULL
      GROUP BY dist ORDER BY hops"""))

  /** TRIANGLE COUNTING with degree orientation — the fourth canonical
    * distributed-graph shape (with d07's contraction, q66's value
    * iteration, q75's frontier propagation): the clustering /
    * community-density primitive, counted by the node-iterator
    * algorithm of Suri & Vassilvitskii (WWW'11, "the curse of the
    * last reducer").
    *
    * The orientation is the whole trick: orient every undirected edge
    * from its lower-(degree, id) endpoint to its higher one (a total
    * order, so each triangle has exactly ONE apex with two outgoing
    * edges and is found exactly once), then wedges are pairs of
    * OUT-neighbors and a triangle is a wedge whose far pair is itself
    * a directed edge. Wedge count drops from Σ deg² (a hub node with
    * degree 10⁶ generates 10¹² wedges — the last-reducer curse) to
    * Σ outdeg² = O(m^{3/2}): a hub's edges mostly point INTO it.
    *
    * Graph: co-purchase edges between parts sharing an order (the q71
    * basket pairs as an undirected graph), on the `%3` node slice —
    * the synthetic baskets are far denser than a real co-purchase
    * graph, and the slice restores realistic density while leaving
    * 10⁵ wedges (sf0.01) for both engines to chew.
    *
    * Plan shape: every step is an equi-join (basket self-join on
    * order; degree joins on endpoint; wedge self-join on apex;
    * closing join on the (v, w) pair); the oriented edge table is
    * persisted once for its three consumers. Output = per-node
    * triangle participation counts (each triangle credits its three
    * corners), a full histogram under the hash gate. */
  val q81 = QueryDef(
    "q81_triangle_count",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_partkey") % 3 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val a1 = li.select(col("o"), col("p").as("pa"))
      val a2 = li.select(col("o"), col("p").as("pb"))
      val e = a1.join(a2, Seq("o")).filter(col("pa") < col("pb"))
        .select(col("pa"), col("pb")).distinct()
      val deg = e.select(col("pa").as("n"))
        .unionAll(e.select(col("pb").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("dg"))
      val fwd = col("da") < col("db") ||
        (col("da") === col("db") && col("pa") < col("pb"))
      // cached PARTITIONED BY src: the wedge self-join below joins dir
      // to itself on src — a cache that already hashes by src hands
      // both sides their required distribution, no per-consumer
      // exchange (the closing join's (v, w) shuffle is unavoidable)
      val dir = Memo.persist(e
        .join(deg.select(col("n").as("pa"), col("dg").as("da")), Seq("pa"))
        .join(deg.select(col("n").as("pb"), col("dg").as("db")), Seq("pb"))
        .select(
          when(fwd, col("pa")).otherwise(col("pb")).as("src"),
          when(fwd, col("pb")).otherwise(col("pa")).as("dst"),
          when(fwd, col("db")).otherwise(col("da")).as("dd"))
        .repartition(col("src")))
      val e1 = dir.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
      val e2 = dir.select(col("src"), col("dst").as("w"), col("dd").as("dw"))
      val wedges = e1.join(e2, Seq("src"))
        .filter(col("dv") < col("dw") ||
          (col("dv") === col("dw") && col("v") < col("w")))
        .select(col("src").as("u"), col("v"), col("w"))
      // closing test IN-ROW (the d11 verify trick): per-apex OUT-
      // neighbor sets from the cached oriented edges — array size is
      // bounded by the orientation's outdeg ≤ √(2m), so per-group
      // state is safe at any scale — then one equi-join on v and an
      // array membership probe, replacing the old (v, w) join that
      // re-shuffled BOTH the wedge set and the edge set and paid two
      // SMJ sorts. At bench SF the neighbor table auto-broadcasts
      // (no hint — it scales with |E| and must degrade to a shuffle
      // join at 100 TB, the q01-customer rule).
      val adj = dir.groupBy(col("src").as("v"))
        .agg(collect_set(col("dst")).as("nbrs"))
      val tri = wedges.join(adj, Seq("v"))
        .filter(array_contains(col("nbrs"), col("w")))
        .select(col("u"), col("v"), col("w"))
      tri.select(explode(array(col("u"), col("v"), col("w"))).as("part_id"))
        .groupBy(col("part_id")).agg(count(lit(1)).as("n_tri"))
        .orderBy(col("n_tri").desc, col("part_id"))
    },
    Some("""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_partkey % 3 = 0),
      e AS (
        SELECT a.p AS pa, b.p AS pb FROM li a
        JOIN li b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2),
      deg AS (
        SELECT n, count(*) AS dg FROM (
          SELECT pa AS n FROM e UNION ALL SELECT pb FROM e)
        GROUP BY n),
      dir AS (
        SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.pa < e.pb)
                    THEN e.pa ELSE e.pb END AS src,
               CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.pa < e.pb)
                    THEN e.pb ELSE e.pa END AS dst,
               CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.pa < e.pb)
                    THEN db.dg ELSE da.dg END AS dd
        FROM e JOIN deg da ON e.pa = da.n JOIN deg db ON e.pb = db.n),
      w AS (
        SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        FROM dir e1 JOIN dir e2 ON e1.src = e2.src
        WHERE e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst)),
      tri AS (
        SELECT u, v, w.w FROM w
        JOIN dir d2 ON d2.src = w.v AND d2.dst = w.w),
      nodes AS (
        SELECT u AS part_id FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri)
      SELECT part_id, count(*) AS n_tri
      FROM nodes GROUP BY 1
      ORDER BY n_tri DESC, part_id"""))
}
