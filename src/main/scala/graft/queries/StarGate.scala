package graft.queries

import graft.{Memo, Tables}
import graft.model.{Dims, Facts}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The star-schema pipeline under the DRIVER's correctness gate.
  *
  * GoldenSpec/UiParitySpec prove the model layer against the
  * reference's committed CSVs spec-side; these queries put the same
  * builders ([[graft.model.Dims]], [[graft.model.Facts]]) under the
  * external DuckDB hash gate: football-shaped raw inputs are derived
  * DETERMINISTICALLY from the testdata tables (nation → team seed,
  * customer/supplier → player stats, orders → team-match rows), the
  * REAL pipeline builders run unchanged, and the oracle SQL replays
  * the identical derivation — dedup-keep-first, sequential ids,
  * two-phase date filtering, suffix scrubs, composite splits,
  * try-casts — in pure SQL.
  *
  * The synthetic raw rows deliberately carry the reference's dirt
  * (SURVEY §7.4 traps): embedded header rows ('player'), unparseable
  * dates ('TBD') that shift game ids after the phase-2 filter,
  * NULL join keys dropped early vs NULL results dropped late,
  * 'Q'-prefixed wiki ids, club-suffix noise (' F.C.', ' AFC'),
  * dotted ranks, malformed 'GF:GA' composites, and garbage numerics
  * ('n/a', 'unknown') that must coerce to NULL.
  *
  * Scale note: dim_team stays dim-sized (built from `nation`), but
  * dim_match and dim_player here derive from orders/customer — they
  * SCALE WITH SF. The gate therefore runs the builders in their
  * scale-honest configuration: dense two-phase ids (no global-window
  * id assignment anywhere in the chain) and `hintDims = false` (no
  * pinned broadcast of an SF-scaling relation; Spark's own threshold
  * decides at runtime). PlanQualitySpec pins both properties on
  * p01's plan. */
object StarGate {

  // ---------------------------------------------------------------
  // shared SQL fragments (oracle twins of Normalize.*)
  // ---------------------------------------------------------------

  /** SQL twin of Normalize.cleanClubName: ordered literal suffix
    * scrub, trailing space/dot trim, dangling " a." drop. */
  private def cleanSql(x: String): String = {
    val scrubbed = Seq("a.f.c.", "a.f.c", "f.c.", "f.c", "afc", "fc")
      .foldLeft(s"lower($x)") { (acc, sfx) => s"replace($acc, '$sfx', '')" }
    s"trim(regexp_replace(regexp_replace($scrubbed, '[ .]+$$', ''), ' a\\.?$$', ''))"
  }

  /** SQL twin of Facts.normed(): normKey → (variants: no-op on this
    * data) → cleanClubName → normKey. */
  private def normedSql(x: String): String =
    s"lower(trim(${cleanSql(s"lower(trim($x))")}))"

  /** dim_team as CTE body (SQL twin of Dims.team over the nation-
    * derived seed). */
  private val dimTeamSql: String =
    s"""SELECT try_cast(replace('Q' || n_nationkey, 'Q', '') AS INT) AS team_id,
       |       ${cleanSql("n_name || ' FC'")} AS team_name,
       |       CAST(1900 + n_nationkey AS INT) AS founded_year,
       |       try_cast(replace('Q' || (n_nationkey * 10), 'Q', '') AS INT) AS stadium_id,
       |       substr(n_name, 1, 3) AS short_name
       |FROM nation""".stripMargin

  /** Raw team-match rows as CTE body (SQL twin of [[rawTeamMatch]]). */
  private val rawTeamMatchSql: String =
    """SELECT o_orderkey,
      |       'game-' || lpad(CAST(o_orderkey // 2 AS VARCHAR), 10, '0') AS game,
      |       CASE WHEN (o_orderkey // 2) % 97 = 0 THEN 'TBD'
      |            ELSE strftime(DATE '1995-01-01' + CAST((o_orderkey // 2) % 3000 AS INT), '%Y-%m-%d') || ' 15:00'
      |       END AS date_raw,
      |       'Matchweek ' || CAST((o_orderkey // 2) % 38 + 1 AS VARCHAR) AS round_raw,
      |       CAST((o_orderkey // 2) % 7 AS VARCHAR) AS day,
      |       CASE WHEN o_orderkey % 101 = 0 THEN NULL
      |            ELSE ' ' || hn.n_name || ' F.C.' END AS team,
      |       onn.n_name || ' AFC' AS opponent,
      |       CASE WHEN o_orderkey % 10 = 0 THEN NULL
      |            WHEN o_orderkey % 10 <= 4 THEN 'W'
      |            WHEN o_orderkey % 10 <= 7 THEN 'L'
      |            ELSE 'D' END AS result,
      |       CAST(o_orderkey % 5 AS VARCHAR) AS gf_raw,
      |       CAST(o_orderkey % 3 AS VARCHAR) AS ga_raw,
      |       CAST(o_orderkey % 9 AS VARCHAR) || '.' || CAST(o_orderkey % 10 AS VARCHAR) AS xg_raw,
      |       CAST(o_orderkey % 7 AS VARCHAR) || '.' || CAST(o_orderkey % 4 AS VARCHAR) AS xga_raw,
      |       CASE WHEN o_orderkey % 41 = 0 THEN 'n/a'
      |            ELSE CAST(30 + o_orderkey % 60 AS VARCHAR) END AS poss_raw,
      |       c_name AS captain,
      |       CAST(3 + o_orderkey % 3 AS VARCHAR) || '-4-3' AS formation,
      |       CASE WHEN o_orderkey % 2 = 0 THEN 'Home' ELSE 'Away' END AS venue,
      |       CAST(2021 + o_orderkey % 4 AS VARCHAR) AS season_raw
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation hn ON c_nationkey = hn.n_nationkey
      |JOIN nation onn ON onn.n_nationkey = CAST((c_nationkey + o_orderkey // 2) % 25 AS INT)""".stripMargin

  /** dim_match as CTE bodies (SQL twin of Dims.matchDim): keep-first
    * dedup per game, parse the date part, drop unparseable dates,
    * THEN assign game ids (the reference's phase-2 re-assignment). */
  private val dimMatchSql: String =
    """games AS (
      |  SELECT game, date_raw, round_raw, day,
      |         row_number() OVER (PARTITION BY game ORDER BY date_raw ASC, game) AS rn
      |  FROM raw),
      |dim_match AS (
      |  SELECT row_number() OVER (ORDER BY game) AS game_id, game,
      |         try_cast(try_strptime(split_part(date_raw, ' ', 1), '%Y-%m-%d') AS DATE) AS mdate,
      |         round_raw, day
      |  FROM games
      |  WHERE rn = 1
      |    AND try_strptime(split_part(date_raw, ' ', 1), '%Y-%m-%d') IS NOT NULL)""".stripMargin

  /** dim_player as CTE bodies (SQL twin of Dims.player): season ∪
    * match sources, keep-first with season priority, header-row
    * filter, alphabetical sequential ids. */
  private val dimPlayerSql: String =
    """season_players AS (
      |  SELECT CASE WHEN c_custkey % 727 = 0 THEN 'player' ELSE c_name END AS player,
      |         c_mktsegment AS pos, n_name AS nation,
      |         CASE WHEN c_custkey % 53 = 0 THEN 'unknown'
      |              ELSE CAST(1970 + c_custkey % 30 AS VARCHAR) END AS born,
      |         0 AS src
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |match_players AS (
      |  SELECT s_name AS player, 'MF' AS pos, n_name AS nation,
      |         CAST(NULL AS VARCHAR) AS born, 1 AS src
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  UNION ALL
      |  SELECT c_name, 'MF', n_name, NULL, 1
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  WHERE c_custkey % 2 = 0),
      |player_dedup AS (
      |  SELECT player, pos, nation, born,
      |         row_number() OVER (PARTITION BY player ORDER BY src, player) AS rn
      |  FROM (SELECT * FROM season_players UNION ALL SELECT * FROM match_players)),
      |dim_player AS (
      |  SELECT row_number() OVER (ORDER BY player) AS player_id,
      |         player, pos, nation, try_cast(born AS INT) AS born
      |  FROM player_dedup
      |  WHERE rn = 1 AND player IS NOT NULL AND player <> 'player')""".stripMargin

  /** fact_team_match as CTE bodies (SQL twin of Facts.teamMatch):
    * early join-key null drop, normalized role-playing team joins,
    * game/captain left joins, late result null drop. */
  private val factTeamMatchSql: String =
    s"""team_keys AS (
       |  SELECT team_id, lower(trim(team_name)) AS team_key
       |  FROM dim_team),
       |base AS (
       |  SELECT * FROM raw
       |  WHERE team IS NOT NULL AND opponent IS NOT NULL AND game IS NOT NULL),
       |ftm AS (
       |  SELECT try_cast(b.season_raw AS INT) AS season,
       |         dm.game_id, t.team_id, o2.team_id AS opponent_id,
       |         lpad(split_part(b.round_raw, ' ', 2), 2, '0') AS round,
       |         b.venue, b.result,
       |         try_cast(b.gf_raw AS INT) AS "GF",
       |         try_cast(b.ga_raw AS INT) AS "GA",
       |         CAST(try_cast(b.xg_raw AS DOUBLE) AS DECIMAL(4,2)) AS "xG",
       |         CAST(try_cast(b.xga_raw AS DOUBLE) AS DECIMAL(4,2)) AS "xGA",
       |         try_cast(b.poss_raw AS INT) AS "Poss",
       |         p.player_id AS captain_id, b.formation AS "Formation"
       |  FROM base b
       |  LEFT JOIN team_keys t  ON ${normedSql("b.team")} = t.team_key
       |  LEFT JOIN team_keys o2 ON ${normedSql("b.opponent")} = o2.team_key
       |  LEFT JOIN dim_match dm ON b.game = dm.game
       |  LEFT JOIN dim_player p ON b.captain = p.player),
       |ftm_final AS (
       |  SELECT * FROM ftm WHERE result IS NOT NULL)""".stripMargin

  /** Raw player-match stat rows as CTE body (SQL twin of
    * [[rawPlayerMatchStats]]): one appearance per order — the
    * ordering customer plays in the order's game for their nation's
    * team — in the reference's flattened-MultiIndex header shape,
    * with the scraper's dirt: embedded header rows (season='season'),
    * NULL seasons (must SURVIVE the header filter — pandas `!=` keeps
    * NaN), NULL/unknown teams, 'n/a' stat garbage, NULL stats.
    * Selects FROM the shared `raw` CTE (one synthesis, two facts). */
  private val rawPlayerMatchStatsSql: String =
    """SELECT CASE WHEN o_orderkey % 503 = 0 THEN 'season'
      |            WHEN o_orderkey % 211 = 0 THEN NULL
      |            ELSE season_raw END AS season,
      |       game,
      |       CASE WHEN o_orderkey % 89 = 0 THEN 'Atlantis FC'
      |            ELSE team END AS team,
      |       captain AS player,
      |       CAST(o_orderkey % 91 AS VARCHAR) AS "min",
      |       CAST(o_orderkey % 5 AS VARCHAR) AS "Performance_Gls",
      |       CAST(o_orderkey % 9 AS VARCHAR) || '.' || CAST(o_orderkey % 10 AS VARCHAR) AS "Expected_xG",
      |       CAST(o_orderkey % 7 AS VARCHAR) || '.' || CAST(o_orderkey % 4 AS VARCHAR) AS "Expected_xAG",
      |       CAST(o_orderkey % 3 AS VARCHAR) AS "Performance_Ast",
      |       CAST(o_orderkey % 2 AS VARCHAR) AS "Performance_PK",
      |       CAST((o_orderkey + 1) % 2 AS VARCHAR) AS "Performance_PKatt",
      |       CAST(o_orderkey % 8 AS VARCHAR) AS "Performance_Sh",
      |       CAST(o_orderkey % 4 AS VARCHAR) AS "Performance_SoT",
      |       CAST(o_orderkey % 2 AS VARCHAR) AS "Performance_CrdY",
      |       CASE WHEN o_orderkey % 29 = 0 THEN '1' ELSE '0' END AS "Performance_CrdR",
      |       CASE WHEN o_orderkey % 37 = 0 THEN 'n/a'
      |            ELSE CAST(20 + o_orderkey % 60 AS VARCHAR) END AS "Performance_Touches",
      |       CAST(o_orderkey % 6 AS VARCHAR) AS "Performance_Tkl",
      |       CAST(o_orderkey % 5 AS VARCHAR) AS "Performance_Int",
      |       CAST(o_orderkey % 4 AS VARCHAR) AS "Performance_Blocks",
      |       CAST(o_orderkey % 9 AS VARCHAR) AS "SCA_SCA",
      |       CAST(o_orderkey % 3 AS VARCHAR) AS "SCA_GCA",
      |       CAST(10 + o_orderkey % 40 AS VARCHAR) AS "Passes_Cmp",
      |       CAST(20 + o_orderkey % 45 AS VARCHAR) AS "Passes_Att",
      |       CAST(50 + o_orderkey % 50 AS VARCHAR) || '.' || CAST(o_orderkey % 10 AS VARCHAR) AS "Passes_Cmp%",
      |       CAST(o_orderkey % 12 AS VARCHAR) AS "Passes_PrgP",
      |       CAST(5 + o_orderkey % 30 AS VARCHAR) AS "Carries_Carries",
      |       CAST(o_orderkey % 10 AS VARCHAR) AS "Carries_PrgC",
      |       CAST(o_orderkey % 7 AS VARCHAR) AS "Take-Ons_Att",
      |       CASE WHEN o_orderkey % 43 = 0 THEN NULL
      |            ELSE CAST(o_orderkey % 4 AS VARCHAR) END AS "Take-Ons_Succ"
      |FROM raw""".stripMargin

  /** fact_player_match as CTE bodies (SQL twin of Facts.playerMatch
    * over [[rawPlayerMatchStatsSql]]): header-row filter (NULL season
    * passes), normalized game/team/player left joins, team_id null
    * drop + Q-strip replay, final player_id/game_id drop — the
    * builder's two-stage filter order (order of WHERE conjuncts is
    * immaterial: the left joins never change row count). */
  private val factPlayerMatchSql: String =
    s"""pm AS (
       |  SELECT * FROM pm_raw
       |  WHERE season IS NULL OR lower(season) <> 'season'),
       |pm_keys AS (
       |  SELECT p.*, ${normedSql("p.team")} AS team_key,
       |         lower(trim(p.game)) AS game_key,
       |         lower(trim(p.player)) AS player_key
       |  FROM pm p),
       |fpm AS (
       |  SELECT try_cast(p.season AS INT) AS season,
       |         dm.game_id,
       |         try_cast(replace(CAST(t.team_id AS VARCHAR), 'Q', '') AS INT) AS team_id,
       |         pl.player_id,
       |         try_cast(p."min" AS INT) AS min_played,
       |         try_cast(p."Performance_Gls" AS INT) AS goals,
       |         CAST(try_cast(p."Expected_xG" AS DOUBLE) AS DECIMAL(5,2)) AS "xG",
       |         CAST(try_cast(p."Expected_xAG" AS DOUBLE) AS DECIMAL(5,2)) AS "xA",
       |         try_cast(p."Performance_Ast" AS INT) AS assists,
       |         try_cast(p."Performance_PK" AS INT) AS penalty_made,
       |         try_cast(p."Performance_PKatt" AS INT) AS penalty_attempted,
       |         try_cast(p."Performance_Sh" AS INT) AS shots,
       |         try_cast(p."Performance_SoT" AS INT) AS shots_on_target,
       |         try_cast(p."Performance_CrdY" AS INT) AS yellow_cards,
       |         try_cast(p."Performance_CrdR" AS INT) AS red_cards,
       |         try_cast(p."Performance_Touches" AS INT) AS touches,
       |         try_cast(p."Performance_Tkl" AS INT) AS tackles,
       |         try_cast(p."Performance_Int" AS INT) AS interceptions,
       |         try_cast(p."Performance_Blocks" AS INT) AS blocks,
       |         try_cast(p."SCA_SCA" AS INT) AS shot_creating_actions,
       |         try_cast(p."SCA_GCA" AS INT) AS goal_creating_actions,
       |         try_cast(p."Passes_Cmp" AS INT) AS passes_completed,
       |         try_cast(p."Passes_Att" AS INT) AS passes_attempted,
       |         CAST(try_cast(p."Passes_Cmp%" AS DOUBLE) AS DECIMAL(5,2)) AS pass_completion_percent,
       |         try_cast(p."Passes_PrgP" AS INT) AS progressive_passes,
       |         try_cast(p."Carries_Carries" AS INT) AS carries,
       |         try_cast(p."Carries_PrgC" AS INT) AS progressive_carries,
       |         try_cast(p."Take-Ons_Att" AS INT) AS take_ons_attempted,
       |         try_cast(p."Take-Ons_Succ" AS INT) AS take_ons_successful
       |  FROM pm_keys p
       |  LEFT JOIN dim_match dm ON lower(trim(dm.game)) = p.game_key
       |  LEFT JOIN team_keys t ON p.team_key = t.team_key
       |  LEFT JOIN dim_player pl ON lower(trim(pl.player)) = p.player_key
       |  WHERE t.team_id IS NOT NULL)""".stripMargin

  // ---------------------------------------------------------------
  // Spark-side raw synthesis (twins of the SQL above)
  // ---------------------------------------------------------------

  private def rawTeamSeed(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d).select(
      concat(lit("Q"), col("n_nationkey").cast("string")).as("team_id"),
      concat(col("n_name"), lit(" FC")).as("team_name"),
      (col("n_nationkey") + 1900).cast("string").as("founded_year"),
      concat(lit("Q"), (col("n_nationkey") * 10).cast("string")).as("stadium_id"),
      substring(col("n_name"), 1, 3).as("short_name"))

  private def rawTeamMatch(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("opp_nationkey"), col("n_name").as("opp_name"))
    val k = col("o_orderkey")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .withColumn("gid", floor(k / 2).cast("long"))
      .join(n2, col("opp_nationkey") ===
        ((col("c_nationkey") + col("gid")) % 25).cast("int"))
      .select(
        col("o_orderkey"), // carried so p05's raw derives off this cache
        concat(lit("game-"), lpad(col("gid").cast("string"), 10, "0")).as("game"),
        when(col("gid") % 97 === 0, lit("TBD"))
          .otherwise(concat(
            date_format(date_add(to_date(lit("1995-01-01")),
              (col("gid") % 3000).cast("int")), "yyyy-MM-dd"),
            lit(" 15:00"))).as("date"),
        concat(lit("Matchweek "), (col("gid") % 38 + 1).cast("string")).as("round"),
        (col("gid") % 7).cast("string").as("day"),
        when(k % 101 === 0, lit(null).cast("string"))
          .otherwise(concat(lit(" "), col("n_name"), lit(" F.C."))).as("team"),
        concat(col("opp_name"), lit(" AFC")).as("opponent"),
        when(k % 10 === 0, lit(null).cast("string"))
          .when(k % 10 <= 4, lit("W"))
          .when(k % 10 <= 7, lit("L"))
          .otherwise(lit("D")).as("result"),
        (k % 5).cast("string").as("GF"),
        (k % 3).cast("string").as("GA"),
        concat((k % 9).cast("string"), lit("."), (k % 10).cast("string")).as("xG"),
        concat((k % 7).cast("string"), lit("."), (k % 4).cast("string")).as("xGA"),
        when(k % 41 === 0, lit("n/a"))
          .otherwise((k % 60 + 30).cast("string")).as("Poss"),
        col("c_name").as("Captain"),
        concat((k % 3 + 3).cast("string"), lit("-4-3")).as("Formation"),
        when(k % 2 === 0, lit("Home")).otherwise(lit("Away")).as("venue"),
        (k % 4 + 2021).cast("string").as("season"))
  }

  private def rawPlayerSeason(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .select(
        when(col("c_custkey") % 727 === 0, lit("player"))
          .otherwise(col("c_name")).as("player"),
        col("c_mktsegment").as("pos"),
        col("n_name").as("nation"),
        when(col("c_custkey") % 53 === 0, lit("unknown"))
          .otherwise((col("c_custkey") % 30 + 1970).cast("string")).as("born"))

  /** Twin of [[rawPlayerMatchStatsSql]] — the flattened-header raw
    * player-match stat table [[graft.model.Facts.playerMatch]]
    * resolves through [[graft.ops.Resolve]]. Derived from the SHARED
    * persisted star raw (one orders⋈customer⋈nation materialization
    * feeds both fact families) — the ordering customer (raw.Captain)
    * plays in the order's game for their nation's team, with p05's
    * own extra dirt layered on via pure o_orderkey arithmetic. */
  private def rawPlayerMatchStats(s: SparkSession, d: String): DataFrame = {
    val (raw, _, _, _) = star(s, d)
    val k = col("o_orderkey")
    raw.select(
        when(k % 503 === 0, lit("season"))
          .when(k % 211 === 0, lit(null).cast("string"))
          .otherwise(col("season")).as("season"),
        col("game"),
        when(k % 89 === 0, lit("Atlantis FC"))
          .otherwise(col("team")).as("team"),
        col("Captain").as("player"),
        (k % 91).cast("string").as("min"),
        (k % 5).cast("string").as("Performance_Gls"),
        concat((k % 9).cast("string"), lit("."),
          (k % 10).cast("string")).as("Expected_xG"),
        concat((k % 7).cast("string"), lit("."),
          (k % 4).cast("string")).as("Expected_xAG"),
        (k % 3).cast("string").as("Performance_Ast"),
        (k % 2).cast("string").as("Performance_PK"),
        ((k + 1) % 2).cast("string").as("Performance_PKatt"),
        (k % 8).cast("string").as("Performance_Sh"),
        (k % 4).cast("string").as("Performance_SoT"),
        (k % 2).cast("string").as("Performance_CrdY"),
        when(k % 29 === 0, lit("1")).otherwise(lit("0")).as("Performance_CrdR"),
        when(k % 37 === 0, lit("n/a"))
          .otherwise((k % 60 + 20).cast("string")).as("Performance_Touches"),
        (k % 6).cast("string").as("Performance_Tkl"),
        (k % 5).cast("string").as("Performance_Int"),
        (k % 4).cast("string").as("Performance_Blocks"),
        (k % 9).cast("string").as("SCA_SCA"),
        (k % 3).cast("string").as("SCA_GCA"),
        (k % 40 + 10).cast("string").as("Passes_Cmp"),
        (k % 45 + 20).cast("string").as("Passes_Att"),
        concat((k % 50 + 50).cast("string"), lit("."),
          (k % 10).cast("string")).as("Passes_Cmp%"),
        (k % 12).cast("string").as("Passes_PrgP"),
        (k % 30 + 5).cast("string").as("Carries_Carries"),
        (k % 10).cast("string").as("Carries_PrgC"),
        (k % 7).cast("string").as("Take-Ons_Att"),
        when(k % 43 === 0, lit(null).cast("string"))
          .otherwise((k % 4).cast("string")).as("Take-Ons_Succ"))
  }

  private def rawPlayerMatch(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d)
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name").as("player"), lit("MF").as("pos"),
        col("n_name").as("nation"))
    val evens = Tables.customer(s, d)
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .filter(col("c_custkey") % 2 === 0)
      .select(col("c_name").as("player"), lit("MF").as("pos"),
        col("n_name").as("nation"))
    sup.unionByName(evens)
  }

  /** ONE star build per (session, corpus dir) and pass, shared by
    * p00–p05 through [[Memo]]: raw is persisted (it feeds both
    * dim_match and the fact), dims come out of [[graft.ops.Ids.dense]]
    * already checkpoint-materialized — so the gate queries reuse one
    * derivation instead of rebuilding raw+dims each. Dims are
    * persisted as well as checkpoint-backed: the dense-id scan leaves
    * them as LogicalRDDs with UNKNOWN stats, which would force every
    * dim join to plan as a shuffle join even when the dim is
    * kilobytes — the cache's materialized size restores Spark's own
    * threshold decision (broadcast small, shuffle big: the size-based
    * call a 100 TB run needs, with no hint pinning it). */
  private[graft] def star(s: SparkSession, d: String) =
    Memo(s, s"star:$d") {
      val raw = Memo.persist(rawTeamMatch(s, d))
      (raw, Memo.persist(Dims.team(rawTeamSeed(s, d))),
        Memo.persist(Dims.matchDim(raw)),
        Memo.persist(Dims.player(rawPlayerSeason(s, d), rawPlayerMatch(s, d))))
    }

  // ---------------------------------------------------------------
  // the gate queries
  // ---------------------------------------------------------------

  /** Explicit star-BUILD query (round-13 verdict #3): materializes
    * the shared raw + three-dimension build that p01–p05 reuse, and
    * returns each component's row count (oracle replays the same
    * counts from the shared CTEs, so the build itself sits under the
    * hash gate). Named p00 so the bench's name-sorted timed pass runs
    * it FIRST: the one-time build cost lands on this line, and
    * p01–p05's lines then measure their queries against the warm
    * star — the honest attribution the audit table used to footnote
    * (p01's old sf1 line was "p01 + star build"). */
  val p00 = QueryDef(
    "p00_star_build",
    (s, d) => {
      val (raw, dimTeam, dimMatch, dimPlayer) = star(s, d)
      def one(name: String, df: DataFrame) =
        df.agg(count(lit(1)).cast("long").as("n_rows"))
          .select(lit(name).as("component"), col("n_rows"))
      one("raw_team_match", raw)
        .unionByName(one("dim_team", dimTeam))
        .unionByName(one("dim_match", dimMatch))
        .unionByName(one("dim_player", dimPlayer))
        .orderBy(col("component"))
    },
    Some(s"""
      WITH raw AS ($rawTeamMatchSql),
      dim_team AS ($dimTeamSql),
      $dimMatchSql,
      $dimPlayerSql
      SELECT component, n_rows FROM (
        SELECT 'raw_team_match' AS component, count(*) AS n_rows FROM raw
        UNION ALL SELECT 'dim_team', count(*) FROM dim_team
        UNION ALL SELECT 'dim_match', count(*) FROM dim_match
        UNION ALL SELECT 'dim_player', count(*) FROM dim_player)
      ORDER BY component"""))

  /** League table over fact_team_match — the ui.py:51-93 dashboard
    * shape (points/W/D/L/GF/GA/xG per team), computed from the FULL
    * pipeline: raw synthesis → dims → fact → aggregate. */
  val p01 = QueryDef(
    "p01_star_league_table",
    (s, d) => {
      val (raw, dimTeam, dimMatch, dimPlayer) = star(s, d)
      // hintDims = false: THESE dims derive from customer/orders and
      // scale with SF — a pinned broadcast would OOM at 100 TB. Spark
      // still auto-broadcasts them below the threshold at test SF.
      val ftm = Facts.teamMatch(raw, dimTeam, dimMatch, dimPlayer,
        hintDims = false)
      val wins   = count(when(col("result") === "W", 1))
      val draws  = count(when(col("result") === "D", 1))
      val losses = count(when(col("result") === "L", 1))
      ftm.join(dimTeam.select(col("team_id"), col("team_name")), Seq("team_id"))
        .groupBy(col("team_name"))
        .agg(count(lit(1)).as("played"),
          wins.as("wins"), draws.as("draws"), losses.as("losses"),
          sum(col("GF")).cast("long").as("gf"),
          sum(col("GA")).cast("long").as("ga"),
          (sum(col("GF")) - sum(col("GA"))).cast("long").as("gd"),
          (wins * 3 + draws).cast("long").as("points"),
          sum(col("xG")).cast("double").as("xg"))
        .orderBy(col("points").desc, col("gd").desc, col("team_name"))
    },
    Some(s"""
      WITH raw AS ($rawTeamMatchSql),
      dim_team AS ($dimTeamSql),
      $dimMatchSql,
      $dimPlayerSql,
      $factTeamMatchSql
      SELECT dt.team_name,
             count(*) AS played,
             count(CASE WHEN f.result = 'W' THEN 1 END) AS wins,
             count(CASE WHEN f.result = 'D' THEN 1 END) AS draws,
             count(CASE WHEN f.result = 'L' THEN 1 END) AS losses,
             CAST(sum(f."GF") AS BIGINT) AS gf,
             CAST(sum(f."GA") AS BIGINT) AS ga,
             CAST(sum(f."GF") - sum(f."GA") AS BIGINT) AS gd,
             CAST(count(CASE WHEN f.result = 'W' THEN 1 END) * 3
                  + count(CASE WHEN f.result = 'D' THEN 1 END) AS BIGINT) AS points,
             CAST(sum(f."xG") AS DOUBLE) AS xg
      FROM ftm_final f
      JOIN dim_team dt USING (team_id)
      GROUP BY dt.team_name
      ORDER BY points DESC, gd DESC, team_name"""))

  /** dim_match under the gate: keep-first game dedup + two-phase id
    * assignment (ids shift AFTER the date filter — SURVEY §7.4
    * trap 2, with 'TBD' dates exercising the drop). */
  val p02 = QueryDef(
    "p02_star_dim_match",
    (s, d) => {
      val (_, _, dimMatch, _) = star(s, d)
      dimMatch
        .select(col("game_id"), col("game"), col("date"),
          col("round"), col("day"))
        .orderBy(col("game_id"))
    },
    Some(s"""
      WITH raw AS ($rawTeamMatchSql),
      $dimMatchSql
      SELECT game_id, game, mdate AS "date", round_raw AS "round", day
      FROM dim_match
      ORDER BY game_id"""))

  /** dim_player under the gate: season ∪ match union with source
    * priority (keep-first), embedded-header filter, null-tolerant
    * born coercion, alphabetical sequential ids. */
  val p03 = QueryDef(
    "p03_star_dim_player",
    (s, d) => {
      val (_, _, _, dimPlayer) = star(s, d)
      dimPlayer.orderBy(col("player_id"))
    },
    Some(s"""
      WITH $dimPlayerSql
      SELECT player_id, player, pos, nation, born
      FROM dim_player
      ORDER BY player_id"""))

  /** fact_team_point under the gate: season-label conversion, dotted
    * rank cleaning (garbage → dropped), malformed 'GF:GA' composite
    * null-padding, normalized team join. */
  val p04 = QueryDef(
    "p04_star_fact_team_point",
    (s, d) => {
      val n = Tables.nation(s, d)
      val key = col("n_nationkey")
      val gfE = (key * 2 + col("i")) % 90
      val gaE = (key + col("i") * 2) % 60
      val wE = (key * 7 + col("i") * 3) % 30
      val dE = (key + col("i")) % 10
      val raw = n
        .withColumn("i", explode(array((0 to 3).map(lit(_)): _*)))
        .withColumn("Match_Category",
          explode(array(lit("Overall"), lit("Home"), lit("Away"))))
        .select(
          concat(lit("20"), (col("i") + 20).cast("string"),
            lit("-20"), (col("i") + 21).cast("string")).as("season_label"),
          col("Match_Category"),
          when((key + col("i")) % 13 === 0, lit("n/a"))
            .otherwise(concat(((key + col("i")) % 20 + 1).cast("string"),
              lit("."))).as("Rank"),
          concat(lit(" "), col("n_name"), lit(" F.C.")).as("Team"),
          lit("38").as("MP"),
          wE.cast("string").as("W"),
          dE.cast("string").as("D"),
          ((key * 3 + col("i")) % 15).cast("string").as("L"),
          when((key + col("i")) % 17 === 0, gfE.cast("string"))
            .otherwise(concat(gfE.cast("string"), lit(":"),
              gaE.cast("string"))).as("gf_ga"),
          (gfE - gaE).cast("string").as("GD"),
          (wE * 3 + dE).cast("string").as("Pts"),
          lit("WWDLL").as("Recent_Form"))
      val (_, dimTeam, _, _) = star(s, d)
      // dim_team IS bounded (nation-derived) but the shared-build
      // discipline is one hint policy per pipeline: StarGate never pins
      Facts.teamPoint(raw, dimTeam, hintDims = false)
        .orderBy(col("season_id"), col("Match_Category"), col("team_id"))
    },
    Some(s"""
      WITH dim_team AS ($dimTeamSql),
      team_keys AS (
        SELECT team_id, lower(trim(team_name)) AS team_key FROM dim_team),
      tp_raw AS (
        SELECT '20' || CAST(i + 20 AS VARCHAR) || '-20' || CAST(i + 21 AS VARCHAR) AS season_label,
               cat AS mc,
               CASE WHEN (n_nationkey + i) % 13 = 0 THEN 'n/a'
                    ELSE CAST((n_nationkey + i) % 20 + 1 AS VARCHAR) || '.' END AS rank_raw,
               ' ' || n_name || ' F.C.' AS team_raw,
               '38' AS mp,
               CAST((n_nationkey * 7 + i * 3) % 30 AS VARCHAR) AS w,
               CAST((n_nationkey + i) % 10 AS VARCHAR) AS dd,
               CAST((n_nationkey * 3 + i) % 15 AS VARCHAR) AS l,
               CASE WHEN (n_nationkey + i) % 17 = 0
                    THEN CAST((n_nationkey * 2 + i) % 90 AS VARCHAR)
                    ELSE CAST((n_nationkey * 2 + i) % 90 AS VARCHAR) || ':'
                         || CAST((n_nationkey + i * 2) % 60 AS VARCHAR) END AS gf_ga,
               CAST((n_nationkey * 2 + i) % 90 - (n_nationkey + i * 2) % 60 AS VARCHAR) AS gd,
               CAST(((n_nationkey * 7 + i * 3) % 30) * 3 + (n_nationkey + i) % 10 AS VARCHAR) AS pts
        FROM nation, (VALUES (0), (1), (2), (3)) s(i),
             (VALUES ('Overall'), ('Home'), ('Away')) c(cat))
      SELECT try_cast(substr(r.season_label, 3, 2) || substr(r.season_label, 8, 2) AS INT) AS season_id,
             lower(r.mc) AS "Match_Category",
             try_cast(split_part(r.rank_raw, '.', 1) AS INT) AS "Rank",
             t.team_id,
             try_cast(r.mp AS INT) AS "MP",
             try_cast(r.w AS INT) AS "W",
             try_cast(r.dd AS INT) AS "D",
             try_cast(r.l AS INT) AS "L",
             try_cast(split_part(r.gf_ga, ':', 1) AS INT) AS "GF",
             try_cast(split_part(r.gf_ga, ':', 2) AS INT) AS "GA",
             try_cast(r.gd AS INT) AS "GD",
             try_cast(r.pts AS INT) AS "Pts",
             'WWDLL' AS "Recent_Form"
      FROM tp_raw r
      JOIN team_keys t ON ${normedSql("r.team_raw")} = t.team_key
      WHERE try_cast(split_part(r.rank_raw, '.', 1) AS INT) IS NOT NULL
      ORDER BY season_id, "Match_Category", t.team_id"""))

  /** fact_player_match under the gate (reference Transform.py:511-700
    * — the 26-stat Resolve'd fact, the last model-layer builder that
    * was spec-only): customer-derived raw player-match rows in the
    * flattened-MultiIndex header shape run through the REAL
    * [[graft.model.Facts.playerMatch]] — Resolve lookup, header-row
    * drop with NULL-season passthrough, three normalized dim joins,
    * staged team_id/player_id/game_id null drops, 26 try-cast stat
    * projections — and the oracle replays every stage in SQL.
    * (game_id, player_id, min_played) is a total order: only
    * consecutive orderkeys share a game, so their min stats differ.
    *
    * The fact keeps xG/xA/pass_completion_percent as DECIMAL(5,2)
    * (reference Load.py:374-375's NUMERIC(5,2)); the GATE projection
    * casts them to DOUBLE on both sides — the external hasher encodes
    * Spark-parquet decimals and DuckDB decimals differently even when
    * values agree (the round-1 HUGEINT lesson), so every oracle in
    * this repo crosses the compare boundary in DOUBLE. Exact: a
    * DECIMAL(5,2) mantissa is < 2^53, so both engines produce the
    * correctly-rounded double of v/100. */
  val p05 = QueryDef(
    "p05_star_fact_player_match",
    (s, d) => {
      val (_, dimTeam, dimMatch, dimPlayer) = star(s, d)
      Facts.playerMatch(rawPlayerMatchStats(s, d), dimTeam, dimMatch,
          dimPlayer, hintDims = false)
        .withColumn("xG", col("xG").cast("double"))
        .withColumn("xA", col("xA").cast("double"))
        .withColumn("pass_completion_percent",
          col("pass_completion_percent").cast("double"))
        .orderBy(col("game_id"), col("player_id"), col("min_played"))
    },
    Some(s"""
      WITH raw AS ($rawTeamMatchSql),
      dim_team AS ($dimTeamSql),
      $dimMatchSql,
      $dimPlayerSql,
      team_keys AS (
        SELECT team_id, lower(trim(team_name)) AS team_key FROM dim_team),
      pm_raw AS ($rawPlayerMatchStatsSql),
      $factPlayerMatchSql
      SELECT * REPLACE (CAST("xG" AS DOUBLE) AS "xG",
                        CAST("xA" AS DOUBLE) AS "xA",
                        CAST(pass_completion_percent AS DOUBLE)
                          AS pass_completion_percent)
      FROM fpm
      WHERE player_id IS NOT NULL AND game_id IS NOT NULL
      ORDER BY game_id, player_id, min_played"""))

  val defs: Seq[QueryDef] = Seq(p00, p01, p02, p03, p04, p05)
}
