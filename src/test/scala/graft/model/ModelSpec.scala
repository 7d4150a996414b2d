package graft.model

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Golden-style star-schema build on synthetic rows mirroring
  * FIXTURES.md — pins every SURVEY §7.4 correctness trap. */
class ModelSpec extends SparkSpec {
  import spark.implicits._

  private val seasonStats = Seq(
    ("Bukayo Saka", "FW", "ENG", "2001"),
    ("Declan Rice", "MF", "ENG", "1999"),
    ("player", "pos", "nation", "born") // embedded duplicate header row
  ).toDF("player", "pos", "nation", "born")

  private val matchStats = Seq(
    ("Bukayo Saka", "RW", "ENG"), // conflicts with season row — must LOSE
    ("Erling Haaland", "FW", "NOR")
  ).toDF("player", "pos", "nation")

  test("dim_player: season source wins dedup; ids sequential by name; header row dropped") {
    val dp = Dims.player(seasonStats, matchStats).orderBy("player_id").collect()
    assert(dp.map(_.getString(1)).toSeq ===
      Seq("Bukayo Saka", "Declan Rice", "Erling Haaland"))
    assert(dp.map(_.getInt(0)).toSeq === Seq(1, 2, 3))
    val saka = dp(0)
    assert(saka.getString(2) === "FW")  // season pos, not match "RW"
    assert(saka.getInt(4) === 2001)     // born survives null-padding
    val haaland = dp(2)
    assert(haaland.isNullAt(4))         // match-only player: born null
  }

  test("dim_team: Q-ids stripped, club suffixes scrubbed") {
    val dt = Dims.team(Seq(
      ("Q9617", "Arsenal F.C.", "1886", "Q42", "ARS"),
      ("Q123", "Sunderland A.F.C.", "1879", "Q43", "SUN"),
      ("garbage", "Nowhere FC", "x", "Q44", "NOW") // unparseable id → dropped
    ).toDF("team_id", "team_name", "founded_year", "stadium_id", "short_name"))
      .orderBy("team_id").collect()
    assert(dt.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((123, "sunderland"), (9617, "arsenal")))
  }

  test("dim_stadium: completeness + repeated-header filters, coerced capacity") {
    val ds = Dims.stadium(Seq(
      ("Q1", "Emirates", "60704"),
      ("stadium_id", "stadium_name", "capacity"), // repeated header row
      ("Q2", null, "50000"),                      // incomplete row
      ("Q3", "Anfield", "not-a-number")
    ).toDF("stadium_id", "stadium_name", "capacity"))
      .orderBy("stadium_id").collect()
    assert(ds.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "Emirates"), (3, "Anfield")))
    assert(ds(1).isNullAt(2)) // coerce failure → null, row kept
  }

  test("dim_match: two-phase game_id — ids re-assigned after date filter") {
    val dm = Dims.matchDim(Seq(
      ("2026-01-24 A-B", "2026-01-24 15:00", "Matchweek 3", "Sat"),
      ("bad-date C-D", "unknown", "Matchweek 1", "Sun"), // dropped in phase 2
      ("2026-02-01 E-F", "2026-02-01 12:30", "Matchweek 9", "Sun"),
      ("2026-01-24 A-B", "2026-01-24 15:00", "Matchweek 3", "Sat") // dup game
    ).toDF("game", "date", "round", "day"))
      .orderBy("game_id").collect()
    // ids are 1..2 (contiguous AFTER the drop — not 1,3)
    assert(dm.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "2026-01-24 A-B"), (2, "2026-02-01 E-F")))
    assert(dm(0).getString(3) === "Matchweek 3") // raw label (zfill is fact-side)
  }

  private def starInputs = {
    val dimPlayer = Dims.player(seasonStats, matchStats)
    val dimTeam = Dims.team(Seq(
      ("Q1", "Arsenal F.C.", "1886", "Q10", "ARS"),
      ("Q2", "Manchester Utd F.C.", "1878", "Q11", "MUN")
    ).toDF("team_id", "team_name", "founded_year", "stadium_id", "short_name"))
    val rawTm = Seq(
      // played fixture
      ("2526", "2026-01-24 Arsenal-Manchester Utd", "Arsenal", "Manchester Utd",
        "2026-01-24 15:00", "Matchweek 3", "Sat", "Home", "W", "3", "1", "2.1", "0.9", "61", "Bukayo Saka", "4-3-3"),
      // unplayed fixture: null stats but present keys — must survive
      // until the result drop, not be removed by early na.drop
      ("2526", "2026-05-01 Arsenal-Manchester Utd", "Arsenal", "Manchester Utd",
        "2026-05-01 15:00", "Matchweek 35", "Fri", "Away", null, null, null, null, null, null, null, null),
      // row with missing join key — must drop EARLY
      ("2526", "x", null, "Manchester Utd", "2026-01-25 15:00", "Matchweek 3", "Sun", "Home", "L", "0", "2", "0.4", "1.8", "39", null, null)
    ).toDF("season", "game", "team", "opponent", "date", "round", "day", "venue",
      "result", "GF", "GA", "xG", "xGA", "Poss", "Captain", "Formation")
    val dimMatch = Dims.matchDim(rawTm.select($"game", $"date", $"round", $"day"))
    (rawTm, dimTeam, dimMatch, dimPlayer)
  }

  test("fact_team_match: role-playing joins resolve; unplayed fixture drops only at result filter") {
    val (rawTm, dimTeam, dimMatch, dimPlayer) = starInputs
    val fact = Facts.teamMatch(rawTm, dimTeam, dimMatch, dimPlayer).collect()
    assert(fact.length === 1) // unplayed + bad-key rows gone, played row kept
    val r = fact(0)
    assert(r.getAs[Int]("team_id") === 1)
    assert(r.getAs[Int]("opponent_id") === 2)
    assert(r.getAs[Int]("GF") === 3)
    assert(r.getAs[java.math.BigDecimal]("xG") === new java.math.BigDecimal("2.10"))
    assert(r.getAs[Int]("captain_id") === 1) // Bukayo Saka
    assert(r.getAs[String]("round") === "03")
  }

  test("fact_team_match keeps unplayed fixtures until the result filter (row counts)") {
    val (rawTm, dimTeam, dimMatch, dimPlayer) = starInputs
    // reproduce the pipeline WITHOUT the final result drop: 2 rows
    val early = rawTm.na.drop(Seq("team", "opponent", "game"))
    assert(early.count() === 2)
    assert(Facts.teamMatch(rawTm, dimTeam, dimMatch, dimPlayer).count() === 1)
  }

  test("fact_player_match: Resolve'd flat headers, variant team map, staged null-id drops") {
    val (_, dimTeam, dimMatch, dimPlayer) = starInputs
    import PlayerMatchFixture.{headerRow, row}
    val raw = PlayerMatchFixture.raw(spark, Seq(
      headerRow, // embedded duplicate header → dropped (P4)
      row("2526", "2026-01-24 Arsenal-Manchester Utd", "Arsenal", "Bukayo Saka",
        gls = "2", ast = "1", xg = "1.7"),
      // full variant name must map to the dim's short form (F2+F3)
      row("2526", "2026-01-24 Arsenal-Manchester Utd", "Manchester United", "Erling Haaland",
        gls = "1"),
      // unmatched team → dropped at the team_id stage
      row("2526", "2026-01-24 Arsenal-Manchester Utd", "Atlantis", "Mystery Man"),
      // unmatched game → survives team stage, dropped at the final
      // player_id/game_id drop (two-stage filter order)
      row("2526", "unknown-game", "Arsenal", "Bukayo Saka"),
      // player missing from dim_player → dropped at the final stage
      row("2526", "2026-01-24 Arsenal-Manchester Utd", "Arsenal", "Unknown Player")))
    val fact = Facts.playerMatch(raw, dimTeam, dimMatch, dimPlayer)
      .orderBy("player_id").collect()
    assert(fact.length === 2)
    val saka = fact(0)
    assert(saka.getAs[Int]("season") === 2526)
    assert(saka.getAs[Int]("game_id") === 1)
    assert(saka.getAs[Int]("team_id") === 1)
    assert(saka.getAs[Int]("player_id") === 1)
    assert(saka.getAs[Int]("goals") === 2)
    assert(saka.getAs[Int]("assists") === 1)
    assert(saka.getAs[java.math.BigDecimal]("xG") === new java.math.BigDecimal("1.70"))
    assert(saka.getAs[java.math.BigDecimal]("pass_completion_percent") ===
      new java.math.BigDecimal("75.00"))
    val haaland = fact(1)
    assert(haaland.getAs[Int]("team_id") === 2) // via "Manchester United" variant
    assert(haaland.getAs[Int]("player_id") === 3)
    assert(fact.map(_.getAs[Int]("take_ons_successful")).toSeq === Seq(1, 1))
  }

  test("fact_player_match: NULL-season rows pass the header filter (pandas != keeps NaN)") {
    val (_, dimTeam, dimMatch, dimPlayer) = starInputs
    import PlayerMatchFixture.{headerRow, row}
    val raw = PlayerMatchFixture.raw(spark, Seq(
      headerRow,
      row(null, "2026-01-24 Arsenal-Manchester Utd", "Arsenal", "Bukayo Saka", gls = "3")))
    val fact = Facts.playerMatch(raw, dimTeam, dimMatch, dimPlayer).collect()
    // the reference drops only literal 'season' header rows; a NaN
    // season survives to the output (three-valued-logic regression)
    assert(fact.length === 1)
    assert(fact(0).isNullAt(fact(0).fieldIndex("season")))
    assert(fact(0).getAs[Int]("goals") === 3)
  }

  test("fact_player_match resolves bare single-level headers too") {
    val (_, dimTeam, dimMatch, dimPlayer) = starInputs
    import PlayerMatchFixture.{cols, row}
    // same data, but headers arrive as the bare leaf names ("Gls",
    // "Cmp%") — Resolve's priority-2 fallback (P2)
    val bare = Map("Performance_Gls" -> "Gls", "Performance_Ast" -> "Ast",
      "Expected_xG" -> "xG", "Passes_Cmp%" -> "Cmp%")
    val renamed = PlayerMatchFixture.raw(spark,
        Seq(row("2526", "2026-01-24 Arsenal-Manchester Utd", "Arsenal", "Bukayo Saka",
          gls = "2")))
      .toDF(cols.map(c => bare.getOrElse(c, c)): _*)
    val fact = Facts.playerMatch(renamed, dimTeam, dimMatch, dimPlayer).collect()
    assert(fact.length === 1)
    assert(fact(0).getAs[Int]("goals") === 2)
  }

  test("fact_player_match over a two-row-header CSV: bounded constraints") {
    val (_, dimTeam, dimMatch, dimPlayer) = starInputs
    import PlayerMatchFixture.{cols, row}
    // the reference's MultiIndex layout: grouped stats under a level-0
    // name (Performance / Gls → "Performance_Gls"), every other column
    // under pandas' "Unnamed: i_level_0" placeholder
    val levels = cols.zipWithIndex.map { case (c, i) =>
      c.split("_", 2) match {
        case Array(group, leaf) => (group, leaf)
        case _ => (s"Unnamed: ${i}_level_0", c)
      }
    }
    val rows = Seq(levels.map(_._1), levels.map(_._2),
      row("2526", "2026-01-24 Arsenal-Manchester Utd", "Arsenal", "Bukayo Saka", gls = "2"),
      row("2526", "2026-01-24 Arsenal-Manchester Utd", "Arsenal", "Declan Rice"))
    val path = graft.TempDirs.create("graft-two-row").resolve("player_match.csv")
    java.nio.file.Files.writeString(path, rows.map(_.mkString(",")).mkString("", "\n", "\n"))
    val raw = graft.sources.Sources.csvTwoRowHeader(spark, path.toString)
    assert(raw.columns.toSeq === cols)
    assert(raw.count() === 2, "both header lines must be dropped")
    // a residual-header test over every column, renamed by
    // playerMatch, derives 2^29 constraints (out of heap at 1 GB)
    val fact = Facts.playerMatch(raw, dimTeam, dimMatch, dimPlayer)
    val constraints = fact.queryExecution.optimizedPlan.collect {
      case p => p.constraints.size }.sum
    assert(constraints <= 100, s"optimized plan carries $constraints constraints")
    assert(fact.count() === 2)
  }

  test("fact_team_point: composite split, season conversion, rank clean, team join") {
    val dimTeam = Dims.team(Seq(("Q1", "Arsenal F.C.", "1886", "Q10", "ARS"))
      .toDF("team_id", "team_name", "founded_year", "stadium_id", "short_name"))
    val raw = Seq(
      ("2020-2021", "Overall", "1.", "Arsenal", "38", "26", "8", "4", "86:41", "45", "86", "WWDLD"),
      ("2020-2021", "home", "x.", "Arsenal", "19", "14", "3", "2", "50:20", "30", "45", "WWWWD") // bad rank → dropped
    ).toDF("season_label", "Match_Category", "Rank", "Team", "MP", "W", "D", "L", "gf_ga", "GD", "Pts", "Recent_Form")
    val fp = Facts.teamPoint(raw, dimTeam).collect()
    assert(fp.length === 1)
    val r = fp(0)
    assert(r.getAs[Int]("season_id") === 2021)
    assert(r.getAs[String]("Match_Category") === "overall")
    assert(r.getAs[Int]("Rank") === 1)
    assert(r.getAs[Int]("GF") === 86)
    assert(r.getAs[Int]("GA") === 41)
    assert(r.getAs[Int]("team_id") === 1)
  }

  test("dim_season static seed has the reference's 6 rows") {
    assert(Dims.season(spark).count() === 6)
  }
}
