package graft.model

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Synthetic raw player-match-stats rows in the flattened-MultiIndex
  * header shape the reference scrapes (FIXTURES.md; the snapshot ships
  * NO fbref_fact_player_match_stats.csv raw and no
  * fact_player_match_clean golden, so builder coverage runs on
  * constructed rows that exercise every Transform.py:507-697 trap),
  * and a whole matchweek's raw inputs built around them. */
object PlayerMatchFixture {

  /** Flattened stat headers, in the reference's resolution order. */
  val statCols: Seq[String] = Seq(
    "min", "Performance_Gls", "Expected_xG", "Expected_xAG",
    "Performance_Ast", "Performance_PK", "Performance_PKatt",
    "Performance_Sh", "Performance_SoT", "Performance_CrdY",
    "Performance_CrdR", "Performance_Touches", "Performance_Tkl",
    "Performance_Int", "Performance_Blocks", "SCA_SCA", "SCA_GCA",
    "Passes_Cmp", "Passes_Att", "Passes_Cmp%", "Passes_PrgP",
    "Carries_Carries", "Carries_PrgC", "Take-Ons_Att", "Take-Ons_Succ")

  val cols: Seq[String] =
    Seq("season", "game", "team", "player", "pos", "nation") ++ statCols

  /** An embedded duplicate header row (the scraper re-emits the header
    * mid-file; Transform.py:528-531 drops it when season=='season'). */
  val headerRow: Seq[String] = cols

  /** One stat row; defaulted stats are arbitrary-but-valid. */
  def row(season: String, game: String, team: String, player: String,
          pos: String = "FW", nation: String = "ENG", min: String = "90",
          gls: String = "0", ast: String = "0", xg: String = "0.3"): Seq[String] =
    Seq(season, game, team, player, pos, nation, min, gls, xg, "0.1", ast,
      "0", "0", "2", "1", "0", "0", "50", "1", "1", "0", "3", "1",
      "30", "40", "75.0", "4", "20", "3", "2", "1")

  def raw(spark: SparkSession, rows: Seq[Seq[String]]): DataFrame = {
    val schema = StructType(cols.map(StructField(_, StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r: _*)), 2), schema)
  }

  /** The six raw inputs of one matchweek, one played fixture between
    * two clubs; `captain` names Arsenal's captain, the fact attribute
    * a later load may change. */
  def rawInputs(spark: SparkSession, captain: String): Pipeline.RawInputs = {
    import spark.implicits._
    Pipeline.RawInputs(
      playerSeasonStats = Seq(("Bukayo Saka", "FW", "ENG", "2001"),
        ("Declan Rice", "MF", "ENG", "1999")).toDF("player", "pos", "nation", "born"),
      playerMatchStats = raw(spark, Seq(
        headerRow,
        row("2526", "2026-01-24 Arsenal-Manchester Utd",
          "Arsenal", "Bukayo Saka", gls = "2", ast = "1"),
        row("2526", "2026-01-24 Arsenal-Manchester Utd",
          "Manchester United", "Erling Haaland", pos = "FW", nation = "NOR", gls = "1"))),
      teamMatch = Seq(
        ("2526", "2026-01-24 Arsenal-Manchester Utd", "Arsenal", "Manchester Utd",
          "2026-01-24 15:00", "Matchweek 3", "Sat", "Home", "W", "3", "1", "2.1", "0.9", "61", captain, "4-3-3"))
        .toDF("season", "game", "team", "opponent", "date", "round", "day", "venue",
          "result", "GF", "GA", "xG", "xGA", "Poss", "Captain", "Formation"),
      teamPoint = Seq(("2020-2021", "Overall", "1.", "Arsenal", "38", "26", "8", "4", "86:41", "45", "86", "WWDLD"))
        .toDF("season_label", "Match_Category", "Rank", "Team", "MP", "W", "D", "L", "gf_ga", "GD", "Pts", "Recent_Form"),
      teamSeed = Seq(("Q1", "Arsenal F.C.", "1886", "Q10", "ARS"),
        ("Q2", "Manchester Utd F.C.", "1878", "Q11", "MUN"))
        .toDF("team_id", "team_name", "founded_year", "stadium_id", "short_name"),
      stadiumSeed = Seq(("Q10", "Emirates", "60704"), ("Q11", "Old Trafford", "74310"))
        .toDF("stadium_id", "stadium_name", "capacity"))
  }
}
