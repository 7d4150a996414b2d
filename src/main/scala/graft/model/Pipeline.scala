package graft.model

import graft.ops.Upsert
import graft.sources.Sources
import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's end-to-end ETL composition
  * (Extract → Transform → Load, docker-compose.yml:38-41 /
  * dags/football_etl_dag.py:142-166) as ONE lazy Spark program.
  *
  * Where the reference runs three OS processes exchanging CSVs on a
  * shared volume, here each output table is a single logical plan
  * (scan → clean → join → write) optimized whole by Catalyst. The
  * dims-before-facts ordering survives as a DataFrame dependency (a
  * fact's plan contains the dim plans it joins), not as a write
  * order: [[load]] merges all eight tables concurrently.
  *
  * Load semantics (scr/Load.py): dims upsert update-wins, facts
  * insert-only — both as set-based anti-join merges, both idempotent
  * (re-running a load is a no-op; see PipelineSpec). Each table's swap
  * is atomic; there is no atomicity across tables.
  */
object Pipeline {

  final case class RawInputs(
      playerSeasonStats: DataFrame,
      playerMatchStats: DataFrame,
      teamMatch: DataFrame,
      teamPoint: DataFrame,
      teamSeed: DataFrame,
      stadiumSeed: DataFrame)

  /** Transform stage: raw tier → full star schema (5 dims + 2 facts). */
  def buildStar(spark: SparkSession, raw: RawInputs): Map[String, DataFrame] = {
    val dimPlayer  = Dims.player(raw.playerSeasonStats, raw.playerMatchStats)
    val dimTeam    = Dims.team(raw.teamSeed)
    val dimStadium = Dims.stadium(raw.stadiumSeed)
    val dimMatch   = Dims.matchDim(raw.teamMatch)
    val dimSeason  = Dims.season(spark)
    Map(
      "dim_player"  -> dimPlayer,
      "dim_team"    -> dimTeam,
      "dim_stadium" -> dimStadium,
      "dim_match"   -> dimMatch,
      "dim_season"  -> dimSeason,
      "fact_team_match"  -> Facts.teamMatch(raw.teamMatch, dimTeam, dimMatch, dimPlayer),
      "fact_team_point"  -> Facts.teamPoint(raw.teamPoint, dimTeam),
      "fact_player_match" -> Facts.playerMatch(raw.playerMatchStats, dimTeam, dimMatch, dimPlayer))
  }

  /** Primary keys per table (scr/Load.py DDL). */
  val keys: Map[String, Seq[String]] = Map(
    "dim_player"  -> Seq("player_id"),
    "dim_team"    -> Seq("team_id"),
    "dim_stadium" -> Seq("stadium_id"),
    "dim_match"   -> Seq("game_id"),
    "dim_season"  -> Seq("season_id"),
    "fact_team_match" -> Seq("season", "game_id", "team_id"),
    "fact_team_point" -> Seq("season_id", "team_id", "Match_Category"),
    "fact_player_match" -> Seq("season", "game_id", "team_id", "player_id"))

  /** Load stage: merge every table into the warehouse directory with
    * the reference's per-tier conflict semantics, all tables at once.
    * Each table's merge reads its live table lazily, so it is written
    * to a temp dir and swapped in ([[mergeSwap]], SURVEY §3.3) — never
    * collected to the driver, never overwritten while still being
    * read.
    *
    * No table reads another's output, so each table's [[mergeSwap]]
    * runs on its own driver thread and their planning, footer reads
    * and write jobs overlap. The threads are started here, by the
    * calling thread, so every job they submit carries the caller's
    * local properties (job group, scheduler pool) and active session.
    *
    * Failure contract: each table's swap is atomic — it leaves either
    * its old or its new contents — and there is no atomicity across
    * tables. A failed table does not stop the others: every table is
    * attempted, and once all have finished one exception is thrown
    * that names each failed table, with the first-named table's error
    * as its cause and the others' attached as suppressed. */
  def load(spark: SparkSession, warehouseDir: String,
           tables: Map[String, DataFrame]): Unit = {
    if (tables.isEmpty) return
    val pool = Executors.newFixedThreadPool(tables.size)
    try {
      val pending = tables.toSeq.map { case (name, incoming) =>
        name -> pool.submit(new Callable[Unit] {
          def call(): Unit = mergeTable(spark, warehouseDir, name, incoming)
        })
      }
      val failed = pending.flatMap { case (name, f) =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(name -> e.getCause) }
      }
      if (failed.nonEmpty) {
        val e = new RuntimeException(
          s"load: ${failed.map(_._1).mkString(", ")} failed to merge; " +
            "the other tables were loaded", failed.head._2)
        failed.tail.foreach { case (_, cause) => e.addSuppressed(cause) }
        throw e
      }
    } finally pool.shutdown()
  }

  /** One table's merge as [[load]] runs it: dims update-wins, facts
    * ignore-new, facts partitioned by season. */
  private def mergeTable(spark: SparkSession, warehouseDir: String,
                         name: String, incoming: DataFrame): Unit = {
    val merge: (DataFrame, DataFrame) => DataFrame =
      if (name.startsWith("dim_")) Upsert.updateWins(_, _, keys(name))
      else Upsert.ignoreNew(_, _, keys(name))
    // facts are laid out partitioned by season: incremental seasons
    // land in their own directories and season-filtered reads prune
    // to one partition (SURVEY §7.3 (7); asserted in PipelineSpec)
    val partitionCols =
      if (!name.startsWith("dim_") && incoming.columns.contains("season"))
        Seq("season")
      else if (!name.startsWith("dim_") && incoming.columns.contains("season_id"))
        Seq("season_id")
      else Nil
    mergeSwap(spark, warehouseDir, name, incoming, merge, partitionCols)
  }

  /** Merge `incoming` with the live table (if any) via `merge`, write
    * the result to a temp dir, and swap it in failure-safely: a crash
    * or failed rename at any step leaves either the old or the new
    * table readable. Shared by the batch [[load]] and the streaming
    * incremental load ([[graft.streaming.Streams.incrementalLoad]]'s
    * foreachBatch). */
  def mergeSwap(spark: SparkSession, warehouseDir: String, name: String,
                incoming: DataFrame, merge: (DataFrame, DataFrame) => DataFrame,
                partitionCols: Seq[String] = Nil): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(s"$warehouseDir/$name")
    val fs = path.getFileSystem(conf)
    val merged =
      if (!fs.exists(path)) incoming
      else merge(spark.read.parquet(path.toString), incoming)
    val tmp = new org.apache.hadoop.fs.Path(s"$warehouseDir/.${name}_tmp")
    val writer = merged.write.mode("overwrite")
    val partitioned =
      if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer
    partitioned.parquet(tmp.toString)
    val old = new org.apache.hadoop.fs.Path(s"$warehouseDir/.${name}_old")
    if (fs.exists(old) && !fs.delete(old, true))
      sys.error(s"load: failed to clear stale backup $old")
    val hadPrev = fs.exists(path)
    if (hadPrev && !fs.rename(path, old))
      sys.error(s"load: failed to move live table $path aside")
    if (!fs.rename(tmp, path)) {
      if (hadPrev) fs.rename(old, path) // restore previous table
      sys.error(s"load: failed to swap $tmp into $path")
    }
    // the swap has SUCCEEDED at this point — a failed backup cleanup
    // must not fail the table; the stale-backup sweep at the top of
    // the next load clears it
    if (hadPrev && !fs.delete(old, true))
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"load: swapped $name but could not remove backup $old; " +
          "next load's stale-backup sweep will clear it")
  }
}
