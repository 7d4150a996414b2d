package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.model.Pipeline
import graft.sources.Sources
import org.apache.spark.sql.SparkSession

/** The `star_etl` op: one matchweek's raw CSVs read through `Sources`,
  * transformed by `Pipeline.buildStar` and merged into a warehouse that
  * grows during the run by `Pipeline.load`. */
object Star {
  final case class Timing(readS: Double, buildStarS: Double, loadS: Double)

  def run(spark: SparkSession, op: JsonNode, warehouse: String, opId: Int, opSpan: Long): Timing = {
    val f = op.get("files")
    def path(k: String) = f.get(k).asText
    val t0 = System.nanoTime()
    val raw = Trace.span("sources.read", opSpan, opId) { _ =>
      Pipeline.RawInputs(
        playerSeasonStats = Sources.csvRaw(spark, path("season_stats")),
        playerMatchStats = Sources.csvRaw(spark, path("player_match")),
        teamMatch = Sources.csvRaw(spark, path("team_match")),
        teamPoint = Sources.csvRaw(spark, path("team_point")),
        teamSeed = Sources.csvRaw(spark, path("team_seed")),
        stadiumSeed = Sources.csvRaw(spark, path("stadium_seed")))
    }
    val t1 = System.nanoTime()
    val star = Trace.span("model.buildStar", opSpan, opId)(_ => Pipeline.buildStar(spark, raw))
    val t2 = System.nanoTime()
    Trace.span("model.load", opSpan, opId)(_ => Pipeline.load(spark, warehouse, star))
    val t3 = System.nanoTime()
    Timing((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
  }
}
