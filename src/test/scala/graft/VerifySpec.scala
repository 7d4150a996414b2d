package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A failing query is recorded, not only printed: Verify writes
  * verify_errors.json (query → exception class and message) next to
  * oracle_sql.json, `{}` when every query ran, and still writes the
  * results of the queries that did run. */
class VerifySpec extends SparkSpec {

  private def json(dir: java.nio.file.Path, name: String) =
    new ObjectMapper().readTree(Files.readString(dir.resolve(name)))

  test("a failing query lands in verify_errors.json; the others still write their results") {
    val out = TempDirs.create("graft-verify-spec")
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "ok_query" -> ((s, _) => s.range(3).toDF("id")),
      "bad_query" -> ((_, _) => throw new IllegalStateException("deliberate \"failure\"")))
    val errors = Verify.run(spark, sfDir, out.toString, queries)
    assert(errors.keySet === Set("bad_query"))
    Verify.writeJson(out.toString, errors)
    val rec = json(out, "verify_errors.json")
    assert(rec.size === 1)
    assert(rec.get("bad_query").get("class").asText === classOf[IllegalStateException].getName)
    assert(rec.get("bad_query").get("message").asText === "deliberate \"failure\"")
    assert(spark.read.parquet(s"$out/ok_query").count() === 3)
    assert(json(out, "oracle_sql.json").size === SparkEntry.oracleSql.size)

    Verify.writeJson(out.toString, Verify.run(spark, sfDir, out.toString,
      queries - "bad_query"))
    assert(Files.readString(Paths.get(s"$out/verify_errors.json")) === "{}")
  }
}
