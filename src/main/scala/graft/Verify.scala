package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB oracle compare and
  * verify_errors.json (failed query → exception class and message;
  * `{}` when every query ran). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Extra args = dev-only query filter (the driver always passes two).
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    val errors = run(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) })
    writeJson(outDir, errors)
    Memo.release() // free the shared persisted intermediates
    spark.stop()
  }

  /** Writes each query's result under `outDir/<name>`; returns the
    * failures (name → exception), each also printed to stderr. */
  private[graft] def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, Throwable] = {
    new java.io.File(outDir).mkdirs()
    queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e)
      }
    }.toMap
  }

  /** oracle_sql.json (query → oracle SQL) and verify_errors.json
    * (failed query → {class, message}) in `outDir`. */
  private[graft] def writeJson(outDir: String, errors: Map[String, Throwable]): Unit = {
    val failed = errors.toSeq.sortBy(_._1).map { case (name, e) =>
      s"${q(name)}: {${q("class")}: ${q(e.getClass.getName)}, " +
        s"${q("message")}: ${q(String.valueOf(e.getMessage))}}"
    }
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), failed.mkString("{", ",", "}"))
    val oracle = SparkEntry.oracleSql.map { case (k, v) => s"${q(k)}: ${q(v)}" }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracle.mkString("{", ",", "}"))
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in an oracle SQL string or an exception message
  // would otherwise make the reader's json.load fail.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
