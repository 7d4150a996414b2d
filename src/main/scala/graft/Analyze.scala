package graft

import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}

import graft.plans.StatsStore

/** ANALYZE-TABLE CLI — computes and persists per-column (rows, NDV)
  * statistics for every table of a testdata-shaped directory into the
  * [[graft.plans.StatsStore]] sidecar (`graft-stats/` by default, one
  * file per table data version). This is the store's only writer: the
  * optimizer ([[graft.plans.AttachSidecarStats]]) only reads it,
  * instead of running measurement jobs inside logical optimization —
  * the same contract as `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`
  * feeding Spark's own CBO, here keyed by input-file fingerprint so
  * an overwritten table can never serve stale numbers.
  *
  * One pass per table: a single map-only aggregate carrying the exact
  * row count plus one HLL per column (the q69 table-profile shape,
  * minus the oracle's exact-NDV twin).
  *
  * Usage: `sbt "runMain graft.Analyze <dir> [<dir> ...]"`.
  *
  * Retention: `sbt "runMain graft.Analyze --vacuum <dir> [<dir> ...]"`
  * deletes every sidecar file whose fingerprint matches no CURRENT
  * data version of the listed directories' tables (overwrites leave
  * the old version's file behind — unreachable, but accumulating).
  * The listed dirs are the retention roots: pass every corpus you
  * still read. `--vacuum` composes with analysis — tables are
  * analyzed first, then stale fingerprints dropped — so
  * `Analyze --vacuum <dir>` is "make the sidecar exactly this
  * corpus's stats".
  *
  * SCOPE OF RETENTION: under each listed dir only
  * the TEN standard testdata tables are recognized — stats recorded
  * for any OTHER parquet (ad-hoc StatsStore.analyze calls pointing at
  * the same graft-stats dir) are vacuumed even when current. Pass
  * each such file explicitly with `--keep <path/to/file.parquet>`
  * (repeatable) to retain its current data version too. Over-deletion
  * is self-healing — stats are an optimization, the next analyze
  * re-measures — but the keep flag makes it avoidable.
  */
object Analyze {
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def tablePaths(dirs: Seq[String]): Seq[String] =
    for (d <- dirs; t <- tables; p = s"$d/$t.parquet"
         if new java.io.File(p).exists()) yield p

  def main(args: Array[String]): Unit = {
    val vacuum = args.contains("--vacuum")
    // --keep <path>: extra retention roots for parquet files OUTSIDE
    // the fixed table list — fingerprinted like any
    // analyzed table, no stats written
    val (keeps, rest) = {
      val a = args.toSeq.filterNot(_ == "--vacuum")
      val ks = scala.collection.mutable.Buffer[String]()
      val ds = scala.collection.mutable.Buffer[String]()
      var i = 0
      while (i < a.size) {
        if (a(i) == "--keep") {
          require(i + 1 < a.size, "--keep requires a parquet path")
          ks += a(i + 1); i += 2
        } else { ds += a(i); i += 1 }
      }
      (ks.toSeq, ds.toSeq)
    }
    val dirs0 = rest
    // the analyze-only default is harmless (it only ADDS statistics);
    // a defaulted vacuum would silently delete every OTHER corpus's
    // sidecar — retention roots must be explicit
    require(!vacuum || dirs0.nonEmpty,
      "Analyze --vacuum requires explicit retention roots: pass every " +
        "directory whose statistics must survive")
    val dirs = if (dirs0.nonEmpty) dirs0 else Seq("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cpus)
    val live = for (path <- tablePaths(dirs)) yield {
      val df = spark.read.parquet(path)
      // HLL needs a hashable scalar input: skip nested/binary columns
      // (the embeddings vector and events props map have no join-key
      // use)
      val cols = df.schema.fields.filter(_.dataType match {
        case _: ArrayType | _: MapType | _: StructType | BinaryType => false
        case _ => true
      }).map(_.name).toSeq
      StatsStore.analyze(df, cols, note = s"graft.Analyze $path")
      println(s"analyzed $path: ${cols.size} columns")
      // fingerprint captured from THIS read — no second metadata pass
      StatsStore.fingerprintOf(df)
    }
    val kept = for (path <- keeps) yield {
      val fp = StatsStore.fingerprintOf(spark.read.parquet(path))
      // fail fast under --vacuum (the BENCH_ONLY discipline): silently
      // dropping an unresolved keep path would delete exactly the
      // stats the operator explicitly asked to retain
      require(fp.isDefined || !vacuum,
        s"--keep $path: fingerprint unresolved (not a single-leaf " +
          "parquet read) — refusing to vacuum past an explicit retention")
      println(s"keep $path: fingerprint ${fp.getOrElse("UNRESOLVED")}")
      fp
    }
    if (vacuum) {
      val (deleted, failed) = StatsStore.vacuum(
        (live.flatten ++ kept.flatten).toSet)
      println(s"vacuum: kept ${live.flatten.size + kept.flatten.size} live fingerprints, " +
        s"deleted ${deleted.size} stale sidecar files" +
        (if (deleted.nonEmpty) deleted.mkString(" (", ", ", ")") else "") +
        (if (failed.nonEmpty)
          failed.mkString("; FAILED to delete: ", ", ", "") else ""))
    }
    spark.stop()
  }
}
