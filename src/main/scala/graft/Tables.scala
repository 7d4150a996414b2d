package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated testdata star schema
  * (TESTDATA.md). One logical table per parquet file; explicit helper per
  * table keeps call sites typo-proof.
  *
  * At 100 TB these reads stay identical — parquet scans with Catalyst
  * column pruning + predicate pushdown; only the directory changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts arrives as either parquet TIMESTAMP(NANOS) (earlier
    * testdata generations) or TIMESTAMP(MICROS) (current); the loader
    * normalizes BOTH physical layouts to one logical contract every
    * downstream query codes against:
    *
    *  - `ts_ns` — epoch nanoseconds as a long, for exact integer time
    *    math (`ts_ns div 1000` = the µs floor both engines share);
    *  - `ts` — µs-precision TIMESTAMP_NTZ for calendar functions
    *    (matches what DuckDB sees reading the same parquet).
    *
    * Nanos path: Spark has no nano type, so the file is read with
    * `spark.sql.legacy.parquet.nanosAsLong` and `ts` is derived by
    * integer `div` (epoch-nanos exceed double's 53-bit mantissa).
    * Micros path: `ts` is native; `ts_ns` is `unix_micros * 1000` —
    * exact under the UTC session timezone all graft sessions pin. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>      // TIMESTAMP(NANOS)
        raw.withColumn("ts_ns", col("ts").cast("long"))
          .withColumn("ts",
            timestamp_micros(expr("ts_ns div 1000")).cast("timestamp_ntz"))
      case org.apache.spark.sql.types.TimestampNTZType => // TIMESTAMP(MICROS)
        raw.withColumn("ts_ns", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      case org.apache.spark.sql.types.TimestampType =>    // micros, NTZ inference off
        raw.withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
          .withColumn("ts", col("ts").cast("timestamp_ntz"))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Exact MAX of a timestamp column in epoch MICROSECONDS from parquet
    * FOOTER statistics — the same metadata-read-vs-full-scan trade as
    * [[parquetRowCount]]: every row group's chunk statistics carry the
    * exact (not estimated) min/max, so the table max is the max over
    * chunk maxima. The unit is decided here, once, from each file's own
    * `TimestampLogicalTypeAnnotation` on the int64 column: NANOS
    * floor-divides by 1000 (the µs floor both engines share), MICROS is
    * returned as is, MILLIS is multiplied by 1000. Returns None —
    * callers fall back to the scan — for any other column (INT96
    * included) or unless EVERY chunk of every file has non-null
    * statistics (a single stats-less chunk could hide the true max).
    * NULL handling matches the SQL aggregate: parquet max statistics
    * ignore nulls, as does max(col). */
  def parquetMaxTimestampMicros(s: SparkSession, dir: String, name: String,
      column: String): Option[Long] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    import scala.jdk.CollectionConverters._
    try {
      val conf = s.sparkContext.hadoopConfiguration
      val maxes = parquetFiles(s, dir, name).flatMap { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try {
          val toMicros: Option[Long => Long] =
            r.getFooter.getFileMetaData.getSchema
              .getColumnDescription(Array(column)).getPrimitiveType
              .getLogicalTypeAnnotation match {
              case t: TimestampLogicalTypeAnnotation => t.getUnit match {
                case TimeUnit.NANOS => Some((m: Long) => Math.floorDiv(m, 1000L))
                case TimeUnit.MICROS => Some((m: Long) => m)
                case TimeUnit.MILLIS => Some((m: Long) => Math.multiplyExact(m, 1000L))
              }
              case _ => None
            }
          r.getFooter.getBlocks.asScala.map { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == column)
              .map(_.getStatistics) match {
              case Some(st: org.apache.parquet.column.statistics.LongStatistics)
                if !st.isEmpty && st.hasNonNullValue =>
                toMicros.map(_(st.genericGetMax.longValue()))
              case _ => None
            }
          }.toSeq
        } finally r.close()
      }
      if (maxes.nonEmpty && maxes.forall(_.isDefined)) Some(maxes.flatten.max)
      else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The data files of `dir/name.parquet`: the path itself, or the
    * visible files of a directory (no `_SUCCESS`, no `.crc`). */
  private def parquetFiles(s: SparkSession, dir: String, name: String)
      : Seq[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.getFileStatus(p).isDirectory)
      fs.listStatus(p).toSeq.collect {
        case f if f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith(".") => f.getPath
      }
    else Seq(p)
  }

  /** Exact row count of a parquet table from FOOTER METADATA — a
    * driver-side O(files) metadata read, never a scan. Parquet footers
    * carry the exact per-block row count (not an estimate), so for an
    * unfiltered table this equals `df.count()` while touching only
    * file tails: at 100 TB the difference is a full-table pass vs a
    * few KB per file. Returns None when the path layout is anything
    * but plain parquet files (callers fall back to the scan count). */
  def parquetRowCount(s: SparkSession, dir: String, name: String): Option[Long] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    try {
      val conf = s.sparkContext.hadoopConfiguration
      Some(parquetFiles(s, dir, name).map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try r.getRecordCount finally r.close()
      }.sum)
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
