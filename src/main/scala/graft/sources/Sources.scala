package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, StringType}

/** CSV source/sink variants of the reference's ingest edge
  * (SURVEY.md §2.1 S1–S5):
  *
  *  - S1 [[csvRaw]]        — schema-less all-string scan
  *    (pd.read_csv(dtype=str), scr/Extract.py:59-61)
  *  - S2 [[csvTwoRowHeader]] — two-level header detect + flatten
  *    (header=[0,1] + flatten_dataframe_columns, scr/Extract.py:29-67)
  *  - S3 [[csvTyped]]      — explicit-schema scan (preferred over
  *    inference; scr/Transform.py:74-77)
  *  - S4 [[csvTolerant]]   — malformed-row-skipping scan
  *    (on_bad_lines='skip', scr/Transform.py:275-283)
  *  - S5 [[writeCsv]]      — header CSV sink (to_csv(index=False),
  *    scr/Transform.py:19-22)
  *
  * Scale: all readers are splittable Spark scans; all but S2 are CSV
  * scans, predicate/projection pruned by Catalyst (S2 scans text and
  * parses it). The only driver-side work is reading the ≤2 header
  * lines of one file (O(columns), never data).
  */
object Sources {

  private def allStrings(names: Seq[String]): StructType =
    StructType(names.map(StructField(_, StringType, nullable = true)))

  /** S1: header CSV, every column StringType (no inference — raw tier). */
  def csvRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "false").csv(path)

  /** S3: explicit-schema CSV (processed tier). */
  def csvTyped(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S4: explicit-schema CSV dropping rows that don't parse
    * (pandas on_bad_lines='skip'). */
  def csvTolerant(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").option("mode", "DROPMALFORMED")
      .schema(schema).csv(path)

  /** S2: CSV whose first TWO rows are header levels (pandas
    * header=[0,1]). Level names are flattened like the reference's
    * flatten_dataframe_columns (scr/Extract.py:29-51): join non-empty,
    * non-"Unnamed*" levels with '_'; a level-0-only column keeps its
    * level-0 name.
    *
    * Mechanics: the two header lines are read driver-side (cheap —
    * O(columns)); the file is then scanned as text, every line equal
    * to either header line is dropped (the duplicate-header-row filter
    * the reference applies, P4), and the rest is parsed as CSV. The
    * header test is ONE predicate on ONE column, ahead of the parse: a
    * test on the parsed values references every column, and each
    * downstream alias of those columns doubles the constraints
    * Catalyst derives from it (2^columns — fact_player_match renames
    * 29 of them).
    */
  def csvTwoRowHeader(spark: SparkSession, path: String): DataFrame = {
    val lines = headLines(spark, path, 2)
    val (l0, l1) = (parseCsvLine(lines(0)), parseCsvLine(lines(1)))
    val names = l0.zipAll(l1, "", "").map { case (a, b) =>
      val keep = Seq(a, b).filter(s => s.nonEmpty && !s.startsWith("Unnamed"))
      if (keep.isEmpty) "col" else keep.mkString("_")
    }
    val data = spark.read.textFile(path).filter(!col("value").isin(lines: _*))
    spark.read.schema(allStrings(names)).csv(data)
  }

  /** S5: header CSV sink (the reference's to_csv, index-free). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Parquet sink — our preferred materialization (SURVEY §1.4). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** DYNAMIC PARTITION OVERWRITE — replace ONLY the partitions present
    * in `df`, leaving every other partition of the table untouched
    * (the warehouse backfill/restatement primitive: reprocess one day
    * or one season without rewriting — or even listing — the other
    * 10,000 partitions; static overwrite mode would truncate the
    * whole table first). At 100 TB this is the difference between an
    * O(changed-partition) nightly restatement and an O(table)
    * rewrite; the setting is scoped to this writer via the
    * per-operation option, not session-wide. */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty,
      "overwritePartitions: need partition columns (use writeParquet otherwise)")
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** JSON-lines scan with an explicit schema — the interchange format
    * of scraped/API payloads (the reference's FBref JSON responses
    * land as CSV only because soccerdata flattens them first; a
    * Spark-native ingest reads the JSONL directly). Schema-first like
    * [[csvTyped]]: splittable scan, no inference pass over the data;
    * rows that do not parse yield nulls per-field (PERMISSIVE) or are
    * dropped via [[jsonlTolerant]]. */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JSONL scan dropping undecodable lines (S4's tolerance for JSON). */
  def jsonlTolerant(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("mode", "DROPMALFORMED").schema(schema).json(path)

  /** JSON-lines sink. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC scan — the other columnar warehouse format Spark ships
    * natively (vectorized reader, predicate pushdown and column
    * pruning like parquet). Schema comes from the file footer. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC sink. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** First `n` text lines of `path` (file or directory of files),
    * via the Hadoop FS API so any Spark-readable filesystem works. */
  private def headLines(spark: SparkSession, path: String, n: Int): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.isFile).map(_.getPath)
          .filterNot(_.getName.startsWith("_")).sortBy(_.getName).head
      else p
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(file), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).take(n).toSeq
    finally in.close()
  }

  /** Minimal RFC-4180 line parser (quotes + escaped quotes) for header
    * lines only — data rows go through Spark's CSV parser. */
  private[sources] def parseCsvLine(line: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false; var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') inQ = false
        else cur += c
      } else c match {
        case '"' => inQ = true
        case ',' => out += cur.result(); cur.clear()
        case _   => cur += c
      }
      i += 1
    }
    out += cur.result()
    out.toSeq
  }
}
