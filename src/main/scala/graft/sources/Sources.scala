package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
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
  * lines of one file (O(columns), never data). S1 and S2 both read
  * their header there, so building either DataFrame starts no Spark
  * job (Spark's own header inference is one `take(1)` job per read).
  */
object Sources {

  private def allStrings(names: Seq[String]): StructType =
    StructType(names.map(StructField(_, StringType, nullable = true)))

  /** S1: header CSV, every column StringType (no inference — raw tier).
    * The header line is read on the driver ([[headLines]]) and its
    * names made safe as Spark's own header inference makes them
    * ([[safeHeader]]), so the schema equals
    * `spark.read.option("header", "true").csv(path).schema` without the
    * job that inference runs. A path that lists no readable file goes
    * to Spark's reader as is, for Spark's own answer or error. */
  def csvRaw(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.read.option("header", "true")
    val files = dataFiles(spark, path)
    if (files.isEmpty) reader.csv(path)
    else {
      val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
      val names = headLines(spark, files, 1).headOption.map(parseCsvLine).getOrElse(Nil)
      reader.schema(allStrings(safeHeader(names, caseSensitive))).csv(path)
    }
  }

  /** Spark's `CSVDataSource.makeSafeHeader`: an empty name becomes
    * `_c<i>`; a name that occurs more than once (ignoring case unless
    * `caseSensitive`) gets its index appended. */
  private def safeHeader(names: Seq[String], caseSensitive: Boolean): Seq[String] = {
    def norm(n: String) = if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val dup = names.groupBy(norm).collect { case (k, v) if v.size > 1 => k }.toSet
    names.zipWithIndex.map { case (n, i) =>
      if (n.isEmpty) s"_c$i" else if (dup(norm(n))) s"$n$i" else n
    }
  }

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
    val lines = headLines(spark, dataFiles(spark, path), 2)
    require(lines.size == 2, s"csvTwoRowHeader: no two header lines in $path")
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

  /** Spark's file-index rule for names it never reads: `_`- and
    * `.`-prefixed names (a `_` name holding `=` is a partition
    * directory) and in-flight `._COPYING_` copies. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The files Spark's file index lists for `path` (a file, a
    * directory — recursively, through partition directories — or a
    * glob), via the Hadoop FS API so any Spark-readable filesystem
    * works. Empty when nothing matches. */
  private[graft] def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.filterNot(st => hidden(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) leaves(st.getPath) else Seq(st))
    Option(fs.globStatus(p)).toSeq.flatten
      .flatMap(st => if (st.isDirectory) leaves(st.getPath) else Seq(st))
  }

  /** The first `n` non-blank lines of the one among `files` that Spark
    * takes a CSV header from: a scan orders its splits largest file
    * first, and header inference takes the first line it meets that is
    * not all spaces, so blank lines and empty files are passed over. A
    * UTF-8 byte order mark is dropped, as Hadoop's line reader drops
    * it. Empty when no file holds a non-blank line. */
  private def headLines(spark: SparkSession, files: Seq[FileStatus], n: Int): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def firstLines(file: Path): Seq[String] = {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(file.getFileSystem(conf).open(file), "UTF-8"))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .map(_.stripPrefix("\uFEFF")).filter(_.exists(_ != ' ')).take(n).toList
      finally in.close()
    }
    files.filter(_.getLen > 0)
      .sortBy(st => (-st.getLen, st.getPath.getName))
      .iterator.map(st => firstLines(st.getPath)).find(_.nonEmpty).getOrElse(Nil)
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
