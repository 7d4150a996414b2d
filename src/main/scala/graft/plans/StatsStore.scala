package graft.plans

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{approx_count_distinct, avg, count, length, lit, max, min, struct}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, IntegerType, NumericType, StringType}

/** PERSISTED TABLE STATISTICS — the catalog-side half of the
  * cost-based optimizer surface ([[graft.queries.Scalars.q69]] is the
  * query-side ANALYZE pass; this is where its numbers live so the
  * OPTIMIZER can read them without running a job).
  *
  * The contract is Postgres's (SURVEY §4.1): statistics are WRITTEN by
  * ANALYZE alone — [[analyze]], which `graft.Analyze` calls — and only
  * READ while planning. The optimizer never writes here.
  *
  * One consumer reads the store: [[AttachSidecarStats]] (a preCBO
  * rule) folds the sidecar's (rows, NDV, nulls, avgLen/maxLen, numeric
  * min/max) into `CatalogStatistics` on every pure file scan, so join
  * reordering, broadcast-vs-SMJ selection and filter-cardinality
  * estimation read the same ANALYZE. To make the size estimates honest
  * on text-heavy tables (Spark's default string width is 20 bytes —
  * the `documents.text` column averages ~1 KB), each column entry also
  * carries nullCount and, for strings, measured avg/max byte lengths.
  *
  * Store layout: one plain-text file per table data version under
  * `spark.graft.stats.dir` (default `<user.dir>/graft-stats`), named
  * by the table's data fingerprint ([[relationFingerprint]]:
  * part-file names + total size), so overwriting a table produces a
  * NEW file and stale statistics are unreachable by construction (the
  * lock-free invalidation [[graft.sources.Versioned]] uses for
  * snapshots). Format per line:
  * `col<TAB>rows<TAB>ndv<TAB>nulls<TAB>avgLen<TAB>maxLen` and, for
  * numeric columns, two further bound fields `<TAB>min<TAB>max` (each
  * `-` when unmeasured). rows is an exact `count(1)`, ndv an
  * `approx_count_distinct` at the default rsd. Raw statistics only —
  * no thresholds.
  *
  * Concurrency: a JVM-level lock serializes read-modify-write per
  * process; cross-process races are benign (atomic temp-file rename,
  * last writer wins, and both writers hold identical deterministic
  * values for the same fingerprint). Corrupt/absent files read as
  * empty — statistics are an optimization, never a correctness input:
  * a miss just leaves Spark's size-only estimates in place.
  */
object StatsStore {

  val DIR = "spark.graft.stats.dir"

  /** One column's persisted statistics: rows and NDV, then nulls,
    * string avg/max byte lengths, and `min`/`max`, the external string
    * forms of numeric column bounds — what
    * FilterEstimation needs to price RANGE predicates (without them a
    * `BETWEEN` falls to default selectivity however selective it
    * really is). */
  final case class ColStat(n: Long, ndv: Long,
      nulls: Option[Long] = None, avgLen: Option[Long] = None,
      maxLen: Option[Long] = None,
      min: Option[String] = None, max: Option[String] = None)

  /** resolved store directory. */
  private def dir(): Path = {
    val raw = scala.util.Try(SQLConf.get.getConfString(DIR, "")).getOrElse("")
    Paths.get(if (raw.nonEmpty) raw
      else System.getProperty("user.dir", ".") + "/graft-stats")
  }

  /** fingerprint of one file-scan leaf: part-file names are
    * write-unique (UUID-suffixed) so any overwrite of the path changes
    * the fingerprint. */
  def relationFingerprint(rel: HadoopFsRelation): Long =
    scala.util.hashing.MurmurHash3
      .orderedHash(rel.location.inputFiles.toSeq)
      .toLong ^ (rel.sizeInBytes * 1000003L)

  // per-process cache of loaded store files, stamped with the sidecar
  // file's (size, mtime) at load so a MISS is re-validated against the
  // disk state on every read: an ANALYZE run by a separate process
  // (the graft.Analyze CLI) becomes visible the moment its atomic
  // rename lands, instead of being pinned invisible behind a
  // process-lifetime empty entry. Fingerprints
  // change with the data, so HIT entries never go stale; the cache
  // only grows (bounded by the distinct data versions one JVM touches).
  private val loaded = new java.util.concurrent.ConcurrentHashMap[
    Long, (Long, Map[String, ColStat])]()
  private val ioLock = new Object

  private def file(d: Path, fp: Long): Path =
    d.resolve(java.lang.Long.toHexString(fp) + ".stats")

  /** cheap freshness stamp: (size, mtime-millis) folded to one long;
    * 0 for an absent file. Reading metadata is a ns–µs stat call —
    * paid only on cache misses, never a Spark job. */
  private def stamp(p: Path): Long =
    scala.util.Try {
      if (!Files.isRegularFile(p)) 0L
      else Files.size(p) * 1000003L ^ Files.getLastModifiedTime(p).toMillis
    }.getOrElse(0L)

  private def parseLong(s: String): Option[Long] =
    if (s == "-") None else scala.util.Try(s.toLong).toOption

  private def readFile(p: Path): Map[String, ColStat] =
    if (!Files.isRegularFile(p)) Map.empty
    else scala.util.Try {
      Files.readAllLines(p, StandardCharsets.UTF_8).asScala
        .filterNot(l => l.startsWith("#") || l.isEmpty)
        .flatMap { l =>
          def str(s: String): Option[String] = if (s == "-") None else Some(s)
          l.split('\t') match {
            case Array(col, n, ndv, nulls, avgLen, maxLen) =>
              scala.util.Try(col -> ColStat(n.toLong, ndv.toLong,
                parseLong(nulls), parseLong(avgLen), parseLong(maxLen)))
                .toOption
            case Array(col, n, ndv, nulls, avgLen, maxLen, mn, mx) =>
              scala.util.Try(col -> ColStat(n.toLong, ndv.toLong,
                parseLong(nulls), parseLong(avgLen), parseLong(maxLen),
                str(mn), str(mx))).toOption
            case _ => None
          }
        }.toMap
    }.getOrElse(Map.empty)

  /** the fingerprint's full entry map, served from the stamped cache;
    * a cached MISS (no entries) re-checks the sidecar file's stamp and
    * reloads if another process wrote it since. */
  private def entries(fp: Long): Map[String, ColStat] = {
    val cached = loaded.get(fp)
    if (cached != null && cached._2.nonEmpty) return cached._2
    val p = file(dir(), fp)
    val s = stamp(p)
    if (cached != null && cached._1 == s) return cached._2
    val fromDisk = readFile(p)
    loaded.put(fp, (s, fromDisk))
    fromDisk
  }

  /** The CBO surface ([[AttachSidecarStats]]): the table's row count
    * plus every column entry, or None when the fingerprint has never
    * been analyzed. Row count = max `n` across entries (every entry of
    * one data version measured the same table, so they agree; max is
    * the safe fold if a partial file ever mixes sources). */
  def tableStats(fp: Long): Option[(Long, Map[String, ColStat])] = {
    val m = entries(fp)
    if (m.isEmpty) None else Some((m.valuesIterator.map(_.n).max, m))
  }

  /** persist one ANALYZE pass's entries for a fingerprint
    * (read-modify-write + atomic rename): entries for columns not in
    * `stats` survive. `note` lands as a comment line for humans
    * diffing the sidecar. */
  private def write(fp: Long, stats: Map[String, ColStat],
      note: String): Unit = ioLock.synchronized {
    val d = dir()
    val p = file(d, fp)
    val merged = readFile(p) ++ stats
    scala.util.Try {
      Files.createDirectories(d)
      val header =
        s"# graft table statistics v1 fingerprint=${java.lang.Long.toHexString(fp)}" +
          (if (note.nonEmpty) s"\n# $note" else "")
      def f(o: Option[Long]): String = o.fold("-")(_.toString)
      def g(o: Option[String]): String = o.getOrElse("-")
      val body = merged.toSeq.sortBy(_._1)
        .map { case (k, c) =>
          val base = s"$k\t${c.n}\t${c.ndv}\t${f(c.nulls)}\t${f(c.avgLen)}\t${f(c.maxLen)}"
          if (c.min.isEmpty && c.max.isEmpty) base
          else s"$base\t${g(c.min)}\t${g(c.max)}"
        }
        .mkString("\n")
      val tmp = Files.createTempFile(d, ".stats", ".tmp")
      Files.write(tmp, (header + "\n" + body + "\n").getBytes("UTF-8"))
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      loaded.put(fp, (stamp(p), merged))
    }
    ()
  }

  /** test hook: drop the in-process view of the store (disk is left
    * alone — delete files there to simulate an un-analyzed table). */
  private[graft] def clearLoaded(): Unit = loaded.clear()

  /** The fingerprint a DataFrame's single file-scan leaf would be
    * stored under — None when the plan has no (or several) file
    * scans. The vacuum's bridge from "table I still read" to "sidecar
    * file to keep". */
  def fingerprintOf(df: DataFrame): Option[Long] = {
    val fps = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => Some(relationFingerprint(fs))
        case _ => None
      }
    }.flatten
    if (fps.size == 1) Some(fps.head) else None
  }

  /** SIDECAR RETENTION: the store writes one file per table DATA
    * VERSION, and overwriting a table makes its old fingerprint
    * unreachable by construction — correct, but the dead file stays
    * on disk forever. vacuum() deletes every `.stats`
    * file whose fingerprint is NOT in `live` (the fingerprints of the
    * data versions the caller still reads — see
    * [[graft.Analyze]] `--vacuum`) and evicts those entries from the
    * in-process cache. Returns (deleted, failed) file names.
    *
    * Safe by the store's own contract: statistics are an
    * optimization, never a correctness input — a wrongly-deleted
    * entry costs a future measurement, not a wrong answer. Runs under
    * the same ioLock as writes, so a concurrent in-process ANALYZE
    * can't interleave; a cross-process ANALYZE racing the vacuum
    * re-creates its file (atomic rename, last writer wins — the
    * store's cross-process posture).
    *
    * A delete that throws (permissions, file held open) lands in
    * `failed` and keeps its cache entry — reporting it as deleted
    * would tell the operator retention succeeded while the stale file
    * survives every subsequent run identically. */
  def vacuum(live: Set[Long]): (Seq[String], Seq[String]) = {
    val d = dir()
    val results = ioLock.synchronized {
      if (!Files.isDirectory(d)) Seq.empty
      else {
        val keep = live.map(fp => java.lang.Long.toHexString(fp) + ".stats")
        val listing = Files.list(d)
        val stale =
          try {
            listing.iterator().asScala
              .filter { p =>
                val n = p.getFileName.toString
                n.endsWith(".stats") && !keep.contains(n)
              }
              .toVector // materialize before mutating the directory
          } finally listing.close()
        stale.map { p =>
          val name = p.getFileName.toString
          val ok = scala.util.Try { Files.delete(p); true }.getOrElse(false)
          if (ok)
            scala.util.Try(java.lang.Long.parseUnsignedLong(
              name.stripSuffix(".stats"), 16)).toOption.foreach(loaded.remove)
          (name, ok)
        }
      }
    }
    (results.collect { case (n, true) => n },
      results.collect { case (n, false) => n })
  }

  /** ANALYZE surface: measure + persist the given columns of a table
    * in ONE map-only pass — the exact row count plus, per column, an
    * HLL NDV, the null count, avg/max byte lengths for strings and
    * min/max for numerics, all in a single aggregate. `df` must be a
    * bare file scan (`spark.read.parquet(path)`); anything else has no
    * table identity to key statistics by and throws. */
  def analyze(df: DataFrame, cols: Seq[String], note: String = ""): Unit = {
    if (cols.isEmpty) return
    val fs = df.queryExecution.analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs
      case plan => throw new IllegalArgumentException(
        "analyze requires a pure file-scan plan; got:\n" + plan)
    }
    val types = cols.map(c => c -> df.schema(c).dataType).toMap
    val strings = cols.filter(types(_) == StringType).toSet
    val numerics = cols.filter(types(_).isInstanceOf[NumericType]).toSet
    // the NDV hashes a one-field struct, which counts NULL as a value
    // (a bare column's HLL skips it): the form every stored file was
    // measured with
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(approx_count_distinct(struct(df(c))).as(s"__ndv_$c"),
        count(df(c)).as(s"__nn_$c")) ++
        (if (strings(c))
          Seq(avg(length(df(c))).as(s"__avg_$c"),
            max(length(df(c))).as(s"__max_$c"))
        else Nil) ++
        (if (numerics(c))
          Seq(min(df(c)).as(s"__lo_$c"), max(df(c)).as(s"__hi_$c"))
        else Nil)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def l(name: String): Option[Long] = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None
      else row.schema(i).dataType match {
        case DoubleType => Some(math.ceil(row.getDouble(i)).toLong)
        case IntegerType => Some(row.getInt(i).toLong)
        case _ => Some(row.getLong(i))
      }
    }
    def ext(name: String): Option[String] = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None else Some(row.get(i).toString)
    }
    val n = row.getLong(0)
    val stats = cols.map { c =>
      c -> ColStat(n, l(s"__ndv_$c").get,
        nulls = l(s"__nn_$c").map(nn => n - nn),
        avgLen = if (strings(c)) l(s"__avg_$c") else None,
        maxLen = if (strings(c)) l(s"__max_$c") else None,
        min = if (numerics(c)) ext(s"__lo_$c") else None,
        max = if (numerics(c)) ext(s"__hi_$c") else None)
    }
    write(relationFingerprint(fs), stats.toMap, note)
  }
}
